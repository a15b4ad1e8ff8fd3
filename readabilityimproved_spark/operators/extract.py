"""The extraction operator: spans-in -> spans-out as one fused Arrow kernel.

Spark mapping of the reference's whole per-document pipeline
(Extractor.main driving ReadabilityForImg.init, Extractor.java:77-130):
a single ``mapInPandas`` stage so every DOM operator (P*/C*/A*/I*,
SURVEY.md §2) runs tree-at-a-time inside one Arrow batch — columnar at
the boundary, scalar kernel inside, zero per-row Python at the Spark
layer (BASELINE.json: "no per-row Python anywhere").

Input:  doc_id (any type), spans array<struct<kind,text,media_ref,offset>>,
        optional base_uri string, optional part int (passed through).
Output: doc_id, part, spans (extracted), n_spans, n_images, top_score,
        status.

``document_batches`` is the one document loop behind this operator and
those in ``links.py`` and ``textops.py``.

Why mapInPandas and not pandas_udf: the kernel returns a variable-length
nested array per doc plus metrics columns; an iterator of DataFrames also
lets one batch of giant documents stream through without concat-ing the
whole partition.
"""

from __future__ import annotations

import datetime as dt
import html
from collections.abc import Callable, Iterator
from functools import partial

import pandas as pd

from ..kernel.dates import DEFAULT_REF_DATE
from ..kernel.readability import doc_status, extract_document

#: documents whose reconstructed HTML exceeds this are not parsed at all
#: (status='oversize'); protects executor memory/CPU from pathological
#: inputs at 10^12-doc scale (SURVEY.md §7)
MAX_HTML_BYTES = 20 * 1024 * 1024

#: flush the buffered output rows to a DataFrame once this many are
#: buffered: bounds the per-batch Python list at O(chunk + one doc's
#: rows) instead of O(batch rows x rows per doc)
CHUNK_ROWS = 20_000

#: per-document work of an operator: (row, html, base_uri) -> output rows
#: as tuples of the columns after doc_id
PerDoc = Callable[[tuple, str, str], list[tuple]]
#: rows of a document the driver could not hand to ``PerDoc``: (row, status)
Fallback = Callable[[tuple, str], list[tuple]]


def reconstruct_html(spans: list[dict]) -> str:
    """Rebuild the page from its span sequence (offset order).

    kind='html'/'text' spans contribute their text; kind='image' spans
    (bare media attachments) materialize as plain ``<img src=...>`` tags
    so the kernel sees them in document position.
    """
    parts = []
    for span in sorted(spans, key=lambda s: s["offset"] if s["offset"] is not None else 0):
        kind = span.get("kind")
        if kind == "image":
            ref = span.get("media_ref") or ""
            # escape the attribute value: a '"' or '>' inside the ref would
            # otherwise truncate the tag and silently distort extraction
            parts.append(f'<img src="{html.escape(ref, quote=True)}">')
        else:
            parts.append(span.get("text") or "")
    return "".join(parts)


def no_rows(row: tuple, status: str) -> list[tuple]:
    """Fallback of operators that emit nothing for a failed document."""
    return []


def document_batches(
    batches: Iterator[pd.DataFrame],
    per_doc: PerDoc,
    columns: list[str],
    fallback: Fallback,
) -> Iterator[pd.DataFrame]:
    """The one per-document loop of every document operator.

    For each row of documents(doc_id, spans[, base_uri, ...]): rebuild
    the page, normalize a null ``base_uri`` to '', and hand both to
    ``per_doc``. A page over ``MAX_HTML_BYTES`` is never parsed, and an
    exception in ``per_doc`` stays with its document; either way the
    document's rows are ``fallback(row, status)`` with status
    'oversize', 'recursion' or 'error:<Type>'. Output rows are prefixed
    with the input's doc_id and flushed between documents only, so they
    stay in emit order and one document's rows never split across frames.
    """
    for pdf in batches:
        rows = []
        for row in pdf.itertuples(index=False):
            if len(rows) >= CHUNK_ROWS:
                yield pd.DataFrame(rows, columns=columns)
                rows = []
            spans = row.spans
            page = reconstruct_html([dict(s) for s in spans] if spans is not None else [])
            base_uri = getattr(row, "base_uri", "")
            if not isinstance(base_uri, str):  # None/NaN from null columns
                base_uri = ""
            if len(page) > MAX_HTML_BYTES:
                out = fallback(row, "oversize")
            else:
                try:
                    out = per_doc(row, page, base_uri)
                except Exception as exc:  # one bad doc never kills a batch
                    out = fallback(row, doc_status(exc))
            rows.extend((row.doc_id, *r) for r in out)
        yield pd.DataFrame(rows, columns=columns)


def map_documents(df, per_doc: PerDoc, fields: list[tuple[str, str]], fallback: Fallback):
    """``df.mapInPandas`` over ``document_batches``: the output is
    doc_id, in the input's type, then ``fields`` as (name, DDL type)."""
    fields = [("doc_id", df.schema["doc_id"].dataType.simpleString()), *fields]
    kernel = partial(
        document_batches,
        per_doc=per_doc,
        columns=[name for name, _ in fields],
        fallback=fallback,
    )
    return df.mapInPandas(kernel, schema=", ".join(f"{n} {t}" for n, t in fields))


EXTRACTED_FIELDS = [
    ("part", "int"),
    ("spans", "array<struct<kind:string,text:string,media_ref:string,offset:int>>"),
    ("n_spans", "int"),
    ("n_images", "int"),
    ("top_score", "int"),
    ("status", "string"),
]


def _part(row) -> int:
    part = getattr(row, "part", None)
    return int(part) if not pd.isna(part) else -1


def _extracted_row(row, page: str, base_uri: str, ref_date: dt.datetime, variant: str):
    result = extract_document(page, base_uri=base_uri, ref_date=ref_date, variant=variant)
    return [
        (
            _part(row),
            [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for (k, t, m, o) in result.spans
            ],
            len(result.spans),
            len(result.images),
            # the reference's scored-DOM intermediate distilled to its
            # decisive number (top candidate content score, cf.
            # test/newsHTML.txt golden dump)
            result.top_content_score,
            result.status,
        )
    ]


def _unextracted_row(row, status: str):
    return [(_part(row), [], 0, 0, 0, status)]


def extract_spans(df, ref_date: dt.datetime = DEFAULT_REF_DATE, variant: str = "img"):
    """documents(doc_id, spans[, base_uri, part]) -> extracted table."""
    per_doc = partial(_extracted_row, ref_date=ref_date, variant=variant)
    return map_documents(df, per_doc, EXTRACTED_FIELDS, _unextracted_row)
