"""The document-batch driver (``operators/extract.py::document_batches``)
and the five operators that run on it: spans, links, titles, pub-dates
and scored nodes."""

from __future__ import annotations

from functools import partial

import pandas as pd
import pytest

from readabilityimproved_spark.kernel.dates import DEFAULT_REF_DATE
from readabilityimproved_spark.operators import extract as E
from readabilityimproved_spark.operators import links as L
from readabilityimproved_spark.operators import textops as T

#: operator -> (per-document function, output fields after doc_id, fallback)
OPERATORS = {
    "spans": (
        partial(E._extracted_row, ref_date=DEFAULT_REF_DATE, variant="img"),
        E.EXTRACTED_FIELDS,
        E._unextracted_row,
    ),
    "links": (partial(L._outlink_rows, max_links=10_000), L.OUTLINK_FIELDS, E.no_rows),
    "titles": (T._title_row, [("title", "string")], T._null_row),
    "pub_dates": (T._pubdate_row, [("pub_date", "string")], T._null_row),
    "scores": (T._scored_rows, T.SCORED_NODE_FIELDS, E.no_rows),
}
ENTRY_POINTS = {
    "spans": E.extract_spans,
    "links": L.extract_outlinks,
    "titles": T.extract_titles,
    "pub_dates": T.extract_pub_dates,
    "scores": T.scored_dom_nodes,
}

ARTICLE = (
    "<html><head><title>A headline of some length</title></head><body>"
    '<div class="article content">'
    + "".join(
        f"<p>word{i} lorem ipsum dolor sit amet, consectetur adipiscing elit, "
        f'sed do eiusmod tempor <a href="/p{i}">incididunt</a> ut labore.</p>'
        for i in range(4)
    )
    + "</div></body></html>"
)


def _spans(page: str) -> list[dict]:
    return [{"kind": "html", "text": page, "media_ref": None, "offset": 0}]


def _run(name: str, pdf: pd.DataFrame, per_doc=None) -> pd.DataFrame:
    op_per_doc, fields, fallback = OPERATORS[name]
    columns = ["doc_id"] + [n for n, _ in fields]
    frames = E.document_batches(iter([pdf]), per_doc or op_per_doc, columns, fallback)
    return pd.concat(list(frames), ignore_index=True)


def test_document_batches_chunked_flush_yields_identical_rows(monkeypatch):
    """Output rows are buffered and flushed in bounded chunks, between
    documents only. Rows, order and values must be identical to one
    monolithic yield; peak buffered rows must stay bounded."""

    def page(i):
        return "".join(
            f'<a href="http://h{i}.example.com/p{j}">a{j}</a>' for j in range(40)
        )

    pdf = pd.DataFrame(
        {"doc_id": [f"d{i}" for i in range(100)],
         "spans": [_spans(page(i)) for i in range(100)]}
    )
    per_doc, fields, fallback = OPERATORS["links"]
    columns = ["doc_id"] + [n for n, _ in fields]
    want = pd.concat(
        list(E.document_batches(iter([pdf]), per_doc, columns, fallback)),
        ignore_index=True,
    )
    monkeypatch.setattr(E, "CHUNK_ROWS", 100)  # force many flushes (4000 links total)
    chunks = list(E.document_batches(iter([pdf]), per_doc, columns, fallback))
    assert len(chunks) > 10  # actually chunked
    assert max(len(c) for c in chunks) <= 100 + 40  # chunk + one doc
    pd.testing.assert_frame_equal(pd.concat(chunks, ignore_index=True), want)
    assert len(want) == 4000
    assert list(want["doc_id"]) == [f"d{i}" for i in range(100) for _ in range(40)]


@pytest.mark.parametrize("exc, status", [
    (ValueError, "error:ValueError"),
    (RecursionError, "recursion"),
])
@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_document_batches_isolates_a_failing_document(name, exc, status):
    """A per-document function that raises on one document costs only
    that document: the others' rows are those of a batch without it, and
    the failing one gets the operator's fallback rows."""
    pdf = pd.DataFrame(
        {"doc_id": ["a", "bad", "c"],
         "base_uri": ["http://h/2019-06/18/a.html"] * 3,
         "spans": [_spans(ARTICLE)] * 3}
    )
    real = OPERATORS[name][0]

    def per_doc(row, page, base_uri):
        if row.doc_id == "bad":
            raise exc("boom")
        return real(row, page, base_uri)

    got = _run(name, pdf, per_doc)
    want = _run(name, pdf[pdf["doc_id"] != "bad"])
    assert len(want) > 0
    pd.testing.assert_frame_equal(
        got[got["doc_id"] != "bad"].reset_index(drop=True), want
    )
    bad = got[got["doc_id"] == "bad"]
    if name == "spans":
        assert bad[["n_spans", "n_images", "top_score", "status"]].values.tolist() == [
            [0, 0, 0, status]
        ]
        assert bad["spans"].tolist() == [[]]
    elif name in ("titles", "pub_dates"):
        assert len(bad) == 1 and bad.iloc[0, 1] is None
        assert list(got["doc_id"]) == ["a", "bad", "c"]
    else:
        assert bad.empty


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_operators_keep_bigint_doc_id(spark, name):
    df = spark.range(1).selectExpr(
        "cast(7 as bigint) as doc_id",
        "'http://h/2019-06/18/a.html' as base_uri",
        "array(named_struct('kind', 'html', 'text', "
        f"'{ARTICLE}', 'media_ref', cast(null as string), 'offset', 0)) as spans",
    )
    out = ENTRY_POINTS[name](df)
    assert dict(out.dtypes)["doc_id"] == "bigint"
    rows = out.collect()
    assert rows and {r["doc_id"] for r in rows} == {7}


def test_extract_outlinks_skips_malformed_href(spark):
    """An href urlparse rejects resolves to '' and is dropped like any
    unresolvable href; the page's other links survive."""
    page = '<a href="http://[bad/x">bad</a><a href="/ok">ok</a>'
    df = spark.createDataFrame(
        [("d", "http://h/a.html", _spans(page))],
        "doc_id string, base_uri string,"
        " spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    rows = L.extract_outlinks(df).collect()
    assert [(r["link_no"], r["url"], r["anchor"]) for r in rows] == [
        (0, "http://h/ok", "ok")
    ]
