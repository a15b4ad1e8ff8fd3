"""In-process replay of sample documents through the kernel's public
functions: the reference outputs the Spark path must match, and (when
timed) the per-function latency samples of the ledger."""

from __future__ import annotations

import time

import pyarrow.parquet as pq

from readabilityimproved_spark.dom import parse
from readabilityimproved_spark.kernel.dates import DEFAULT_REF_DATE
from readabilityimproved_spark.kernel.htmldates import date_from_html
from readabilityimproved_spark.kernel.readability import (
    ReadabilityKernel,
    extract_document,
)
from readabilityimproved_spark.kernel.title import get_title
from readabilityimproved_spark.operators.extract import MAX_HTML_BYTES, reconstruct_html

#: the ``extract_outlinks`` default fan-out cap
MAX_LINKS = 10_000


def load_docs(input_dir: str, doc_ids: list[str]) -> list[dict]:
    table = pq.read_table(
        input_dir,
        columns=["doc_id", "base_uri", "spans"],
        filters=[("doc_id", "in", doc_ids)],
    )
    return sorted(table.to_pylist(), key=lambda d: d["doc_id"])


def _links(doc) -> list[list]:
    """The ``extract_outlinks`` anchor walk over an already parsed page."""
    out = []
    for a in doc.get_elements_by_tag("a", include_self=False):
        if len(out) >= MAX_LINKS:
            break
        url = a.abs_url("href") if a.attr("href") else ""
        if url:
            out.append([len(out), url, a.text(), a.attr("rel")])
    return out


def replay_doc(d: dict, times: dict[str, list[float]] | None = None) -> dict:
    """Reference outputs of one document; appends per-phase milliseconds
    to ``times`` when given."""

    def timed(name, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        if times is not None:
            times.setdefault(name, []).append((time.perf_counter() - t) * 1e3)
        return out

    base = d["base_uri"] if isinstance(d["base_uri"], str) else ""
    html = timed("operators.extract.reconstruct_html", reconstruct_html, d["spans"] or [])
    if times is not None:
        times.setdefault("html_kb", []).append(len(html) / 1024)
    oversize = len(html) > MAX_HTML_BYTES
    links = [] if oversize else _links(timed("dom.parse", parse, html, base))
    try:
        kernel = timed(
            "kernel.readability.ReadabilityKernel",
            ReadabilityKernel, html, base, DEFAULT_REF_DATE, "img",
        )
        timed("kernel.readability.prep_document", kernel.prep_document)
        timed("kernel.readability.grab_article", kernel.grab_article, False)
    except RecursionError:  # extract_document reports these as 'oversize'
        pass
    res = timed(
        "kernel.readability.extract_document",
        extract_document, html, base, DEFAULT_REF_DATE, "img",
    )
    date = timed("kernel.htmldates.date_from_html", date_from_html, html, None, DEFAULT_REF_DATE)
    title = timed("kernel.title.get_title", get_title, html, base)
    return {
        "spans": [] if oversize else [list(s) for s in res.spans],
        "status": "oversize" if oversize else res.status,
        "n_images": 0 if oversize else len(res.images),
        "top_score": 0 if oversize else res.top_content_score,
        "title": title,
        "pub_date": date,
        "links": links,
    }


def compare(spark_rows: dict[str, dict], refs: dict[str, dict]) -> list[str]:
    """Mismatches between the Spark path's per-document outputs (the
    fields of the operators a workload ran) and the in-process reference
    outputs; empty when they agree."""
    problems = []
    for doc_id, want in sorted(refs.items()):
        got = spark_rows.get(doc_id)
        if got is None:
            problems.append(f"{doc_id}: missing from the Spark outputs")
            continue
        problems += [
            f"{doc_id}: {key} differs from in-process"
            for key, value in got.items()
            if want[key] != value
        ]
    return problems
