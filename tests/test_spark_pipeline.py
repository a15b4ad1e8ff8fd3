"""Spark integration: synth corpus -> extraction -> lineage/resume."""

import pytest
from pyspark.sql import functions as F

from readabilityimproved_spark.operators.extract import extract_spans, reconstruct_html
from readabilityimproved_spark.plans.pipeline import run_extraction
from readabilityimproved_spark.sources.synth import (
    make_document,
    synth_corpus_df,
    write_synth_corpus,
)

N_DOCS = 120


def test_make_document_deterministic():
    a, b = make_document(7), make_document(7)
    assert a == b
    assert a["spans"][0]["kind"] == "html"
    # giant knob: doc 100 (GIANT_EVERY=101 -> index 100) is giant
    assert len(make_document(100)["spans"]) > 10 * len(make_document(1)["spans"]) / 10


def test_reconstruct_html_orders_and_materializes_images():
    spans = [
        {"kind": "image", "text": None, "media_ref": "http://x/i.jpg", "offset": 1},
        {"kind": "html", "text": "<p>a</p>", "media_ref": None, "offset": 0},
    ]
    assert reconstruct_html(spans) == '<p>a</p><img src="http://x/i.jpg">'


def test_extract_operator_roundtrip(spark):
    df = synth_corpus_df(spark, 40, num_slices=4)
    out = extract_spans(df).cache()
    rows = out.collect()
    assert len(rows) == 40
    assert all(r["status"] == "ok" for r in rows)
    # every doc's article paragraphs survive; boilerplate classes are pruned
    some = [r for r in rows if r["n_spans"] > 0]
    assert len(some) == 40
    texts = [s["text"] for r in rows for s in r["spans"] if s["kind"] == "text"]
    assert texts and not any("most read" in (t or "") for t in texts)
    assert not any("first comment" in (t or "") for t in texts)
    # duplicate-src and data: images never emitted; offsets dense per doc
    for r in rows:
        refs = [s["media_ref"] for s in r["spans"] if s["kind"] == "image"]
        assert all("dup" not in ref and not ref.startswith("data:") for ref in refs)
        assert [s["offset"] for s in r["spans"]] == list(range(r["n_spans"]))
    out.unpersist()


def test_extraction_determinism(spark):
    df = synth_corpus_df(spark, 30, num_slices=3)
    a = {r["doc_id"]: r["spans"] for r in extract_spans(df).collect()}
    b = {r["doc_id"]: r["spans"] for r in extract_spans(df.repartition(7)).collect()}
    assert a == b  # partitioning must never change results


@pytest.fixture()
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "docs")
    write_synth_corpus(spark, N_DOCS, path)
    return path


def test_pipeline_end_to_end_and_resume(spark, corpus_path, tmp_path):
    out_full = str(tmp_path / "full")
    stats = run_extraction(
        spark, corpus_path, out_full, num_parts=64, waves=4, parallelism=8
    )
    assert stats["docs"] == N_DOCS

    full = {
        r["doc_id"]: (r["spans"], r["status"])
        for r in spark.read.parquet(out_full + "/extracted").collect()
    }
    assert len(full) == N_DOCS

    # kill after the first wave, then resume: output must equal the full run
    out_resumed = str(tmp_path / "resumed")
    stats1 = run_extraction(
        spark, corpus_path, out_resumed, num_parts=64, waves=4,
        parallelism=8, fail_after_wave=1,
    )
    assert stats1.get("failed_injected") and stats1["docs"] < N_DOCS
    stats2 = run_extraction(
        spark, corpus_path, out_resumed, num_parts=64, waves=4, parallelism=8
    )
    assert stats2["parts_skipped"] > 0  # finished partitions were not redone
    resumed = {
        r["doc_id"]: (r["spans"], r["status"])
        for r in spark.read.parquet(out_resumed + "/extracted").collect()
    }
    assert resumed == full

    # lineage covers every partition exactly once with ok status
    lineage = spark.read.parquet(out_resumed + "/lineage")
    per_part = lineage.groupBy("part").count().collect()
    assert all(r["count"] == 1 for r in per_part)
    assert lineage.agg(F.sum("doc_count")).collect()[0][0] == N_DOCS


def test_oversize_guard(spark):
    from readabilityimproved_spark.operators.extract import MAX_HTML_BYTES
    from readabilityimproved_spark.operators.links import extract_outlinks
    from readabilityimproved_spark.operators.textops import (
        extract_pub_dates,
        extract_titles,
        scored_dom_nodes,
    )

    big = "<title>t</title><a href='http://x/'>x</a>" + "x" * MAX_HTML_BYTES
    df = spark.createDataFrame(
        [("huge", [{"kind": "html", "text": big, "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    rows = extract_spans(df).collect()
    assert rows[0]["status"] == "oversize" and rows[0]["n_spans"] == 0
    # the page is never parsed: one null row for titles and dates, no
    # rows for links and scored nodes
    assert [tuple(r) for r in extract_titles(df).collect()] == [("huge", None)]
    assert [tuple(r) for r in extract_pub_dates(df).collect()] == [("huge", None)]
    assert extract_outlinks(df).collect() == []
    assert scored_dom_nodes(df).collect() == []
