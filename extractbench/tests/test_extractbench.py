"""Tests of the benchmark itself: the metric and ledger schema, input
determinism, and the output checks catching a tampered output.

    python3 -m pytest extractbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import inputs  # noqa: E402
import ledger  # noqa: E402
import replay  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: every metric the benchmark promises, with its unit
END_TO_END = {
    "docs_per_s": "1/s",
    "setup_s": "s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
    "delivered_doc_share": "share",
}
PER_LAYER = {
    "plans.preload_daemon.boot_s": "s",
    "plans.preload_daemon.init_s": "s",
    "operators.extract.python_s": "s",
    "operators.extract.arrow_sent_mb": "MB",
    "operators.extract.arrow_recv_mb": "MB",
    "operators.extract.kernel_share": "share",
    "operators.links.python_s": "s",
    "operators.textops.title_python_s": "s",
    "operators.textops.pubdate_python_s": "s",
    "operators.boundary_passes": "count",
    "dom.parse_ms_p50": "ms",
    "dom.parse_ms_p99": "ms",
    "operators.extract.reconstruct_html_ms_p50": "ms",
    "kernel.readability.prep_document_ms_p50": "ms",
    "kernel.readability.grab_article_ms_p50": "ms",
    "kernel.readability.extract_document_ms_p50": "ms",
    "kernel.readability.extract_document_ms_p99": "ms",
    "kernel.htmldates.date_from_html_ms_p50": "ms",
    "kernel.htmldates.date_from_html_ms_p99": "ms",
    "kernel.htmldates.ms_per_kb_max": "ms/KB",
    "kernel.title.get_title_ms_p50": "ms",
    "jvm.tasks": "count",
    "jvm.task_busy_share": "share",
    "jvm.task_skew": "ratio",
    "jvm.gc_s": "s",
    "jvm.scan_s": "s",
    "jvm.shuffle_write_mb": "MB",
    "jvm.spill_mb": "MB",
    "plans.pipeline.wave_s": "s",
    "plans.pipeline.bookkeeping_s": "s",
    "plans.pipeline.run_extraction_s": "s",
    "plans.pipeline.spark_jobs": "count",
    "plans.pipeline.files_written": "count",
    "replay.docs": "count",
    "trace.span_coverage": "share",
    "trace.overhead": "share",
}


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- schema ------------------------------------------------------------------


def test_benchmark_json_schema(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert bench["command"] == ["python3", "extractbench/run.py"]
    assert bench["paths"] == ["extractbench"]
    assert 1 <= bench["run_seconds"] <= 60
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in bench[key]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in WORKLOADS
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and unit.match(m["unit"])
        assert m["better"] in ("higher", "lower") and 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_metric_names_and_units_are_pinned(bench):
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert run.END_TO_END == END_TO_END
    assert run.PER_LAYER == PER_LAYER


def _task_end(stage: int, accums: list[tuple[int, int]], run_ms: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": a, "Update": str(v)} for a, v in accums]},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1},
    }


def _python_node(base: int) -> dict:
    names = [ledger.PY_SENT, ledger.PY_RECV, ledger.PY_BOOT, ledger.PY_INIT, ledger.PY_TOTAL]
    return {
        "nodeName": "MapInPandas",
        "metrics": [{"name": n, "accumulatorId": base + k, "metricType": "x"} for k, n in enumerate(names)],
        "children": [{"nodeName": "Scan parquet ", "children": [],
                      "metrics": [{"name": "scan time", "accumulatorId": base + 9, "metricType": "timing"}]}],
    }


def test_ledger_schema_and_boundary_passes():
    """One SQL execution per operator, each sending the same bytes to
    Python: the ledger has every Spark-side metric and counts 4 passes."""
    events = []
    for k, layer in enumerate(worker.OPERATORS):
        base = 100 * (k + 1)
        events += [
            {"Event": "SparkListenerJobStart", "Stage IDs": [k, 99],
             "Properties": {"spark.jobGroup.id": layer, "spark.sql.execution.id": str(k)}},
            {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
             "executionId": k, "sparkPlanInfo": _python_node(base)},
            _task_end(k, [(base, 1000), (base + 1, 10), (base + 4, 2000), (base + 9, 5)], 300),
            _task_end(k, [(base, 1000), (base + 1, 10), (base + 4, 3000), (base + 9, 5)], 600),
            _task_end(99, [], 5 + k),  # a short commit-like stage: not a straggler
        ]
    cfg = {"cores": 4}
    layers, stages = worker.layer_metrics(events, cfg, wall_s=1.0)
    assert stages == {**{k: [300, 600] for k in range(4)}, 99: [5, 6, 7, 8]}
    spark_side = {
        k for k in PER_LAYER if k.split(".")[0] in ("jvm", "operators", "plans") and "_ms_" not in k
    }
    assert spark_side - set(layers) == {
        "operators.extract.kernel_share",  # needs the replay: added by run.py
        "plans.pipeline.wave_s",  # read from the committed lineage
        "plans.pipeline.bookkeeping_s",
        "plans.pipeline.run_extraction_s",
        "plans.pipeline.files_written",
    }
    assert set(layers) <= set(PER_LAYER)
    assert layers["operators.boundary_passes"] == 4.0
    assert layers["operators.extract.python_s"] == 5.0
    assert layers["operators.extract.arrow_sent_mb"] == 2000 / 1e6
    assert layers["jvm.tasks"] == 12
    assert layers["jvm.task_skew"] == 600 / 450
    assert layers["jvm.scan_s"] == 40 / 1e3


def test_replay_metrics_schema():
    times: dict[str, list[float]] = {}
    doc = inputs.make_docs(inputs.InputSpec("partitioned", n_docs=3), seed=1)[0]
    replay.replay_doc(doc, times)
    got = run._replay_metrics(times)
    assert set(got) <= set(PER_LAYER)
    assert got["replay.docs"] == 1 and got["dom.parse_ms_p50"] > 0


def test_self_times_subtract_children():
    spans = [
        {"name": "job", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "b", "start": 4.0, "end": 9.0, "parent": 0},
    ]
    assert ledger.self_times(spans) == {"job": 2.0, "a": 3.0, "b": 5.0}


# --- inputs --------------------------------------------------------------------


def _tree_hash(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "spec",
    [
        inputs.InputSpec("partitioned", n_docs=202),
        inputs.InputSpec("giant_clustered", n_docs=202, n_files=4, hostile_share=0.02),
    ],
    ids=lambda s: s.layout,
)
def test_inputs_are_byte_identical_per_seed(tmp_path, spec):
    a = inputs.ensure_inputs(spec, 7, "w", str(tmp_path / "a"))
    b = inputs.ensure_inputs(spec, 7, "w", str(tmp_path / "b"))
    c = inputs.ensure_inputs(spec, 8, "w", str(tmp_path / "c"))
    assert _tree_hash(a) and _tree_hash(a) == _tree_hash(b)
    assert _tree_hash(a) != _tree_hash(c)
    assert inputs.ensure_inputs(spec, 7, "w", str(tmp_path / "a")) == a  # cached


def test_seed_changes_doc_ids_and_texts():
    spec = inputs.InputSpec("giant_clustered", n_docs=202, hostile_share=0.02)
    one, two = inputs.make_docs(spec, 1), inputs.make_docs(spec, 2)
    assert not {d["doc_id"] for d in one} & {d["doc_id"] for d in two}
    texts = lambda docs: {s["text"] for d in docs for s in d["spans"] if s["text"]}  # noqa: E731
    assert texts(one) != texts(two)
    kinds = inputs.doc_kinds(spec, 1)
    assert sum(k == "giant" for k in kinds.values()) == 2
    assert sum(k == "hostile" for k in kinds.values()) == 4
    assert [d["doc_id"] for d in one] == list(kinds)


def test_every_seed_gets_the_same_giant_sizes():
    """doc_indices predicts make_document's paragraph counts: the giants
    of any seed cycle through 300..1200 paragraphs."""
    from readabilityimproved_spark.sources.synth import make_document

    spec = inputs.InputSpec("partitioned", n_docs=2020)
    for seed in (1, 2):
        giants = [i for i in inputs.doc_indices(spec, seed) if inputs.is_giant(i)]
        paragraphs = [
            sum((s["text"] or "").startswith("<p>") for s in make_document(i)["spans"])
            for i in giants
        ]
        assert paragraphs == [100 * (3 + k % 10) for k in range(20)]


def test_giants_share_one_row_group(tmp_path):
    import pyarrow.parquet as pq

    spec = inputs.InputSpec("giant_clustered", n_docs=404, n_files=4)
    path = inputs.ensure_inputs(spec, 3, "w", str(tmp_path))
    meta = pq.ParquetFile(os.path.join(path, "part-00000.parquet")).metadata
    kinds = inputs.doc_kinds(spec, 3)
    assert meta.num_row_groups == 1
    assert meta.num_rows == sum(k == "giant" for k in kinds.values()) == 4


# --- output checks -------------------------------------------------------------


def _digest(rows: int, lo: int = 5, ids: tuple[int, int] = (1, 2)) -> dict:
    return {"rows": rows, "ids_lo": ids[0], "ids_hi": ids[1], "rows_lo": lo, "rows_hi": 6,
            "sample_lo": 7, "sample_hi": 8, "errors": 0}


def test_verify_accepts_matching_outputs():
    inp = {"ids_lo": 1, "ids_hi": 2}
    assert worker.verify_outputs({worker.EXTRACT: _digest(10)}, inp, 10) == ([], 0)


@pytest.mark.parametrize(
    "tampered, why",
    [
        (_digest(9), "a document is missing"),
        (_digest(10, ids=(1, 3)), "a doc_id is replaced or duplicated"),
    ],
)
def test_verify_rejects_tampered_outputs(tampered, why):
    inp = {"ids_lo": 1, "ids_hi": 2}
    problems, failed = worker.verify_outputs({worker.EXTRACT: tampered}, inp, 10)
    assert problems and failed == 10, why


def test_verify_counts_error_statuses_as_failed():
    inp = {"ids_lo": 1, "ids_hi": 2}
    digest = dict(_digest(10), errors=3)
    assert worker.verify_outputs({worker.EXTRACT: digest}, inp, 10) == ([], 3)


def test_replay_compare_catches_a_changed_field():
    doc = inputs.make_docs(inputs.InputSpec("partitioned", n_docs=2), seed=4)[0]
    ref = replay.replay_doc(doc)
    assert replay.compare({doc["doc_id"]: dict(ref)}, {doc["doc_id"]: ref}) == []
    tampered = dict(ref, title="not the title")
    assert replay.compare({doc["doc_id"]: tampered}, {doc["doc_id"]: ref})
    missing = dict(ref, spans=worker.MISSING)
    assert replay.compare({doc["doc_id"]: missing}, {doc["doc_id"]: ref})


def test_digest_store_flags_a_changed_digest(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "STATE", str(tmp_path))
    assert run._digest_store("k", "abc") is None
    assert run._digest_store("k", "abc") is None
    assert run._digest_store("k", "abd")


def test_code_revision_follows_the_package_source(tmp_path, monkeypatch):
    """Digests are keyed by the code revision: a changed package file
    gives a new key, a changed test or cache file does not."""
    for rel in ("readabilityimproved_spark/a.py", "extractbench/run.py", "extractbench/tests/t.py"):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text("x = 1\n")
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    first = run.code_revision()
    (tmp_path / "extractbench/tests/t.py").write_text("x = 2\n")
    assert run.code_revision() == first
    (tmp_path / "readabilityimproved_spark/a.py").write_text("x = 2\n")
    assert run.code_revision() != first


def test_spark_digest_sees_one_changed_span(tmp_path):
    """The Spark digest expressions: same rows in another order read the
    same; one changed span text does not."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    try:
        rows = [(f"d{i}", 0, [("html", f"text {i}", None, 0)], 1, 0, 0, "ok") for i in range(20)]
        schema = ("doc_id string, part int, spans array<struct<kind:string,text:string,"
                  "media_ref:string,offset:int>>, n_spans int, n_images int, top_score int, status string")

        def digest(data):
            df = spark.createDataFrame(data, schema)
            exprs = worker.digest_exprs(worker.EXTRACT_COLS, ["d3"])
            return worker._ints(df.agg(*exprs).first())

        base = digest(rows)
        assert digest(list(reversed(rows))) == base
        changed = list(rows)
        changed[3] = (*rows[3][:2], [("html", "text 3!", None, 0)], *rows[3][3:])
        other = digest(changed)
        assert (other["rows_lo"], other["rows_hi"]) != (base["rows_lo"], base["rows_hi"])
        assert (other["sample_lo"], other["sample_hi"]) != (base["sample_lo"], base["sample_hi"])
        assert (other["ids_lo"], other["ids_hi"]) == (base["ids_lo"], base["ids_hi"])
    finally:
        spark.stop()
