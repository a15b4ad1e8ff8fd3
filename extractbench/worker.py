"""One benchmark run's Spark side, in a fresh process (as a spark-submit).

    python3 extractbench/worker.py run <config.json> <result.json>
    python3 extractbench/worker.py setup <config.json> <result.json>

``run`` builds the session with ``build_session``'s defaults (plus the
event log when tracing), makes the workload's timed job, then checks
the outputs outside the timed window. ``setup`` only times a cold
``build_session``. Both write one JSON result file; run.py reads it.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

T_IMPORT = time.time()  # before the heavy imports: the process's wall starts here
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import ledger as L  # noqa: E402
from proc import PeakRss, tree_cpu_s  # noqa: E402
from readabilityimproved_spark.operators.extract import extract_spans  # noqa: E402
from readabilityimproved_spark.operators.links import extract_outlinks  # noqa: E402
from readabilityimproved_spark.operators.textops import (  # noqa: E402
    extract_pub_dates,
    extract_titles,
)
from readabilityimproved_spark.plans.pipeline import run_extraction  # noqa: E402
from readabilityimproved_spark.plans.session import build_session  # noqa: E402

EXTRACT = "operators.extract.extract_spans"
LINKS = "operators.links.extract_outlinks"
TITLES = "operators.textops.extract_titles"
DATES = "operators.textops.extract_pub_dates"
PIPELINE = "plans.pipeline.run_extraction"
EXTRACT_COLS = ["doc_id", "part", "spans", "n_spans", "n_images", "top_score", "status"]
#: operator layer -> (entry point, output columns, one row per input doc?)
OPERATORS = {
    EXTRACT: (extract_spans, EXTRACT_COLS, True),
    LINKS: (extract_outlinks, ["doc_id", "link_no", "url", "anchor", "rel"], False),
    TITLES: (extract_titles, ["doc_id", "title"], True),
    DATES: (extract_pub_dates, ["doc_id", "pub_date"], True),
}
#: per-document output fields each operator contributes to the check
OUTPUT_KEYS = {
    EXTRACT: ("spans", "status", "n_images", "top_score"),
    LINKS: ("links",),
    TITLES: ("title",),
    DATES: ("pub_date",),
}
MISSING = "<missing from the Spark output>"


def digest_exprs(cols: list[str], sample_ids: list[str]) -> list:
    """Order-independent digest of a table: row count, and 32-bit halves
    of xxhash64 summed over rows, for the doc_id alone, the whole row,
    and the whole row of the sample documents; plus the error count."""
    row = F.xxhash64(*[F.col(c) for c in cols])
    doc = F.xxhash64(F.col("doc_id"))
    in_sample = F.col("doc_id").isin(sample_ids)

    def halves(h, name, when=None):
        lo, hi = h.bitwiseAND(F.lit(0xFFFFFFFF)), F.shiftrightunsigned(h, 32)
        if when is not None:
            lo, hi = F.when(when, lo).otherwise(0), F.when(when, hi).otherwise(0)
        return [F.sum(lo).alias(f"{name}_lo"), F.sum(hi).alias(f"{name}_hi")]

    exprs = [F.count(F.lit(1)).alias("rows")]
    exprs += halves(doc, "ids") + halves(row, "rows") + halves(row, "sample", in_sample)
    if "status" in cols:
        exprs.append(
            F.sum(F.when(F.col("status").startswith("error:"), 1).otherwise(0)).alias("errors")
        )
    return exprs


def _ints(row) -> dict[str, int]:
    """An observation (a dict) or an aggregate Row, as ints (null -> 0)."""
    values = row if isinstance(row, dict) else row.asDict()
    return {k: int(v or 0) for k, v in values.items()}


def verify_outputs(digests: dict[str, dict], inp: dict, n: int) -> tuple[list[str], int]:
    """Problems with the timed job's output digests (by layer), and its
    failed documents. Every per-document output must hold the input's
    doc_ids once each."""
    problems, failed = [], 0
    for layer, d in digests.items():
        per_doc = layer == PIPELINE or OPERATORS[layer][2]
        if per_doc and (d["rows"], d["ids_lo"], d["ids_hi"]) != (
            n, inp["ids_lo"], inp["ids_hi"]
        ):
            problems.append(f"{layer}: doc_ids are not the input's, once each")
            failed = n
        failed = max(failed, d.get("errors", 0))
    return problems, failed


class Run:
    def __init__(self, spark, cfg: dict, tracer: L.Tracer) -> None:
        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.sample = cfg["check_ids"]

    def group(self, layer: str) -> None:
        self.spark.sparkContext.setJobGroup(layer, layer)

    def read(self):
        return self.spark.read.parquet(self.cfg["input"])

    def sink(self, layer: str, df) -> dict[str, int]:
        """Run ``layer`` on ``df`` into the noop sink, observing its digest."""
        fn, cols, _ = OPERATORS[layer]
        obs = Observation(layer)
        out = fn(df).select(*cols).observe(obs, *digest_exprs(cols, self.sample))
        with self.tracer.span(layer):
            self.group(layer)
            out.write.format("noop").mode("overwrite").save()
        return _ints(obs.get)

    def job(self) -> dict:
        """The timed job; returns its output digests by layer (none for
        the pipeline, whose committed output is digested by the check)."""
        if self.cfg["workload"] == "wave-pipeline":
            with self.tracer.span(PIPELINE):
                self.group(PIPELINE)
                run_extraction(
                    self.spark, self.cfg["input"], self.out_dir(),
                    num_parts=64, waves=4, resume=False,
                )
            return {}
        self.group("sources.read")
        df = self.read()
        return {layer: self.sink(layer, df) for layer in OPERATORS}

    def out_dir(self) -> str:
        return os.path.join(self.cfg["work_dir"], "out")

    # --- checks (outside the timed window) ----------------------------------
    def check(self, digests: dict[str, dict]) -> dict:
        self.group("check")
        n = self.cfg["n_docs"]
        inp = _ints(self.read().agg(*digest_exprs(["doc_id"], self.sample)).first())
        problems: list[str] = []
        pipeline = {"wave_s": 0.0, "files_written": 0}
        if self.cfg["workload"] == "wave-pipeline":
            digests = {PIPELINE: self.check_pipeline(problems, pipeline)}
        found, failed = verify_outputs(digests, inp, n)
        problems += found
        sample_rows = self.check_sample(digests, problems)
        content = {
            layer: [d["rows"], d["rows_lo"], d["rows_hi"]] for layer, d in digests.items()
        }
        return {
            "problems": problems,
            "failed_docs": failed,
            "digest": hashlib.sha256(
                json.dumps(content, sort_keys=True).encode()
            ).hexdigest()[:16],
            "sample_rows": sample_rows,
            "pipeline": pipeline,
        }

    def check_pipeline(self, problems: list[str], acc: dict) -> dict[str, int]:
        out = self.out_dir()
        committed = self.spark.read.parquet(os.path.join(out, "extracted"))
        d = _ints(committed.select(*EXTRACT_COLS).agg(*digest_exprs(EXTRACT_COLS, self.sample)).first())
        lineage = self.spark.read.parquet(os.path.join(out, "lineage"))
        ok = [r["part"] for r in lineage.filter(F.col("status") == "ok").select("part").collect()]
        parts = sorted(
            int(name[5:]) for name in os.listdir(self.cfg["input"]) if name.startswith("part=")
        )
        if sorted(ok) != parts:
            problems.append("lineage is not one ok row per input part")
        waves = lineage.select("attempt", "wave", "wall_ms").distinct().collect()
        acc["wave_s"] = sum(r["wall_ms"] for r in waves) / 1e3
        acc["files_written"] = sum(
            name.endswith(".parquet")
            for _, _, files in os.walk(os.path.join(out, "extracted"))
            for name in files
        )
        return d

    def check_sample(self, timed: dict, problems: list[str]) -> dict:
        """Per-document Spark-path outputs of the check sample, from the
        operators the workload ran, for run.py to compare with the
        in-process replay; the timed job's sample digests must match the
        same operators rerun on the sample alone."""
        df = self.read().filter(F.col("doc_id").isin(self.sample))
        layers = [layer for layer in OPERATORS if layer in timed]
        if PIPELINE in timed:
            layers, timed = [EXTRACT], {EXTRACT: timed[PIPELINE]}
        rows: dict[str, dict] = {doc_id: {} for doc_id in self.sample}
        for layer in layers:
            fn, cols, _ = OPERATORS[layer]
            for rec in rows.values():  # a doc the output lacks stays MISSING
                rec.update(dict.fromkeys(OUTPUT_KEYS[layer], MISSING))
                if layer == LINKS:
                    rec["links"] = []
            obs = Observation(f"check-{layer}")
            out = fn(df).select(*cols).observe(obs, *digest_exprs(cols, self.sample))
            for r in out.collect():
                rec = rows[r["doc_id"]]
                if layer == LINKS:
                    rec["links"].append([r["link_no"], r["url"], r["anchor"], r["rel"]])
                elif layer == EXTRACT:
                    rec.update({k: r[k] for k in OUTPUT_KEYS[layer]})
                    rec["spans"] = [list(s) for s in r["spans"]]
                else:
                    rec[cols[1]] = r[cols[1]]
            got, ref = _ints(obs.get), timed[layer]
            if (got["sample_lo"], got["sample_hi"]) != (ref["sample_lo"], ref["sample_hi"]):
                problems.append(f"{layer}: timed output of the sample differs from a rerun")
        for rec in rows.values():
            rec.get("links", []).sort(key=lambda x: x[0])
        return rows


def layer_metrics(events: list[dict], cfg: dict, wall_s: float) -> tuple[dict, dict]:
    """(per-layer metrics from Spark's event log, task run times by stage).
    Job groups name the layer the benchmark called."""
    led = L.spark_ledger(events)
    timed = tuple(OPERATORS) + (PIPELINE, "sources.read")
    extract = (EXTRACT, PIPELINE)

    def py(groups, metric, scale):
        return L.sql_sum(led, groups, "MapInPandas", metric) / scale

    tasks = L.task_stats(led, timed)
    sent_all = py(timed, L.PY_SENT, 1.0)
    sent_one = py(extract, L.PY_SENT, 1.0)
    return {
        "plans.preload_daemon.boot_s": py(timed, L.PY_BOOT, 1e3),
        "plans.preload_daemon.init_s": py(timed, L.PY_INIT, 1e3),
        "operators.extract.python_s": py(extract, L.PY_TOTAL, 1e3),
        "operators.extract.arrow_sent_mb": sent_one / 1e6,
        "operators.extract.arrow_recv_mb": py(extract, L.PY_RECV, 1e6),
        "operators.links.python_s": py((LINKS,), L.PY_TOTAL, 1e3),
        "operators.textops.title_python_s": py((TITLES,), L.PY_TOTAL, 1e3),
        "operators.textops.pubdate_python_s": py((DATES,), L.PY_TOTAL, 1e3),
        "operators.boundary_passes": sent_all / sent_one if sent_one else 0.0,
        "jvm.tasks": tasks["tasks"],
        "jvm.task_busy_share": tasks["run_s"] / (cfg["cores"] * wall_s),
        "jvm.task_skew": tasks["skew"],
        "jvm.gc_s": tasks["gc_s"],
        "jvm.scan_s": L.sql_sum(led, timed, "Scan parquet", "scan time") / 1e3,
        "jvm.shuffle_write_mb": tasks["shuffle_write_mb"],
        "jvm.spill_mb": tasks["spill_mb"],
        "plans.pipeline.spark_jobs": led["jobs"].get(PIPELINE, 0),
    }, tasks["stage_task_ms"]


def run(cfg: dict) -> dict:
    tracer = L.Tracer(cfg["run_id"])
    extra = None
    if cfg["trace"]:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + cfg["event_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    with tracer.span("worker"):
        t = time.perf_counter()
        with tracer.span("plans.session.build_session"):
            spark = build_session(extra_conf=extra) if extra else build_session()
        setup_s = time.perf_counter() - t
        bench = Run(spark, cfg, tracer)
        me = os.getpid()
        rss = PeakRss(me).start()
        cpu0, t0 = tree_cpu_s(me), time.perf_counter()
        with tracer.span("job"):
            digests = bench.job()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(me) - cpu0
        peak = rss.stop()
        t = time.perf_counter()
        with tracer.span("check"):
            checks = bench.check(digests)
        checks["check_s"] = time.perf_counter() - t
        with tracer.span("spark.stop"):
            spark.stop()
    result = {"setup_s": setup_s, "wall_s": wall, "cpu_s": cpu, "peak_rss_mb": peak,
              "checks": checks}
    if cfg["trace"]:
        layers, stage_task_ms = layer_metrics(L.read_event_log(cfg["event_dir"]), cfg, wall)
        layers.update(
            {
                "plans.pipeline.wave_s": checks["pipeline"]["wave_s"],
                "plans.pipeline.run_extraction_s": wall
                if cfg["workload"] == "wave-pipeline" else 0.0,
                "plans.pipeline.files_written": checks["pipeline"]["files_written"],
            }
        )
        layers["plans.pipeline.bookkeeping_s"] = (
            layers["plans.pipeline.run_extraction_s"] - layers["plans.pipeline.wave_s"]
        )
        # the worker span's phases against the process's wall since import
        phases = [s for s in tracer.spans if s["parent"] == 0]
        layers["trace.span_coverage"] = sum(s["end"] - s["start"] for s in phases) / (
            time.time() - T_IMPORT
        )
        result.update(layers=layers, spans=tracer.spans, stage_task_ms=stage_task_ms)
    return result


def setup(cfg: dict) -> dict:
    t = time.perf_counter()
    spark = build_session()
    setup_s = time.perf_counter() - t
    spark.stop()
    return {"setup_s": setup_s}


def main(argv: list[str]) -> int:
    mode, cfg_path, out_path = argv
    with open(cfg_path) as f:
        cfg = json.load(f)
    try:
        result = run(cfg) if mode == "run" else setup(cfg)
        code = 0
    except Exception:
        result = {"error": traceback.format_exc()}
        code = 1
    with open(out_path, "w") as f:
        json.dump(result, f)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
