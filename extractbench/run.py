"""Extraction benchmark: one workload, one seed, one cold Spark process.

    python3 extractbench/run.py --workload wave-pipeline --seed 1 --seconds 20 --trace 0

Generates (or reuses) the seeded inputs, runs the workload's job once in
a fresh worker process (worker.py) on ``local[min(4, nproc)]``, times
``build_session`` again in a fresh process, checks every output, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ledger with ``--trace 1``. Lines before it
carry the job's wall and CPU, the setup samples, the output digest, the
check results and the host-noise label. ``--seconds`` is accepted and
not used: a run is one cold job, whatever its length. State (inputs,
logs, traces, digests) lives in ``.extractbench/`` at the repository
root.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".extractbench")
sys.path[:0] = [HERE, ROOT]

#: cold ``build_session`` samples per run: the worker's own plus probes
SETUP_SAMPLES = 2
#: documents replayed in-process on a traced run (>= 1000: ten beyond p99)
REPLAY_DOCS = 1000
#: the check sample, drawn from the replay sample
CHECK_NORMAL, CHECK_GIANT, CHECK_HOSTILE = 24, 2, 3
#: a run plans to end within this many seconds (the hard limit is 180)
RUN_BUDGET_S = 165
MAX_CORES = 4

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


def _become_subreaper() -> None:
    """Orphaned descendants (a JVM outliving the process that started it)
    are re-parented to this process, so they can be waited for and none
    is left behind."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap_descendants(grace_s: float = 15.0) -> None:
    """Wait for every remaining descendant; kill those still alive after
    ``grace_s``."""
    from proc import tree_pids

    deadline = time.time() + grace_s
    while time.time() < deadline + 5:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _worker(mode: str, cfg: dict, run_dir: str, tag: str, timeout_s: float) -> dict:
    cfg_path = os.path.join(run_dir, f"{tag}.cfg.json")
    out_path = os.path.join(run_dir, f"{tag}.result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's scratch, Python's and the JVM's temp files in the checkout
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(cfg["cores"]),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    with open(os.path.join(run_dir, f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), mode, cfg_path, out_path],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(timeout_s, 1))
        except subprocess.TimeoutExpired:
            pass
        finally:  # a timeout, or this process being stopped
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    _reap_descendants()
    if not os.path.exists(out_path):
        return {"error": f"{mode} worker exited {proc.returncode} without a result"}
    with open(out_path) as f:
        return json.load(f)


def _samples(wl, seed: int, trace: bool) -> tuple[list[str], list[str]]:
    """(replay sample, check sample): seeded, giants and hostile pages in
    the workload's proportion."""
    from inputs import doc_kinds

    kinds = doc_kinds(wl.inputs, seed)
    rng = random.Random(seed ^ 0x5EED)
    by_kind = {k: sorted(d for d, v in kinds.items() if v == k) for k in ("normal", "giant", "hostile")}
    size = min(REPLAY_DOCS, len(kinds))
    replay = []
    for k, ids in by_kind.items():
        replay += rng.sample(ids, round(size * len(ids) / len(kinds)))
    check = []
    for k, n in (("normal", CHECK_NORMAL), ("giant", CHECK_GIANT), ("hostile", CHECK_HOSTILE)):
        pool = sorted(d for d in replay if kinds[d] == k)
        check += rng.sample(pool, min(n, len(pool)))
    return sorted(replay if trace else check), sorted(check)


def _replay_metrics(times: dict[str, list[float]]) -> dict:
    from ledger import percentile

    def p(name, q):
        return percentile(times[name], q)

    date_per_kb = [ms / max(kb, 1e-3) for ms, kb in zip(times["kernel.htmldates.date_from_html"], times["html_kb"])]
    return {
        "dom.parse_ms_p50": p("dom.parse", 50),
        "dom.parse_ms_p99": p("dom.parse", 99),
        "operators.extract.reconstruct_html_ms_p50": p("operators.extract.reconstruct_html", 50),
        "kernel.readability.prep_document_ms_p50": p("kernel.readability.prep_document", 50),
        "kernel.readability.grab_article_ms_p50": p("kernel.readability.grab_article", 50),
        "kernel.readability.extract_document_ms_p50": p("kernel.readability.extract_document", 50),
        "kernel.readability.extract_document_ms_p99": p("kernel.readability.extract_document", 99),
        "kernel.htmldates.date_from_html_ms_p50": p("kernel.htmldates.date_from_html", 50),
        "kernel.htmldates.date_from_html_ms_p99": p("kernel.htmldates.date_from_html", 99),
        "kernel.htmldates.ms_per_kb_max": max(date_per_kb),
        "kernel.title.get_title_ms_p50": p("kernel.title.get_title", 50),
        "replay.docs": len(times["dom.parse"]),
    }


def code_revision() -> str:
    """Hash of the source the outputs depend on: the package, the Spark
    entry point and the benchmark itself."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("readabilityimproved_spark", "extractbench"):
        for dirpath, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d not in ("__pycache__", "tests"))
            files += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        if os.path.exists(path):
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def _digest_store(key: str, digest: str) -> str | None:
    """Record the first digest seen for ``key`` (code revision, workload,
    seed, size); return a problem when a later run of the same key
    disagrees."""
    path = os.path.join(STATE, "digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key in seen:
        return None if seen[key] == digest else f"digest {digest} != {seen[key]} of an earlier run"
    seen[key] = digest
    with open(path, "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    return None


def end_to_end(res: dict, setups: list[float], failed: int, attempted: int) -> dict:
    return {
        "docs_per_s": attempted / res["wall_s"],
        "setup_s": statistics.median(setups),
        "cpu_s_per_kdoc": 1e3 * res["cpu_s"] / attempted,
        "peak_rss_mb": res["peak_rss_mb"],
        "delivered_doc_share": 1 - failed / attempted,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    try:  # the package, the frozen bench.py and pyspark must be present
        import pyspark  # noqa: F401

        import inputs
        import proc
        import replay
        from ledger import Tracer, self_times
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"extractbench: cannot run here: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"extractbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    _become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwinds through _worker

    input_dir = inputs.ensure_inputs(wl.inputs, args.seed, wl.name, os.path.join(STATE, "inputs"))
    phases = {"inputs": time.time() - t_start}
    replay_ids, check_ids = _samples(wl, args.seed, bool(args.trace))
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(STATE, "runs", run_id)
    os.makedirs(run_dir)
    cfg = {
        "run_id": run_id,
        "workload": wl.name,
        "input": input_dir,
        "n_docs": wl.inputs.n_docs,
        "cores": min(MAX_CORES, len(os.sched_getaffinity(0))),
        "check_ids": check_ids,
        "work_dir": os.path.join(run_dir, "work"),
        "event_dir": os.path.join(run_dir, "events"),
        "trace": args.trace,
    }
    os.makedirs(cfg["event_dir"])

    def remaining() -> float:
        return RUN_BUDGET_S - (time.time() - t_start)

    noise = proc.NoiseLabel()
    t = time.time()
    res = {}
    attempted = wl.inputs.n_docs
    if args.trace:
        # the paired untraced run of the same seed, for trace.overhead
        # leaves ~90 s for the traced worker and the replay
        res = _worker("run", dict(cfg, trace=0), run_dir, "untraced", remaining() - 90)
        untraced_rate = attempted / res["wall_s"] if "error" not in res else None
    if "error" not in res:
        # what follows the worker: a setup probe (untraced) or the replay (traced)
        res = _worker("run", cfg, run_dir, "worker", remaining() - 30)
    phases["worker"] = time.time() - t
    label = noise.finish()
    if "error" in res:  # the logs stay in run_dir
        print(json.dumps({"workload": wl.name, "seed": args.seed, "error": res["error"],
                          "run_dir": os.path.relpath(run_dir, ROOT), "noise": label}))
        print(json.dumps({"correct": False, "attempted": attempted, "failed": attempted, "metrics": {}}))
        return 1
    setups = [res["setup_s"]]
    t = time.time()
    for k in range(0 if args.trace else SETUP_SAMPLES - 1):
        if remaining() < 30:
            break
        probe = _worker("setup", cfg, run_dir, f"setup{k}", 25)
        if "error" not in probe:
            setups.append(probe["setup_s"])
    phases["setup_probes"] = time.time() - t

    checks = res["checks"]
    problems = list(checks["problems"])
    tracer = Tracer(run_id, enabled=bool(args.trace))
    times: dict[str, list[float]] = {}
    refs = {}
    t = time.time()
    with tracer.span("replay"):
        for d in replay.load_docs(input_dir, replay_ids):
            with tracer.span("replay.doc"):
                refs[d["doc_id"]] = replay.replay_doc(d, times if args.trace else None)
    phases["replay"] = time.time() - t
    problems += replay.compare(checks["sample_rows"], {k: refs[k] for k in check_ids})
    key = f"{code_revision()}-{wl.name}-s{args.seed}-n{wl.inputs.n_docs}"
    stored = _digest_store(key, checks["digest"])
    if stored:
        problems.append(stored)
    failed = checks["failed_docs"]
    if problems:
        failed = attempted
    metrics = end_to_end(res, setups, failed, attempted)
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "docs": attempted,
        "job_wall_s": round(res["wall_s"], 4),
        "job_cpu_s": round(res["cpu_s"], 3),
        "setup_samples_s": [round(s, 4) for s in setups],
        "digest": checks["digest"],
        "checks": {"ok": not problems, "problems": problems[:20], "sample_docs": len(check_ids)},
        "failed_doc_share": failed / attempted,
        "noise": label,
        "phases_s": {k: round(v, 2) for k, v in dict(phases, check=checks["check_s"]).items()},
    }
    print(json.dumps(summary))

    if args.trace:
        layers = dict(res["layers"], **_replay_metrics(times))
        replay_s = statistics.mean(times["kernel.readability.extract_document"]) / 1e3
        python_s = layers["operators.extract.python_s"]
        layers["operators.extract.kernel_share"] = replay_s * attempted / python_s if python_s else 0.0
        layers["trace.overhead"] = 1 - metrics["docs_per_s"] / untraced_rate
        shift = len(res["spans"])
        spans = res["spans"] + [
            dict(s, parent=None if s["parent"] is None else s["parent"] + shift)
            for s in tracer.spans
        ]
        trace_dir = os.path.join(STATE, "traces", run_id)
        os.makedirs(trace_dir)
        with open(os.path.join(trace_dir, "spans.json"), "w") as f:
            json.dump(spans, f)
        with open(os.path.join(trace_dir, "ledger.json"), "w") as f:
            json.dump({"layers": layers, "stage_task_ms": res["stage_task_ms"], "replay_ms": times}, f)
        self_s = {k: round(v, 4) for k, v in sorted(self_times(spans).items())}
        print(json.dumps({"self_time_s": self_s, "trace_dir": os.path.relpath(trace_dir, ROOT)}))
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
