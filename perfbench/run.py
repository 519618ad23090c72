"""Benchmark runner for nilm_data_framework_spark.

    python3 perfbench/run.py --workload meter_serve --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` before
timing; the program under test is called only through its public
functions. Prints a readable report, then, as the last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
Everything the run writes lives in ``.perfbench_work/`` under the
repository root and is removed at exit, also on SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "work_per_s": "1/s", "op_p50_ms": "ms", "write_p50_ms": "ms"}

PER_LAYER = {
    "session.start_s": "s",
    "sources.parse_s": "s",
    "sources.readings_out": "count",
    "canonical.write_s": "s",
    "canonical.files_written": "count",
    "canonical.bytes_per_reading": "B",
    "canonical.open_ms": "ms",
    "canonical.files_scanned_per_query": "count",
    "canonical.rows_scanned_per_row_returned": "ratio",
    "meter_query.plan_ms": "ms",
    "meter_query.exec_ms": "ms",
    "canonical.upsert_files_rewritten": "count",
    "canonical.upsert_bytes_per_changed_row": "B",
    "resample.bulk_s": "s",
    "aggregates.bulk_s": "s",
    "tensorize.s": "s",
    "tensorize.windows_per_s": "1/s",
    "dedup.exact_s": "s",
    "dedup.lsh_s": "s",
    "dedup.lsh_candidates_per_kept_pair": "ratio",
    "dedup.neardup_recall": "ratio",
    "dedup.cc_s": "s",
    "dedup.cc_jobs": "count",
    "text.quality_s": "s",
    "similarity.semdedup_s": "s",
    "similarity.pairs_scored_per_drop": "ratio",
}
for _kind in ("meter_query", "late_upsert", "pass"):
    for _key, _unit in (("spark_jobs", "count"), ("spark_stages", "count"), ("spark_tasks", "count"),
                        ("shuffle_write_bytes", "B"), ("task_wait_ms", "ms"), ("codegen_compiles", "count"),
                        ("jit_ms", "ms"), ("gc_ms", "ms"), ("cpu_ms", "ms")):
        PER_LAYER[f"{_kind}.{_key}"] = _unit
PER_LAYER["trace.overhead_pct"] = "%"


def tail(xs: list[float]) -> str:
    """Median and the highest listed percentile with >= 10 samples beyond it."""
    if not xs:
        return "n=0"
    s = sorted(xs)
    n = len(s)
    out = f"n={n} p50={s[n // 2] * 1000:.1f}ms"
    best = None
    for p in (90, 95, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    if best is None:
        return out + " (too few samples for a tail with 10 beyond it)"
    k = min(n - 1, int(n * best / 100))
    return out + f" p{best}={s[k] * 1000:.1f}ms ({n - k - 1} samples beyond)"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["meter_serve", "bulk_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import nilm_data_framework_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    import engine

    try:
        conf = engine.configure_env(work)
        if args.workload == "meter_serve":
            import serve as workload
        else:
            import bulk as workload
        t0 = time.perf_counter()
        res = workload.run(args, conf, work)
        wall = time.perf_counter() - t0
    finally:
        engine.kill_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    import pyspark

    e2e = res["end_to_end"]
    print(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"env: nproc={len(os.sched_getaffinity(0))} SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
          f"driver_memory={engine.DRIVER_MEM} pyspark={pyspark.__version__} java={res.get('java')} "
          f"python={platform.python_version()}")
    print(f"spark conf passed: {json.dumps(conf, sort_keys=True)}")
    print(f"measured window: {res['window_s']:.2f} s, cpu steal share {res['steal'] * 100:.2f}%, "
          f"run wall {wall:.1f} s, set-ups {[round(s, 2) for s in res['setups']]} s")
    mem = res["memory"]
    print(f"memory: peak retained heap {mem.heap_peak_kb / 1024:.1f} MB + peak rest (JVM anonymous RSS minus "
          f"committed heap, plus workers) {mem.peak_rest_kb / 1024:.1f} MB; heap pool peaks (MB) "
          f"{ {k: round(v / 1024, 1) for k, v in mem.pool_peak_kb.items()} }; "
          f"peak anonymous RSS of the tree {mem.peak_kb / 1024:.1f} MB")
    if "warmup_s" in res:
        print(f"untimed warm-up pass: {res['warmup_s']:.2f} s")
    for kind, xs in res["latencies"].items():
        print(f"{kind}: {tail(xs)}")
    for kind, xs in res.get("lock_waits", {}).items():
        print(f"{kind} store-lock wait: {tail(xs)}")
    print(f"process-tree CPU per completed op: {res['cpu_s'] / max(1, res['ops_done']) * 1000:.1f} ms")
    print(f"ops: {res['failed']} failed of {res['attempted']} attempted")
    for err in res["errors"]:
        print("failure:", err.strip().replace("\n", " | ")[:400])
    for k, v in e2e.items():
        print(f"  {k} = {v:.4f} {END_TO_END[k]}")
    if args.trace:
        print("spans (traced ops): name  count  median ms  median self ms")
        for name, (n, dur, own) in sorted(res["spans"].items()):
            print(f"  {name:22s} {n:5d} {dur * 1000:10.1f} {own * 1000:10.1f}")
        layer = {k: float(res["per_layer"].get(k, 0.0)) for k in PER_LAYER}
        for k, v in layer.items():
            print(f"  {k} = {v:.4f} {PER_LAYER[k]}")
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
