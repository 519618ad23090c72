"""meter_serve: interactive meter queries and late upserts against one
canonical store, from two closed-loop clients sharing one SparkSession.

The canonical store has no snapshot isolation (``merge_upsert_partitioned``
replaces partition directories in place), so the serving harness does what
an application on it must do: queries hold a shared lock, upserts an
exclusive one. An op's latency runs from the lock grant to its result, the
program's own time; the lock wait, a function of the upsert latency, is
reported beside it.
"""

from __future__ import annotations

import itertools
import os
import shutil
import threading
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

import engine
import gen

HOURS = 24
BUCKET_S = 300
MAINS = ("Aggregate", "channel_1")  # whole-house meter channels, not appliances
CLIENTS = 2
WARMUP_S = 10.0  # untimed: per-query latency falls ~40% over the first ~15 s as the JIT warms


class RWLock:
    """Shared/exclusive lock that prefers writers: once an upsert waits, new
    queries queue behind it, so upserts are not starved by two clients whose
    queries always overlap."""

    def __init__(self):
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    def acquire_read(self):
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1

    def release_read(self):
        with self._cond:
            self._readers -= 1
            self._cond.notify_all()

    def acquire_write(self):
        with self._cond:
            self._writers_waiting += 1
            while self._writer or self._readers:
                self._cond.wait()
            self._writers_waiting -= 1
            self._writer = True

    def release_write(self):
        with self._cond:
            self._writer = False
            self._cond.notify_all()


def _stamp(epoch_s: int) -> str:
    return pd.Timestamp(epoch_s, unit="s").strftime("%Y-%m-%d %H:%M:%S")


def meter_query(spark, path: str, op: dict, tr: engine.Tracer) -> list[tuple[float, float]]:
    from pyspark.sql import functions as F

    from nilm_data_framework_spark.operators.aggregates import aggregate_from_appliances
    from nilm_data_framework_spark.operators.resample import resample_mean
    from nilm_data_framework_spark.operators.selectors import by_label, time_range
    from nilm_data_framework_spark.sources.canonical import read_readings

    with tr.span("canonical.open"):
        df = read_readings(spark, path)
    with tr.span("meter_query.plan"):
        df = df.filter((F.col("dataset") == op["dataset"]) & (F.col("house_id") == op["house_id"]))
        df = time_range(df, start=_stamp(op["start"]), end=_stamp(op["end"]))
        if op["agg"] == "resample":
            out = resample_mean(by_label(df, op["label"], col="channel_id"), ["channel_id"], BUCKET_S)
            value = "power"
        else:
            df = df.filter(~F.col("channel_id").isin(*MAINS))
            out = aggregate_from_appliances(df, ["house_id"], seconds=BUCKET_S, channel="channel_id")
            value = "aggregate_computed"
    with tr.span("meter_query.exec"):
        rows = out.collect()
    return [(r["bucket_ts"].timestamp(), r[value]) for r in rows]


def late_upsert(spark, path: str, op: dict, tr: engine.Tracer) -> None:
    from nilm_data_framework_spark.schema import READINGS
    from nilm_data_framework_spark.sources.canonical import merge_upsert_partitioned

    with tr.span("canonical.upsert"):
        changes = spark.createDataFrame(op["rows"], schema=READINGS)
        merge_upsert_partitioned(spark, changes, path)


# ---------------------------------------------------------------------------
# ground truth
# ---------------------------------------------------------------------------


def _truth_rows(house: pd.DataFrame, op: dict) -> dict[float, float]:
    ts = house["ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
    sel = house[(ts >= op["start"]) & (ts <= op["end"])]
    ts = sel["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    bucket = (ts // (BUCKET_S * 10**6)) * BUCKET_S
    sel = sel.assign(bucket=bucket)
    if op["agg"] == "resample":
        got = sel[sel["channel_id"] == op["label"]].groupby("bucket")["power"].mean()
    else:
        per = sel[~sel["channel_id"].isin(MAINS)].groupby(["channel_id", "bucket"])["power"].mean()
        got = per.groupby(level="bucket").sum()
    return {float(k): float(v) for k, v in got.items()}


def _same(rows: list[tuple[float, float]], truth: dict[float, float]) -> bool:
    if len(rows) != len(truth) or len({b for b, _ in rows}) != len(rows):
        return False
    for b, v in rows:
        t = truth.get(b)
        if t is None or abs(v - t) > 1e-9 * max(1.0, abs(t)):
            return False
    return True


def verify(records: list[dict], upserts: list[dict], store: pd.DataFrame, path: str) -> tuple[int, bool]:
    """Replay every committed upsert, in commit order, over the initial
    store; check each query against the state it saw (its version), marking
    failures on the record. Returns whether the store's row counts match."""
    houses = {
        k: g.set_index(["channel_id", "ts"]).sort_index()
        for k, g in store.groupby(["dataset", "house_id"])
    }
    queries = sorted((r for r in records if r["kind"] == "meter_query" and r["ok"]), key=lambda r: r["version"])
    version = 0
    for r in queries:
        while version < r["version"]:
            rows = upserts[version]["rows"]
            key = (rows["dataset"].iloc[0], int(rows["house_id"].iloc[0]))
            new = rows.set_index(["channel_id", "ts"])
            cur = houses[key]
            houses[key] = pd.concat([cur[~cur.index.isin(new.index)], new]).sort_index()
            version += 1
        house = houses[(r["op"]["dataset"], r["op"]["house_id"])].reset_index()
        if not _same(r["rows"], _truth_rows(house, r["op"])):
            r["ok"] = False
    for rows in (u["rows"] for u in upserts[version:]):
        key = (rows["dataset"].iloc[0], int(rows["house_id"].iloc[0]))
        new = rows.set_index(["channel_id", "ts"])
        cur = houses[key]
        houses[key] = pd.concat([cur[~cur.index.isin(new.index)], new])
    got = duckdb.sql(
        f"SELECT dataset, house_id, count(*) AS n FROM read_parquet('{path}/*/*/*.parquet', "
        "hive_partitioning = true) GROUP BY ALL"
    ).fetchall()
    return {(d, int(h)): n for d, h, n in got} == {k: len(v) for k, v in houses.items()}


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def run(args, conf: dict, work: str) -> dict:
    store = gen.meter_store(args.seed, HOURS)
    store_input = os.path.join(work, "store-input.parquet")
    gen.write_store_input(store, store_input)
    # per client, far more than a window completes; unused ops are never sent
    streams = [iter(gen.meter_ops(args.seed, store, c, 200)) for c in range(CLIENTS)]

    from nilm_data_framework_spark.schema import READINGS
    from nilm_data_framework_spark.sources.canonical import write_readings

    setups, session_s, write_s, files_written, bytes_written = [], [], [], 0, 0
    spark = None
    for cycle in range(engine.SETUP_CYCLES):
        if spark is not None:
            engine.stop_session(spark)
        path = os.path.join(work, f"store-{cycle}")
        t0 = time.perf_counter()
        spark = engine.start_session(conf)
        t1 = time.perf_counter()
        write_readings(spark.read.schema(READINGS).parquet(store_input), path)
        t2 = time.perf_counter()
        setups.append(t2 - t0)
        session_s.append(t1 - t0)
        write_s.append(t2 - t1)
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
        files_written, bytes_written = len(files), sum(os.path.getsize(f) for f in files)
        if cycle + 1 < engine.SETUP_CYCLES:
            shutil.rmtree(path)

    tr = engine.Tracer(spark, args.trace)
    lock = RWLock()
    upserts: list[dict] = []
    records: list[dict] = []
    op_ids = itertools.count()

    def client(ops, deadline: float, warmup: bool) -> None:
        while time.perf_counter() < deadline:
            op = next(ops, None)
            if op is None:
                return
            op_id = next(op_ids)
            rec = {"op_id": op_id, "kind": op["kind"], "op": op, "ok": True, "warmup": warmup,
                   "traced": op_id % 2 == 1}
            t0 = t1 = time.perf_counter()
            try:
                if op["kind"] == "meter_query":
                    lock.acquire_read()
                    try:
                        t1 = time.perf_counter()
                        rec["version"] = len(upserts)
                        with tr.op(op_id, op["kind"], rec["traced"]):
                            rec["rows"] = meter_query(spark, path, op, tr)
                    finally:
                        lock.release_read()
                else:
                    lock.acquire_write()
                    try:
                        t1 = time.perf_counter()
                        with tr.op(op_id, op["kind"], rec["traced"]):
                            late_upsert(spark, path, op, tr)
                        upserts.append(op)
                    finally:
                        lock.release_write()
            except Exception:
                rec["ok"] = False
                rec["error"] = traceback.format_exc(limit=3)
            t2 = time.perf_counter()
            rec["latency"], rec["wait"] = t2 - t1, t1 - t0
            records.append(rec)

    def run_clients(deadline: float, warmup: bool) -> None:
        threads = [threading.Thread(target=client, args=(s, deadline, warmup)) for s in streams]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    run_clients(time.perf_counter() + WARMUP_S, warmup=True)
    with engine.TreeSampler(spark) as sampler:
        t_start = time.perf_counter()
        run_clients(t_start + args.seconds, warmup=False)
        window = time.perf_counter() - t_start

    measured = [r for r in records if not r["warmup"]]
    store_ok = verify(records, upserts, store, path)
    # warm-up ops are checked and counted too; only their latencies are dropped
    failed = sum(1 for r in records if not r["ok"]) + (0 if store_ok else 1)
    attempted = len(records) + 1  # + the final store row-count audit
    lat = {k: [r["latency"] for r in measured if r["kind"] == k and r["ok"]] for k in ("meter_query", "late_upsert")}

    result = {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": engine.median(setups),
            "peak_rss_mb": sampler.peak_mb,
            "work_per_s": sum(1 for r in measured if r["ok"]) / window,
            "op_p50_ms": engine.median(lat["meter_query"]) * 1000,
            "write_p50_ms": engine.median(lat["late_upsert"]) * 1000,
        },
        "latencies": lat,
        "lock_waits": {k: [r["wait"] for r in measured if r["kind"] == k] for k in lat},
        "window_s": window,
        "ops_done": sum(1 for r in measured if r["ok"]),
        "memory": sampler,
        "steal": sampler.steal_share,
        "cpu_s": sampler.cpu_s,
        "java": engine.java_version(spark),
        "setups": setups,
        "errors": [r["error"] for r in records if "error" in r][:3] + ([] if store_ok else ["store row counts"]),
    }
    if args.trace:
        result["per_layer"] = layers(spark, tr, measured, session_s, write_s, files_written, bytes_written, len(store), path)
        result["spans"] = tr.summary()
    engine.stop_session(spark)
    return result


def layers(spark, tr, measured, session_s, write_s, files_written, bytes_written, n_store, path) -> dict:
    """Per-layer metrics of one traced meter_serve run."""
    out = {
        "session.start_s": engine.median(session_s),
        "canonical.write_s": engine.median(write_s),
        "canonical.files_written": float(files_written),
        "canonical.bytes_per_reading": bytes_written / n_store,
        "canonical.open_ms": engine.median(tr.durations("canonical.open")) * 1000,
        "meter_query.plan_ms": engine.median(tr.durations("meter_query.plan")) * 1000,
        "meter_query.exec_ms": engine.median(tr.durations("meter_query.exec")) * 1000,
    }
    by_op = tr.op_spans()
    files, ratio = [], []
    for r in measured:
        if r["kind"] != "meter_query" or not r["traced"] or not r["ok"]:
            continue
        jobs = [j for sid in by_op[r["op_id"]] for j in tr.job_ids(sid)]
        f, rows = engine.scan_metrics(spark, jobs)
        files.append(f)
        ratio.append(rows / max(1, len(r["rows"])))
    out["canonical.files_scanned_per_query"] = engine.median(files)
    out["canonical.rows_scanned_per_row_returned"] = engine.median(ratio)
    # every upsert leaves its whole (dataset, house_id) partition rewritten
    ups = [r for r in measured if r["kind"] == "late_upsert" and r["ok"]]
    if ups:
        rows = ups[-1]["op"]["rows"]
        d = os.path.join(path, f"dataset={rows['dataset'].iloc[0]}", f"house_id={int(rows['house_id'].iloc[0])}")
        files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
        out["canonical.upsert_files_rewritten"] = float(len(files))
        out["canonical.upsert_bytes_per_changed_row"] = sum(os.path.getsize(f) for f in files) / len(rows)
    out.update(engine.engine_rows(spark, tr, measured))
    out["trace.overhead_pct"] = engine.overhead_pct(measured, "meter_query")
    return out
