"""bulk_pipeline: repeated passes, each over a fresh pre-generated shard.

One pass is the NILM ETL (REFIT CSV + UK-DALE .dat + MQTT JSON-lines ->
canonical store -> rate inference, resample, two-stage aggregate ->
windowed tensors -> Parquet) followed by corpus curation (exact groups ->
MinHash-LSH pairs -> connected components -> quality filter -> semantic
dedup of the embeddings -> curated Parquet). Small results are collected
with ``toPandas``, the action a caller would use; the three landed outputs
are Parquet writes.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

import engine
import gen
from serve import MAINS

SIZE = {"refit": 3000, "ukdale": 3000, "mqtt": 1000, "docs": 500}
# A run is fixed work: one untimed warm-up pass on a smaller shard (a cold
# JVM makes the first pass ~1.7x slower while HotSpot compiles the hot
# paths of Spark, Janino and the program; a small shard runs the same
# paths), then one measured pass over its own shard, so what the gated
# numbers rest on does not depend on the program's speed. One, not more:
# a pass is ~60 Spark jobs whose fixed cost dominates (a half-size shard
# took as long), each pass adds ~12 s to a run, and all runs of the
# benchmark must fit its time budget. A traced run adds a second, traced
# pass, compared with the untraced one for the tracing overhead.
WARMUP_SIZE = {k: v // 4 for k, v in SIZE.items()}
BUCKET_S = 300
KEYS = ["dataset", "house_id", "channel_id"]
TARGETS = ["Appliance1", "Appliance2", "Appliance3"]
SEQ_LEN, STEP = 256, 128
LSH = {"shingle_n": 3, "num_hashes": 32, "bands": 8, "jaccard_threshold": 0.6}
SEM = {"n_centroids": 16, "threshold": 0.9}
MIN_TOKENS, MIN_DISTINCT = 20, 0.2
# chance that a correct LSH fails the recall check of one pass
RECALL_TAIL = 1e-6


def run_pass(spark, shard: dict, out: str, tr: engine.Tracer) -> dict:
    """One pass; returns the collected results and the landing time."""
    from pyspark.sql import functions as F

    from nilm_data_framework_spark.operators.aggregates import aggregate_from_appliances, dedup_mean
    from nilm_data_framework_spark.operators.dedup import (
        connected_components,
        exact_dup_groups,
        minhash_lsh_pairs,
    )
    from nilm_data_framework_spark.operators.resample import infer_sample_rate, resample_mean
    from nilm_data_framework_spark.operators.similarity import semantic_dedup
    from nilm_data_framework_spark.operators.tensorize import normalize_for_training, tensorize
    from nilm_data_framework_spark.operators.text import quality_features
    from nilm_data_framework_spark.sources.canonical import read_readings, write_readings
    from nilm_data_framework_spark.sources.mqtt_json import read_mqtt_log
    from nilm_data_framework_spark.sources.refit import read_refit
    from nilm_data_framework_spark.sources.ukdale import read_ukdale

    root = shard["root"]
    res: dict = {"land_s": 0.0}
    with tr.span("sources.read"):
        refit = read_refit(spark, os.path.join(root, "refit", "CLEAN_House*.csv"))
        ukdale = read_ukdale(spark, os.path.join(root, "ukdale", "house_*", "channel_*.dat"))
        mqtt = dedup_mean(read_mqtt_log(spark, os.path.join(root, "mqtt", "log.jsonl")),
                          ["ts", "device"], "apower", out="power")
        mqtt = mqtt.select(F.lit("mqtt").alias("dataset"), F.lit(gen.MQTT_HOUSE).alias("house_id"),
                           F.col("device").alias("channel_id"), "ts", "power")
        readings = refit.unionByName(ukdale).unionByName(mqtt)
    t = time.perf_counter()
    with tr.span("canonical.write"):
        write_readings(readings, os.path.join(out, "store"))
    res["land_s"] += time.perf_counter() - t

    with tr.span("canonical.open"):
        stored = read_readings(spark, os.path.join(out, "store"))
    with tr.span("resample.rate"):
        res["rates"] = infer_sample_rate(stored, KEYS).toPandas()
    with tr.span("resample.bulk"):
        res["resampled"] = resample_mean(stored, KEYS, BUCKET_S).toPandas()
    with tr.span("aggregates.bulk"):
        appl = stored.filter(~F.col("channel_id").isin(*MAINS))
        res["aggregated"] = aggregate_from_appliances(
            appl, ["dataset", "house_id"], seconds=BUCKET_S, channel="channel_id").toPandas()
    t = time.perf_counter()
    with tr.span("tensorize"):
        # power is also the tie-break among duplicated stamps, as a copy:
        # tensorize needs its order columns distinct from its value column
        refit = stored.filter(F.col("dataset") == "refit").withColumn("tie", F.col("power"))
        windows = tensorize(refit, "house_id", "channel_id", ["ts", "tie"], "power", "Aggregate",
                            TARGETS, SEQ_LEN, STEP)
        normalize_for_training(windows).write.parquet(os.path.join(out, "tensors"))
    res["land_s"] += time.perf_counter() - t

    docs = spark.read.parquet(os.path.join(root, "docs.parquet"))
    emb = spark.read.parquet(os.path.join(root, "emb.parquet"))
    with tr.span("dedup.exact"):
        res["exact"] = exact_dup_groups(docs).toPandas()
    with tr.span("dedup.lsh"):
        pairs = minhash_lsh_pairs(docs, **LSH)
        res["pairs"] = pairs.toPandas()
    with tr.span("dedup.cc"):
        nodes = docs.select(F.col("doc_id").alias("id"))
        res["clusters"] = connected_components(nodes, pairs).toPandas()
    with tr.span("text.quality"):
        q = quality_features(docs)
        q = q.filter((F.col("q_tokens") >= MIN_TOKENS) & (F.col("q_distinct_token_ratio") >= MIN_DISTINCT))
        res["quality"] = q.select("doc_id").toPandas()
    with tr.span("similarity.semdedup"):
        res["sem"] = semantic_dedup(emb, **SEM).toPandas()
    cl = res["clusters"]
    keep = set(cl.loc[cl["node"] == cl["cluster_id"], "node"]) & set(res["quality"]["doc_id"]) & set(res["sem"]["vec_id"])
    t = time.perf_counter()
    with tr.span("curated.write"):
        keep_df = spark.createDataFrame(pd.DataFrame({"doc_id": sorted(keep)}, dtype="int64"))
        docs.join(F.broadcast(keep_df), "doc_id").write.parquet(os.path.join(out, "curated"))
    res["land_s"] += time.perf_counter() - t
    return res


# ---------------------------------------------------------------------------
# ground truth and checks (DuckDB / pandas / NumPy; no program code)
# ---------------------------------------------------------------------------


def _close(a: np.ndarray, b: np.ndarray) -> bool:
    return a.shape == b.shape and bool(np.all(np.abs(a - b) <= 1e-9 * np.maximum(1.0, np.abs(b))))


def _frame_eq(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], val: str) -> bool:
    if len(got) != len(want) or got.duplicated(keys).any():
        return False
    m = got.merge(want, on=keys, how="inner", suffixes=("", "_t"))
    return len(m) == len(want) and _close(m[val].to_numpy(float), m[val + "_t"].to_numpy(float))


def _epoch_s(col: pd.Series) -> np.ndarray:
    return col.to_numpy().astype("datetime64[s]").astype(np.int64)


def _rates_truth(truth: pd.DataFrame) -> pd.DataFrame:
    """Per series: median of the positive gaps between sorted stamps."""
    us = truth["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    t = truth.assign(us=us).sort_values([*KEYS, "us"])
    rows = []
    for k, g in t.groupby(KEYS):
        d = np.diff(g["us"].to_numpy()) / 1e6
        if (d > 0).any():
            rows.append((*k, float(np.median(d[d > 0]))))
    return pd.DataFrame(rows, columns=[*KEYS, "rate_s"])


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.lower()) if t]


def _shingles(text: str, n: int) -> set[str]:
    tk = _tokens(text)
    return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_pass(res: dict, shard: dict, out: str) -> list[str]:
    """Every output of one pass against ground truth; returns failures."""
    bad = []
    truth = shard["readings"]
    con = duckdb.connect()
    con.register("truth", truth)

    n_store = con.sql(f"SELECT count(*) FROM read_parquet('{out}/store/*/*/*.parquet')").fetchone()[0]
    if n_store != len(truth):
        bad.append(f"store rows {n_store} != {len(truth)}")

    want = _rates_truth(truth)
    if not _frame_eq(res["rates"], want, KEYS, "rate_s"):
        bad.append("sample rates")

    want = con.sql(
        f"SELECT dataset, house_id, channel_id, epoch_us(ts) // {BUCKET_S * 10**6} * {BUCKET_S} AS b, "
        "avg(power) AS power FROM truth GROUP BY ALL"
    ).df()
    got = res["resampled"].assign(b=_epoch_s(res["resampled"]["bucket_ts"]))
    if not _frame_eq(got, want, [*KEYS, "b"], "power"):
        bad.append("resample buckets")

    mains = ", ".join(f"'{m}'" for m in MAINS)
    want = con.sql(
        f"SELECT dataset, house_id, b, sum(m) AS aggregate_computed FROM ("
        f" SELECT dataset, house_id, channel_id, epoch_us(ts) // {BUCKET_S * 10**6} * {BUCKET_S} AS b,"
        f" avg(power) AS m FROM truth WHERE channel_id NOT IN ({mains}) GROUP BY ALL) GROUP BY ALL"
    ).df()
    got = res["aggregated"].assign(b=_epoch_s(res["aggregated"]["bucket_ts"]))
    if not _frame_eq(got, want, ["dataset", "house_id", "b"], "aggregate_computed"):
        bad.append("two-stage aggregate buckets")

    bad += _check_tensors(con, truth, out)
    bad += _check_curation(res, shard, out, con)
    con.close()
    return bad


def _check_tensors(con, truth: pd.DataFrame, out: str) -> list[str]:
    refit = truth[truth["dataset"] == "refit"].sort_values(["ts", "power"], kind="mergesort")
    xs = []
    want_n = {}
    for h, g in refit.groupby("house_id"):
        series = {c: s["power"].to_numpy() for c, s in g.groupby("channel_id")}
        min_len = min(len(series[c]) for c in ["Aggregate", *TARGETS] if c in series)
        n = (min_len - SEQ_LEN) // STEP + 1 if min_len >= SEQ_LEN else 0
        want_n[int(h)] = n
        idx = np.arange(n)[:, None] * STEP + np.arange(SEQ_LEN)[None, :]
        xs.append(series["Aggregate"][:min_len][idx])
    x = np.concatenate(xs)
    qmax = float(np.percentile(x.max(axis=1), 99)) or 1.0
    got = con.sql(
        f"SELECT house_id, count(*), sum(list_sum(x)), sum(list_sum(x_norm)) "
        f"FROM read_parquet('{out}/tensors/*.parquet') GROUP BY ALL"
    ).fetchall()
    bad = []
    if {int(h): n for h, n, _, _ in got} != want_n:
        bad.append("tensor window counts")
    sx = np.array([sum(r[2] for r in got), sum(r[3] for r in got)])
    want = np.array([x.sum(), np.clip(x / qmax, 0, 1).sum()])
    if not _close(sx, want):
        bad.append("tensor values")
    return bad


def _md5_norm(text: str) -> str:
    return hashlib.md5(re.sub(r"\s+", " ", text.lower()).strip(" ").encode()).hexdigest()


def lsh_recall_floor(jaccards: list[float]) -> int:
    """Fewest planted pairs a correct LSH finds but for a chance of at most
    RECALL_TAIL. Each pair is a candidate with P = 1 - (1 - J^rows)^bands
    (independent bands of ``rows`` hashes; 0 below the threshold), so the
    count found is Poisson-binomial; its exact distribution is built by
    convolution. A normal approximation would put the floor far too high:
    most P are near 1, where the count's lower tail is long."""
    rows = LSH["num_hashes"] // LSH["bands"]
    dist = np.ones(1)
    for j in jaccards:
        p = 1 - (1 - j**rows) ** LSH["bands"] if j >= LSH["jaccard_threshold"] else 0.0
        dist = np.convolve(dist, [1 - p, p])
    return int(np.searchsorted(np.cumsum(dist), RECALL_TAIL, side="right"))


def _check_curation(res: dict, shard: dict, out: str, con) -> list[str]:
    bad = []
    texts = shard["docs"]["texts"]
    n = len(texts)

    fps: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        fps.setdefault(_md5_norm(t), []).append(i)
    want = {fp: (len(ids), min(ids)) for fp, ids in fps.items() if len(ids) > 1}
    got = {r.fp: (int(r.n_dups), int(r.keep_id)) for r in res["exact"].itertuples()}
    if got != want or len(got) != len(res["exact"]):
        bad.append("exact duplicate groups")

    sh = [_shingles(t, LSH["shingle_n"]) for t in texts]
    pairs = res["pairs"]
    if pairs.iloc[:, :2].duplicated().any():
        bad.append("repeated near-dup pairs")
    found = set()
    for a, b, j in pairs.itertuples(index=False):
        true_j = _jaccard(sh[a], sh[b])
        if not (a < b and true_j >= LSH["jaccard_threshold"] and abs(true_j - j) <= 1e-9):
            bad.append(f"near-dup pair ({a}, {b}) jaccard {j} vs {true_j}")
            break
        found.add((a, b))
    planted = [tuple(sorted(p)) for p in shard["docs"]["exact_pairs"] + shard["docs"]["near_pairs"]]
    hits = sum(1 for p in planted if p in found)
    res["recall"] = hits / len(planted)
    if hits < lsh_recall_floor([_jaccard(sh[a], sh[b]) for a, b in planted]):
        bad.append(f"near-dup recall {hits}/{len(planted)} below its floor")

    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in found:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want_cc = {i: find(i) for i in range(n)}
    got_cc = dict(zip(res["clusters"]["node"].astype(int), res["clusters"]["cluster_id"].astype(int)))
    if got_cc != want_cc or len(res["clusters"]) != n:
        bad.append("connected components")

    def passes(t: str) -> bool:
        tk = _tokens(t)
        return len(tk) >= MIN_TOKENS and len(set(tk)) / len(tk) >= MIN_DISTINCT

    want_q = {i for i, t in enumerate(texts) if passes(t)}
    if set(res["quality"]["doc_id"]) != want_q or res["quality"]["doc_id"].duplicated().any():
        bad.append("quality filter")

    want_sem = semdedup_truth(shard["emb"])
    got_sem = dict(zip(res["sem"]["vec_id"].astype(int), res["sem"]["cid"].astype(int)))
    if got_sem != want_sem or len(res["sem"]) != len(got_sem):
        bad.append("semantic dedup survivors")

    want_cur = {i for i in range(n) if want_cc[i] == i} & want_q & set(want_sem)
    cur = [r[0] for r in con.sql(f"SELECT doc_id FROM read_parquet('{out}/curated/*.parquet')").fetchall()]
    got_cur = set(cur)
    if got_cur != want_cur or len(cur) != len(got_cur):
        bad.append("curated set")
    return bad


def semdedup_truth(v: np.ndarray) -> dict[int, int]:
    """SemDeDup replayed in NumPy: hash-sampled centroids (ids whose md5 hex
    sorts below '2', smallest first), nearest centroid by cosine (ties to the
    lower index), drop an id when a lower id in its cluster has cosine >=
    threshold. Returns survivor id -> cluster id."""
    ids = np.arange(len(v))
    h = [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
    cand = sorted((x, i) for i, x in enumerate(h) if x < "2")[: SEM["n_centroids"]]
    cent = v[[i for _, i in cand]].astype(np.float64)
    vd = v.astype(np.float64)
    unit = vd / np.linalg.norm(vd, axis=1, keepdims=True)
    cid = np.argmax(unit @ (cent / np.linalg.norm(cent, axis=1, keepdims=True)).T, axis=1)
    dropped = set()
    for c in np.unique(cid):
        members = ids[cid == c]
        sims = unit[members] @ unit[members].T
        a, b = np.nonzero(np.triu(sims >= SEM["threshold"], k=1))
        dropped |= set(members[b].tolist())
    return {int(i): int(cid[i]) for i in ids if i not in dropped}


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def run(args, conf: dict, work: str) -> dict:
    """``args.seconds`` is not used: a run is a fixed number of passes."""
    warm = gen.bulk_shard(args.seed, 0, os.path.join(work, "shard-warmup"), WARMUP_SIZE)
    n_passes = 2 if args.trace else 1
    shards = [gen.bulk_shard(args.seed, i + 1, os.path.join(work, f"shard-{i}"), SIZE) for i in range(n_passes)]

    setups = []
    spark = None
    for _ in range(engine.SETUP_CYCLES):
        if spark is not None:
            engine.stop_session(spark)
        t0 = time.perf_counter()
        spark = engine.start_session(conf)
        setups.append(time.perf_counter() - t0)

    tr = engine.Tracer(spark, args.trace)

    def attempt(op_id: int, shard: dict, traced: bool) -> dict:
        out = os.path.join(work, f"out-{op_id}")
        rec = {"op_id": op_id, "kind": "pass", "traced": traced, "shard": shard, "out": out, "ok": True}
        t0 = time.perf_counter()
        try:
            with tr.op(op_id, "pass", traced):
                rec["res"] = run_pass(spark, shard, out, tr)
        except Exception:
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
        rec["latency"] = time.perf_counter() - t0
        return rec

    warmup = attempt(-1, warm, traced=False)
    with engine.TreeSampler(spark) as sampler:
        t_start = time.perf_counter()
        passes = [attempt(i, shard, traced=i == 1) for i, shard in enumerate(shards)]
        window = time.perf_counter() - t_start

    for rec in [warmup, *passes]:
        if rec["ok"]:
            rec["bad"] = check_pass(rec["res"], rec["shard"], rec["out"])
            rec["ok"] = not rec["bad"]
    ok = [r for r in passes if r["ok"]]
    failed = [r for r in [warmup, *passes] if not r["ok"]]
    result = {
        "attempted": 1 + len(passes),
        "failed": len(failed),
        "end_to_end": {
            "setup_s": engine.median(setups),
            "peak_rss_mb": sampler.peak_mb,
            "work_per_s": sum(r["shard"]["input_records"] for r in ok) / max(1e-9, sum(r["latency"] for r in ok)),
            "op_p50_ms": engine.median([r["latency"] for r in ok]) * 1000,
            "write_p50_ms": engine.median([r["res"]["land_s"] for r in ok]) * 1000,
        },
        "latencies": {"pass": [r["latency"] for r in ok]},
        "warmup_s": warmup["latency"],
        "window_s": window,
        "ops_done": len(ok),
        "memory": sampler,
        "steal": sampler.steal_share,
        "cpu_s": sampler.cpu_s,
        "java": engine.java_version(spark),
        "setups": setups,
        "errors": [r.get("error") or "; ".join(r.get("bad", [])) for r in failed][:3],
    }
    if args.trace:
        result["per_layer"] = layers(spark, tr, passes, setups)
        result["spans"] = tr.summary()
    engine.stop_session(spark)
    for rec in [warmup, *passes]:
        shutil.rmtree(rec["out"], ignore_errors=True)
    return result


def layers(spark, tr: engine.Tracer, passes: list[dict], setups: list[float]) -> dict:
    """Per-layer metrics of one traced bulk_pipeline run (traced passes)."""
    traced = [r for r in passes if r["traced"] and r["ok"]]
    by_op = tr.op_spans()

    def span_ids(rec, name):
        return [sid for sid in by_op[rec["op_id"]] if tr.spans[sid]["name"] == name]

    def med(name: str) -> float:
        return engine.median([tr.spans[s]["end"] - tr.spans[s]["start"] for r in traced for s in span_ids(r, name)])

    parse, write, files, bpr, rows_out, cc_jobs, win_rate, waste, pairs_per_drop = [], [], [], [], [], [], [], [], []
    for r in traced:
        (wsid,) = span_ids(r, "canonical.write")
        p = engine.map_stage_seconds(spark, tr.job_ids(wsid))
        parse.append(p)
        write.append(tr.spans[wsid]["end"] - tr.spans[wsid]["start"] - p)
        store = os.path.join(r["out"], "store")
        fs = [os.path.join(dp, f) for dp, _, names in os.walk(store) for f in names if f.endswith(".parquet")]
        n = len(r["shard"]["readings"])
        files.append(len(fs))
        bpr.append(sum(os.path.getsize(f) for f in fs) / n)
        rows_out.append(n)
        (csid,) = span_ids(r, "dedup.cc")
        cc_jobs.append(len(tr.job_ids(csid)))
        (tsid,) = span_ids(r, "tensorize")
        n_win = spark.read.parquet(os.path.join(r["out"], "tensors")).count()
        win_rate.append(n_win / (tr.spans[tsid]["end"] - tr.spans[tsid]["start"]))
        waste.append(_lsh_waste(spark, r))
        pairs_per_drop.append(_pairs_per_drop(spark, r))
    out = {
        "session.start_s": engine.median(setups),
        "sources.parse_s": engine.median(parse),
        "sources.readings_out": engine.median(rows_out),
        "canonical.write_s": engine.median(write),
        "canonical.files_written": engine.median(files),
        "canonical.bytes_per_reading": engine.median(bpr),
        "resample.bulk_s": med("resample.bulk"),
        "aggregates.bulk_s": med("aggregates.bulk"),
        "tensorize.s": med("tensorize"),
        "tensorize.windows_per_s": engine.median(win_rate),
        "dedup.exact_s": med("dedup.exact"),
        "dedup.lsh_s": med("dedup.lsh"),
        "dedup.lsh_candidates_per_kept_pair": engine.median(waste),
        "dedup.neardup_recall": engine.median([r["res"]["recall"] for r in passes if r["ok"]]),
        "dedup.cc_s": med("dedup.cc"),
        "dedup.cc_jobs": engine.median(cc_jobs),
        "text.quality_s": med("text.quality"),
        "similarity.semdedup_s": med("similarity.semdedup"),
        "similarity.pairs_scored_per_drop": engine.median(pairs_per_drop),
    }
    out.update(engine.engine_rows(spark, tr, passes))
    out["trace.overhead_pct"] = engine.overhead_pct(passes, "pass")
    return out


def _lsh_waste(spark, rec: dict) -> float:
    """Candidate pairs per kept pair: the same LSH call with threshold 0
    keeps every candidate its bands produced (verify only filters)."""
    from nilm_data_framework_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(os.path.join(rec["shard"]["root"], "docs.parquet"))
    cand = minhash_lsh_pairs(docs, **{**LSH, "jaccard_threshold": 0.0}).count()
    return cand / max(1, len(rec["res"]["pairs"]))


def _pairs_per_drop(spark, rec: dict) -> float:
    """Within-cluster pairs scored per vector dropped, from the public
    centroid assignment with the same hash-sampled centroids."""
    from nilm_data_framework_spark.operators.similarity import assign_centroids, sample_centroids

    emb = spark.read.parquet(os.path.join(rec["shard"]["root"], "emb.parquet"))
    sizes = assign_centroids(emb, sample_centroids(emb, SEM["n_centroids"])).groupBy("cid").count().toPandas()["count"]
    dropped = len(rec["shard"]["emb"]) - len(rec["res"]["sem"])
    return float((sizes * (sizes - 1) / 2).sum()) / max(1, dropped)
