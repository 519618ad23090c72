"""Seeded input generators for both workloads.

Every generator takes a ``numpy.random.Generator`` (or a seed) and is
deterministic: the same seed writes byte-identical files. Alongside each raw
input the generator returns its own ground truth (the readings a correct
parser keeps, the planted duplicate pairs), built without any code from
``nilm_data_framework_spark``.
"""

from __future__ import annotations

import functools
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1_700_000_000  # 2023-11-14T22:13:20Z, first reading of every series

READING_COLS = ["dataset", "house_id", "channel_id", "ts", "power"]


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def jittered_stamps(rng: np.random.Generator, n: int, period: int) -> np.ndarray:
    """Strictly increasing integer epoch seconds, ``period`` +-1 s apart."""
    steps = period + rng.integers(-1, 2, size=n)
    return T0 + np.cumsum(steps) - steps[0]


def _power(rng: np.random.Generator, n: int, base: float) -> np.ndarray:
    """Appliance-like power trace: on/off blocks plus noise, 1 decimal."""
    on = np.repeat(rng.random(n // 50 + 1) < 0.4, 50)[:n]
    p = np.where(on, base * (1 + 0.1 * rng.standard_normal(n)), rng.random(n) * 3)
    return np.round(np.abs(p), 1)


# ---------------------------------------------------------------------------
# meter_serve: the initial canonical store and the op stream
# ---------------------------------------------------------------------------

STORE_LAYOUT = (("refit", 10, 8, 4), ("ukdale", 6, 6, 3))  # dataset, houses, period, channels


def meter_store(seed: int, hours: int) -> pd.DataFrame:
    """Canonical readings for 16 houses: REFIT-like (8 s, Aggregate +
    Appliance1..3) and UK-DALE-like (6 s, channel_1..3), ``hours`` long."""
    rng = rng_for(seed, 1)
    frames = []
    for dataset, houses, period, n_ch in STORE_LAYOUT:
        n = hours * 3600 // period
        for h in range(1, houses + 1):
            chans = (
                ["Aggregate"] + [f"Appliance{i}" for i in range(1, n_ch)]
                if dataset == "refit"
                else [f"channel_{i}" for i in range(1, n_ch + 1)]
            )
            for ch in chans:
                frames.append(
                    pd.DataFrame(
                        {
                            "dataset": dataset,
                            "house_id": np.int32(h),
                            "channel_id": ch,
                            "ts": jittered_stamps(rng, n, period),
                            "power": _power(rng, n, float(rng.integers(50, 2000))),
                        }
                    )
                )
    df = pd.concat(frames, ignore_index=True)
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    return df


def write_store_input(store: pd.DataFrame, path: str) -> None:
    """The initial load as a Parquet file (UTC microsecond stamps)."""
    table = pa.Table.from_pandas(store.assign(ts=store["ts"].dt.tz_localize("UTC")), preserve_index=False)
    pq.write_table(table.cast(pa.schema([
        ("dataset", pa.string()), ("house_id", pa.int32()), ("channel_id", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")), ("power", pa.float64()),
    ])), path)


def houses_of(store: pd.DataFrame) -> list[tuple[str, int]]:
    return sorted(set(zip(store["dataset"], store["house_id"].astype(int))))


def meter_ops(seed: int, store: pd.DataFrame, client: int, n_ops: int) -> list[dict]:
    """One client's op stream. The mix is fixed: every 5th op is a late
    upsert (at another phase per client), queries alternate REFIT / UK-DALE houses and resample /
    two-stage aggregate, and range lengths cycle through 1..24 h. The seed
    picks which data each op touches: houses are Zipf(1.2)-popular over a
    seed-permuted order, the length order is shuffled, and range ends are
    biased toward the newest data."""
    rng = rng_for(seed, 2, client)
    houses = houses_of(store)
    perm = rng_for(seed, 3).permutation(len(houses))  # shared by both clients
    ranked = [houses[i] for i in perm]
    by_ds = {ds: [h for h in ranked if h[0] == ds] for ds, *_ in STORE_LAYOUT}

    def zipf(n: int) -> np.ndarray:
        w = 1.0 / np.arange(1, n + 1) ** 1.2
        return w / w.sum()

    lengths = (rng.permutation(24) + 1) * 3600
    t_min = int(store["ts"].min().timestamp())
    t_max = int(store["ts"].max().timestamp())
    by_house = {k: g for k, g in store.groupby(["dataset", "house_id"])}
    chans = {k: sorted(g["channel_id"].unique()) for k, g in by_house.items()}
    secs = {k: g["ts"].to_numpy().astype("datetime64[s]").astype(np.int64) for k, g in by_house.items()}
    ops = []
    q = 0
    for i in range(n_ops):
        if (i + 2 * client) % 5 == 4:  # clients' upserts out of phase
            key = ranked[rng.choice(len(ranked), p=zipf(len(ranked)))]
            ops.append(_late_upsert(rng, by_house[key], secs[key], t_max))
            continue
        pool = by_ds[STORE_LAYOUT[q % 2][0]]
        dataset, house = pool[rng.choice(len(pool), p=zipf(len(pool)))]
        length = int(lengths[q % len(lengths)])
        end = t_max - int(min(rng.exponential(4 * 3600), t_max - t_min - length))
        end -= end % 60
        op = {
            "kind": "meter_query",
            "dataset": dataset,
            "house_id": house,
            "start": end - length,
            "end": end,
            "agg": "aggregate" if (q // 2) % 2 else "resample",
        }
        if op["agg"] == "resample":
            cs = chans[(dataset, house)]
            op["label"] = cs[int(rng.integers(len(cs)))]
        ops.append(op)
        q += 1
    return ops


def _late_upsert(rng: np.random.Generator, house: pd.DataFrame, ts: np.ndarray, t_max: int) -> dict:
    """One late house-hour within the newest 12 h: half corrected rows (an
    existing key, new power), half new rows (an existing stamp + 1 s, which
    never collides with an original stamp because periods are >= 5 s)."""
    hour = t_max - 3600 - int(rng.integers(0, 12)) * 3600
    hour -= hour % 3600
    in_hour = house[(ts >= hour) & (ts < hour + 3600)]
    pick = rng.choice(len(in_hour), size=200, replace=False)
    corr = in_hour.iloc[pick[:100]].copy()
    corr["power"] = np.round(corr["power"].to_numpy() + rng.random(100) * 50 + 1, 1)
    new = in_hour.iloc[pick[100:]].copy()
    new["ts"] = new["ts"] + pd.Timedelta(seconds=1)
    new["power"] = np.round(rng.random(100) * 500, 1)
    rows = pd.concat([corr, new], ignore_index=True)[READING_COLS]
    return {"kind": "late_upsert", "rows": rows}


# ---------------------------------------------------------------------------
# bulk_pipeline: one shard of raw NILM files + one document shard
# ---------------------------------------------------------------------------

REFIT_HOUSES = (1, 2, 3, 4)
REFIT_ACTIVE = ["Aggregate", "Appliance1", "Appliance2", "Appliance3"]
UKDALE_HOUSES = (1, 2)
MQTT_DEVICES = ("shellyplug-a", "shellyplug-b", "shellyplug-c", "shellyplug-d")
MQTT_HOUSE = 100


def write_refit(rng: np.random.Generator, root: str, n: int) -> tuple[pd.DataFrame, int]:
    """CLEAN_House{N}.csv files with jittered 8 s stamps, ~1% duplicated
    stamps and ~2% blank cells. Returns (kept readings, raw value count)."""
    os.makedirs(root, exist_ok=True)
    truth, raw = [], 0
    for h in REFIT_HOUSES:
        unix = jittered_stamps(rng, n, 8)
        dup = np.sort(rng.choice(n, size=n // 100, replace=False))
        unix = np.insert(unix, dup + 1, unix[dup])  # duplicate stamp lines
        m = len(unix)
        cols = {}
        for c in REFIT_ACTIVE:
            v = _power(rng, m, float(rng.integers(50, 2000)))
            cols[c] = np.where(rng.random(m) < 0.02, np.nan, v)
        lines = ["Time,Unix,Aggregate," + ",".join(f"Appliance{i}" for i in range(1, 10)) + ",Issues"]
        stamp = pd.to_datetime(unix, unit="s").strftime("%Y-%m-%d %H:%M:%S")
        cells = [np.where(np.isnan(cols[c]), "", np.char.mod("%.1f", cols[c])) for c in REFIT_ACTIVE]
        blank6 = "," * 5
        for i in range(m):
            lines.append(
                f"{stamp[i]},{unix[i]},{cells[0][i]},{cells[1][i]},{cells[2][i]},{cells[3][i]},{blank6},0"
            )
        with open(os.path.join(root, f"CLEAN_House{h}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")
        for c in REFIT_ACTIVE:
            keep = ~np.isnan(cols[c])
            raw += m
            truth.append(
                pd.DataFrame(
                    {"dataset": "refit", "house_id": h, "channel_id": c,
                     "ts": unix[keep] * 1_000_000, "power": cols[c][keep]}
                )
            )
    return pd.concat(truth, ignore_index=True), raw


def write_ukdale(rng: np.random.Generator, root: str, n: int) -> tuple[pd.DataFrame, int]:
    """house_N/channel_M.dat (6 s) with ~1% malformed lines, plus a
    channel_9_button_press.dat decoy of valid-looking lines per house."""
    truth, raw = [], 0
    bad = ["garbage line", "{t}", "{t} notanumber", "x {p}"]
    for h in UKDALE_HOUSES:
        d = os.path.join(root, f"house_{h}")
        os.makedirs(d, exist_ok=True)
        for ch in (1, 2, 3, "9_button_press"):
            ts = jittered_stamps(rng, n, 6)
            p = _power(rng, n, float(rng.integers(50, 2000)))
            lines = [f"{t} {v:.1f}" for t, v in zip(ts.tolist(), p.tolist())]
            malformed = rng.choice(n, size=n // 100, replace=False)
            for j, i in enumerate(malformed.tolist()):
                lines[i] = bad[j % 4].format(t=ts[i], p=p[i])
            with open(os.path.join(d, f"channel_{ch}.dat"), "w") as f:
                f.write("\n".join(lines) + "\n")
            raw += n
            if ch == "9_button_press":
                continue
            keep = np.ones(n, bool)
            keep[malformed] = False
            truth.append(
                pd.DataFrame(
                    {"dataset": "ukdale", "house_id": h, "channel_id": f"channel_{ch}",
                     "ts": ts[keep] * 1_000_000, "power": p[keep]}
                )
            )
    return pd.concat(truth, ignore_index=True), raw


def write_mqtt(rng: np.random.Generator, path: str, n: int) -> tuple[pd.DataFrame, int]:
    """Shelly JSON-lines: quarter-second stamps (exact in binary), ~1%
    malformed lines, ~1% exact duplicate lines. Truth is per (ts, device)
    mean, i.e. after the reference's groupby-mean dedup."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    recs = []
    for dev in MQTT_DEVICES:
        ts = T0 + np.cumsum(rng.integers(4, 13, size=n)) / 4.0
        p = _power(rng, n, float(rng.integers(5, 300)))
        recs += [(t, dev, v) for t, v in zip(ts.tolist(), p.tolist())]
    order = rng.permutation(len(recs))
    lines = [
        json.dumps({"ts": recs[i][0], "payload": {"dst": f"{recs[i][1]}/events",
                    "params": {"switch:0": {"apower": recs[i][2]}}}})
        for i in order.tolist()
    ]
    dups = rng.choice(len(lines), size=len(lines) // 100, replace=False)
    bad = ["not json {", '{"ts": 1700000000.0, "payload": "oops"}',
           '{"ts": 1700000000.0, "payload": {"dst": "x/events"}}']
    out = lines + [lines[i] for i in dups.tolist()] + [bad[i % 3] for i in range(len(lines) // 100)]
    out = [out[i] for i in rng.permutation(len(out)).tolist()]
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    truth = pd.DataFrame(recs, columns=["ts", "channel_id", "power"])
    truth["ts"] = (truth["ts"] * 4).round().astype(np.int64) * 250_000  # micros
    truth = truth.groupby(["ts", "channel_id"], as_index=False)["power"].mean()
    truth["dataset"], truth["house_id"] = "mqtt", MQTT_HOUSE
    return truth, len(out)


@functools.lru_cache(maxsize=1)
def _vocab() -> np.ndarray:
    """English stopwords plus 3000 made-up words (fixed, seed-independent)."""
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "dan", "gor", "lin"]
    r = np.random.default_rng(7)
    return np.array(
        ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
        + ["".join(r.choice(syl, size=r.integers(2, 4))) + str(i) for i in range(3000)]
    )


def write_documents(rng: np.random.Generator, path: str, n: int) -> dict:
    """Document shard with planted exact duplicates (case/whitespace
    variants), near duplicates (~4% of words replaced) and low-quality
    documents (short or one repeated word). Returns the planted truth."""
    vocab = _vocab()
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    texts = []
    for _ in range(n):
        k = int(rng.integers(60, 160))
        texts.append(list(vocab[rng.choice(len(vocab), size=k, p=p)]))
    # near pairs are the most numerous: the recall check can only tell a
    # lossy LSH from a correct one by how many of them it misses
    n_plant, n_near = n // 20, n // 5
    ids = rng.permutation(n)
    exact_src, exact_dst = ids[:n_plant], ids[n_plant : 2 * n_plant]
    near_src, near_dst = ids[2 * n_plant : 2 * n_plant + n_near], ids[2 * n_plant + n_near : 2 * n_plant + 2 * n_near]
    low = ids[2 * n_plant + 2 * n_near : 3 * n_plant + 2 * n_near]
    out = [" ".join(t) for t in texts]
    for s, d in zip(exact_src.tolist(), exact_dst.tolist()):
        words = texts[s]
        sep = ["  ", "\t", " \n "][d % 3]
        out[d] = sep.join(w.upper() if j % 7 == 0 else w for j, w in enumerate(words)) + " "
    for s, d in zip(near_src.tolist(), near_dst.tolist()):
        words = list(texts[s])
        for j in rng.choice(len(words), size=max(1, round(0.04 * len(words))), replace=False):
            words[j] = str(vocab[rng.integers(10, len(vocab))])
        out[d] = " ".join(words)
    for j, d in enumerate(low.tolist()):
        out[d] = " ".join(texts[d][:8]) if j % 2 else " ".join([texts[d][0]] * 80)
    table = pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)), "text": pa.array(out)})
    pq.write_table(table, path)
    return {
        "texts": out,
        "exact_pairs": list(zip(exact_src.tolist(), exact_dst.tolist())),
        "near_pairs": list(zip(near_src.tolist(), near_dst.tolist())),
    }


def write_embeddings(rng: np.random.Generator, path: str, n: int, dim: int = 64) -> np.ndarray:
    """One float32 embedding per document id; 5% are planted near
    duplicates (cosine ~0.99) of another vector."""
    v = rng.standard_normal((n, dim)).astype(np.float32)
    ids = rng.permutation(n)
    src, dst = ids[: n // 20], ids[n // 20 : 2 * (n // 20)]
    v[dst] = v[src] + 0.1 * rng.standard_normal((len(src), dim)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)
    return v


def bulk_shard(seed: int, index: int, root: str, size: dict) -> dict:
    """Write shard ``index`` of a run under ``root``; return its truth."""
    rng = rng_for(seed, 10, index)
    refit, n_refit = write_refit(rng, os.path.join(root, "refit"), size["refit"])
    ukdale, n_ukdale = write_ukdale(rng, os.path.join(root, "ukdale"), size["ukdale"])
    mqtt, n_mqtt = write_mqtt(rng, os.path.join(root, "mqtt", "log.jsonl"), size["mqtt"])
    docs = write_documents(rng, os.path.join(root, "docs.parquet"), size["docs"])
    emb = write_embeddings(rng, os.path.join(root, "emb.parquet"), size["docs"])
    readings = pd.concat([refit, ukdale, mqtt], ignore_index=True)[READING_COLS]
    readings["ts"] = pd.to_datetime(readings["ts"], unit="us")
    return {
        "root": root,
        "readings": readings,
        "docs": docs,
        "emb": emb,
        "input_records": n_refit + n_ukdale + n_mqtt + size["docs"],
    }
