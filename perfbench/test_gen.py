"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SIZE = {"refit": 500, "ukdale": 500, "mqtt": 300, "docs": 200}


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dp, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dp, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _meter_digest(seed: int) -> str:
    store = gen.meter_store(seed, 24)
    h = hashlib.sha256(pd.util.hash_pandas_object(store, index=False).to_numpy().tobytes())
    for op in gen.meter_ops(seed, store, 0, 20):
        if op["kind"] == "late_upsert":
            h.update(pd.util.hash_pandas_object(op["rows"], index=False).to_numpy().tobytes())
        else:
            h.update(repr(sorted(op.items())).encode())
    return h.hexdigest()


def test_bulk_shard_files_are_byte_identical_per_seed(tmp_path):
    digests = {}
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        gen.bulk_shard(seed, 0, str(tmp_path / name), SIZE)
        digests[name] = _tree_digest(str(tmp_path / name))
    assert digests["a"] == digests["b"]
    assert len(digests["a"]) == 15  # 4 REFIT csv, 8 UK-DALE .dat, 1 MQTT log, docs, embeddings
    assert all(digests["a"][k] != digests["c"][k] for k in digests["a"])


def test_meter_inputs_repeat_per_seed():
    assert _meter_digest(5) == _meter_digest(5)
    assert _meter_digest(5) != _meter_digest(6)


def test_planted_truth_is_consistent(tmp_path):
    shard = gen.bulk_shard(3, 0, str(tmp_path), SIZE)
    texts = shard["docs"]["texts"]
    norm = [" ".join(t.lower().split()) for t in texts]
    assert all(norm[a] == norm[b] for a, b in shard["docs"]["exact_pairs"])
    assert all(norm[a] != norm[b] for a, b in shard["docs"]["near_pairs"])
    readings = shard["readings"]
    assert set(readings["dataset"]) == {"refit", "ukdale", "mqtt"}
    assert not readings["power"].isna().any()
    ukdale = readings[readings["dataset"] == "ukdale"]
    assert set(ukdale["channel_id"]) == {"channel_1", "channel_2", "channel_3"}  # decoy excluded
