"""Tests of the benchmark itself (no Spark): the generator is
deterministic per seed, and every workload's check catches a corrupted
result.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import check
import gen


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _make_all(seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    pois = gen.gen_pois(seed, 200, out)
    assign = gen.gen_assign_input(seed, 0, 5000, pois, out)
    shard = gen.gen_trajectory_shard(seed, 0, 200, 30, out)
    ingest = gen.gen_ingest(seed, 4, 48, 500, 30, 0.25, out)
    return {"pois": pois, "assign": assign, "shard": shard, "ingest": ingest}


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    return _make_all(7, str(tmp_path_factory.mktemp("seed7")))


def test_generator_is_deterministic_per_seed(tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    c = str(tmp_path / "c")
    ra, rb, rc = _make_all(7, a), _make_all(7, b), _make_all(8, c)
    files = sorted(os.listdir(a))
    assert files == sorted(os.listdir(b))
    assert _digest(os.path.join(a, f) for f in files) == _digest(
        os.path.join(b, f) for f in files
    )
    assert ra["assign"]["shares"] == rb["assign"]["shares"]
    assert ra["shard"]["shares"] == rb["shard"]["shares"]
    assert ra["ingest"]["shares"] == rb["ingest"]["shares"]
    assert _digest(os.path.join(a, f) for f in files) != _digest(
        os.path.join(c, f) for f in sorted(os.listdir(c))
    )


def test_generator_states_its_shares(inputs):
    shares = inputs["assign"]["shares"]
    assert abs(shares["outside"] - 0.10) < 0.03
    assert abs(sum(v for k, v in shares.items() if k.startswith(("near_", "outside"))) - 1) < 1e-3
    ing = inputs["ingest"]
    assert ing["shares"]["late_deltas"] == 0.25
    assert all(d["touched_hours"] > 2 for d in ing["deltas"] if d["late"])
    assert all(d["touched_hours"] <= 2 for d in ing["deltas"] if not d["late"])


def _geohash_str(code: int, precision: int) -> str:
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    return "".join(alphabet[(code >> (5 * (precision - 1 - k))) & 31] for k in range(precision))


def test_geohash_reference_matches_known_cells():
    # the classic example point of the geohash format
    code = check.geohash_code(np.array([57.64911]), np.array([10.40744]), 8)
    assert _geohash_str(int(code[0]), 8) == "u4pruydq"
    code = check.geohash_code(np.array([31.2304]), np.array([121.4737]), 6)
    assert _geohash_str(int(code[0]), 6) == "wtw3sj"


def test_assign_check_catches_corruption(inputs):
    want = check.expected_assign(inputs["pois"], inputs["assign"])
    assert check.compare_assign(want.copy(), want) == []
    assert 0.8 < check.hit_ratio(want) < 0.95
    bad = want.copy()
    bad.iloc[3, bad.columns.get_loc("count")] += 1
    assert check.compare_assign(bad, want)
    bad = want.copy()
    bad.iloc[0, bad.columns.get_loc("poi_type")] = 8 if bad.iloc[0]["poi_type"] != 8 else 1
    assert check.compare_assign(bad, want)
    assert check.compare_assign(want.iloc[1:], want)


def _shard_frame(shard) -> pd.DataFrame:
    df = pq.read_table(shard["path"]).to_pandas()
    df["ts_s"] = check.epoch_s(df["ts"])
    return df


def test_trajectory_check_catches_corruption(inputs):
    want = check.expected_trajectory(_shard_frame(inputs["shard"]))
    same = {k: want[k].copy() for k in ("od", "occupancy", "home")}
    assert check.compare_trajectory(same, want) == []
    for table, col in (("od", "cnt"), ("od", "frac"), ("occupancy", "n_users"), ("home", "home_region")):
        bad = {k: want[k].copy() for k in ("od", "occupancy", "home")}
        bad[table].iloc[5, bad[table].columns.get_loc(col)] += 1
        assert check.compare_trajectory(bad, want), (table, col)


def test_trajectory_reference_gap_fill_branches():
    # one user: 1 h gap, 3 h gap (forward fill), 36 h gap (out of
    # observation), then the closing row
    h0 = check.H0
    pings = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 1],
            "ts_s": [(h0 + h) * gen.HOUR_S + 60 for h in (0, 1, 4, 40)],
            "region_id": [1, 2, 3, 4],
            "event_id": [1, 2, 3, 4],
        }
    )
    od = check.expected_trajectory(pings)["od"]
    got = sorted(zip(od["hour"] - h0, od["orig"], od["dest"]))
    assert got == [
        (0, 0, 1),
        (1, 1, 2),
        (2, 2, 2),
        (3, 2, 2),
        (4, 2, 3),
        (5, 3, 0),
        (40, 0, 4),
        (41, 4, 0),
    ]


def test_ingest_check_catches_corruption(inputs):
    ing = inputs["ingest"]
    state = check.IngestState(ing)
    d = ing["deltas"][0]
    state.merge(d)
    h = int(d["hour"] + check.H0)
    frac = state.fractions(h)
    occ = state.occupancy_window(h)
    assert check.compare_ingest(frac.copy(), frac, occ.copy(), occ) == []
    bad = occ.copy()
    bad.iloc[0, bad.columns.get_loc("cnt")] += 1
    assert check.compare_ingest(frac, frac, bad, occ)
    # a merge the engine skipped shows as a count mismatch
    before = check.IngestState(ing).fractions(h)
    assert check.compare_ingest(before, frac, occ, occ)
