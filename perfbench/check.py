"""Independent reference results for the benchmark's correctness checks.

Nothing here imports the engine: the geohash encoder, the region and
POI-type cascade, hourly positions, gap-fill, OD, occupancy, home
location and the incremental tables' expected state are re-derived with
numpy and pandas from the generator's own arrays. Each ``compare_*``
returns a list of mismatch descriptions; an empty list means the
engine's result is correct.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

# -- geohash --------------------------------------------------------------


def geohash_code(lat: np.ndarray, lon: np.ndarray, precision: int) -> np.ndarray:
    """Integer geohash cell code (the 5*precision interleaved bits).

    Uses the same fixed-point cell index, in the same operation order,
    as a double-precision JVM evaluation of
    ``floor((coord - lo) / (hi - lo) * 2**bits)`` clamped to the grid,
    then interleaves longitude (even stream bits) with latitude.
    Distinct codes at one precision are distinct base-32 strings, and
    the base-32 alphabet is in ASCII order, so code order is string
    order."""
    nbits = precision * 5
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    xl = np.clip(
        np.floor((lon + 180.0) / 360.0 * float(1 << nlon)), 0, (1 << nlon) - 1
    ).astype(np.int64)
    yl = np.clip(
        np.floor((lat + 90.0) / 180.0 * float(1 << nlat)), 0, (1 << nlat) - 1
    ).astype(np.int64)
    v = np.zeros(lat.shape, np.int64)
    for i in range(nlon):
        v |= ((xl >> (nlon - 1 - i)) & 1) << (nbits - 1 - 2 * i)
    for i in range(nlat):
        v |= ((yl >> (nlat - 1 - i)) & 1) << (nbits - 2 - 2 * i)
    return v


# -- assign ---------------------------------------------------------------

REGION_PRECISIONS = (6, 5)
TYPE_LEVELS = ((7, 8), (6, 7), (5, 7), (4, 6), (3, 6), (2, 6), (1, 6))
DEFAULT_TYPE = 8


def expected_assign(pois: dict, pings: dict) -> pd.DataFrame:
    """Expected per-(hour, region_id, poi_type) ping counts.

    region_id: dense rank of the POIs' geohash5 cells; a ping takes the
    region of its geohash6 cell if a POI shares it, else of its
    geohash5 cell, else 0. poi_type: the first (type, precision) level
    whose POI cells of that type contain the ping's cell, else 8."""
    p_lat = pois["lat_u"] / 1e6
    p_lon = pois["lon_u"] / 1e6
    lat = pings["lat_u"] / 1e6
    lon = pings["lon_u"] / 1e6
    p_codes = {p: geohash_code(p_lat, p_lon, p) for p in (5, 6, 7, 8)}
    codes = {p: geohash_code(lat, lon, p) for p in (5, 6, 7, 8)}
    gh5_rank = {c: i + 1 for i, c in enumerate(np.unique(p_codes[5]))}
    agent = np.array([gh5_rank[c] for c in p_codes[5]], np.int64)

    region = np.zeros(lat.size, np.int64)
    unresolved = np.ones(lat.size, bool)
    for p in REGION_PRECISIONS:
        dim = pd.Series(agent).groupby(p_codes[p]).min()
        hit = pd.Series(codes[p]).map(dim).to_numpy()
        take = unresolved & ~np.isnan(hit)
        region[take] = hit[take].astype(np.int64)
        unresolved &= ~take

    ptype = np.full(lat.size, DEFAULT_TYPE, np.int64)
    unresolved = np.ones(lat.size, bool)
    for t, p in TYPE_LEVELS:
        cells = np.unique(p_codes[p][pois["type"] == t])
        take = unresolved & np.isin(codes[p], cells)
        ptype[take] = t
        unresolved &= ~take

    hour = pings["ts_s"] // gen.HOUR_S * gen.HOUR_S
    df = pd.DataFrame({"hour": hour, "region_id": region, "poi_type": ptype})
    out = df.groupby(["hour", "region_id", "poi_type"]).size().rename("count")
    return out.reset_index().sort_values(["hour", "region_id", "poi_type"])


def read_assign_output(path: str) -> pd.DataFrame:
    df = pq.read_table(path).to_pandas()
    return pd.DataFrame(
        {
            "hour": epoch_s(df["hour"]),
            "region_id": df["region_id"].astype(np.int64),
            "poi_type": df["poi_type"].astype(np.int64),
            "count": df["count"].astype(np.int64),
        }
    )


def compare_assign(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return _compare_exact(got, want, ["hour", "region_id", "poi_type"], "assign counts")


def hit_ratio(counts: pd.DataFrame) -> float:
    """Share of pings resolved to a non-sentinel region."""
    total = counts["count"].sum()
    return float(counts.loc[counts["region_id"] != 0, "count"].sum() / total)


# -- trajectory -----------------------------------------------------------

MAX_FILL_HOURS = 24
NIGHT_START, NIGHT_END = 19, 8


def expected_trajectory(pings: pd.DataFrame) -> dict:
    """Expected OD fractions, record occupancy and home regions for one
    shard of pre-assigned pings (user_id, ts_s, region_id, event_id).
    Hours are integer epoch hours."""
    p = pings.assign(hour=pings["ts_s"] // gen.HOUR_S)
    # latest ping per user-hour, event_id breaking timestamp ties
    p = p.sort_values(["user_id", "hour", "ts_s", "event_id"])
    pos = p.drop_duplicates(["user_id", "hour"], keep="last")
    user = pos["user_id"].to_numpy()
    hour = pos["hour"].to_numpy()
    reg = pos["region_id"].to_numpy().astype(np.int64)
    n = user.size
    first = np.r_[True, user[1:] != user[:-1]]
    last = np.r_[user[1:] != user[:-1], True]
    gap = np.r_[0, hour[1:] - hour[:-1]]
    prev_reg = np.r_[0, reg[:-1]]
    oversized = ~first & (gap > MAX_FILL_HOURS)
    fill = ~first & ~oversized

    # rows each position emits: its own hour, the forward-filled hours
    # before it, the leave-observation row of an oversized gap, and the
    # closing row after a user's last observation
    e_hour, e_reg, e_pre = [hour], [reg], [np.where(first | oversized, 0, prev_reg)]
    k = np.where(fill, gap - 1, 0)
    idx = np.repeat(np.arange(n), k)
    step = np.arange(idx.size) - np.repeat(np.cumsum(k) - k, k) + 1
    e_hour.append(hour[idx] - gap[idx] + step)
    e_reg.append(prev_reg[idx])
    e_pre.append(prev_reg[idx])
    o = np.nonzero(oversized)[0]
    e_hour.append(hour[o] - gap[o] + 1)
    e_reg.append(np.zeros(o.size, np.int64))
    e_pre.append(prev_reg[o])
    c = np.nonzero(last)[0]
    e_hour.append(hour[c] + 1)
    e_reg.append(np.zeros(c.size, np.int64))
    e_pre.append(reg[c])
    edges = pd.DataFrame(
        {
            "hour": np.concatenate(e_hour),
            "orig": np.concatenate(e_pre),
            "dest": np.concatenate(e_reg),
        }
    )
    od = edges.groupby(["hour", "orig", "dest"]).size().rename("cnt").reset_index()
    od["frac"] = od["cnt"] / od.groupby(["hour", "orig"])["cnt"].transform("sum")
    occ = (
        edges.groupby(["dest", "hour"]).size().rename("n_users").reset_index()
        .rename(columns={"dest": "region_id"})
    )
    return {
        "od": od.sort_values(["hour", "orig", "dest"]),
        "occupancy": occ.sort_values(["region_id", "hour"]),
        "home": _expected_home(pings),
        "positions": n,
        "edges": len(edges),
    }


def _expected_home(pings: pd.DataFrame) -> pd.DataFrame:
    hod = (pings["ts_s"] // gen.HOUR_S) % 24
    night = pings[(hod >= NIGHT_START) | (hod <= NIGHT_END)].copy()
    day = night["ts_s"] // 86400
    night["night"] = np.where(hod[night.index] <= NIGHT_END, day - 1, day)
    anchors = night.sort_values(["user_id", "night", "ts_s", "region_id"]).drop_duplicates(
        ["user_id", "night"]
    )
    votes = anchors.groupby(["user_id", "region_id"]).size().rename("n").reset_index()
    votes = votes.sort_values(["user_id", "n", "region_id"], ascending=[True, False, True])
    home = votes.drop_duplicates("user_id")[["user_id", "region_id"]]
    return home.rename(columns={"region_id": "home_region"}).sort_values("user_id")


def read_trajectory_output(paths: dict) -> dict:
    od = pq.read_table(paths["od"]).to_pandas()
    occ = pq.read_table(paths["occupancy"]).to_pandas()
    home = pq.read_table(paths["home"]).to_pandas()
    return {
        "od": pd.DataFrame(
            {
                "hour": epoch_s(od["hour"]) // gen.HOUR_S,
                "orig": od["orig"].astype(np.int64),
                "dest": od["dest"].astype(np.int64),
                "cnt": od["cnt"].astype(np.int64),
                "frac": od["frac"].astype(np.float64),
            }
        ),
        "occupancy": pd.DataFrame(
            {
                "region_id": occ["region_id"].astype(np.int64),
                "hour": epoch_s(occ["hour"]) // gen.HOUR_S,
                "n_users": occ["n_users"].astype(np.int64),
            }
        ),
        "home": pd.DataFrame(
            {
                "user_id": home["user_id"].astype(np.int64),
                "home_region": home["home_region"].astype(np.int64),
            }
        ),
    }


def compare_trajectory(got: dict, want: dict) -> list[str]:
    return (
        _compare_exact(got["od"], want["od"], ["hour", "orig", "dest"], "od", frac="frac")
        + _compare_exact(got["occupancy"], want["occupancy"], ["region_id", "hour"], "occupancy")
        + _compare_exact(got["home"], want["home"], ["user_id"], "home")
    )


# -- ingest ---------------------------------------------------------------


H0 = gen.EPOCH_S // gen.HOUR_S  # epoch hour of week hour 0


class IngestState:
    """Expected contents of the OD and occupancy count tables: the
    preloaded history plus every delta merged so far. Hours are epoch
    hours (the generator's week hours + H0)."""

    def __init__(self, history: dict):
        od = history["od"]
        occ = history["occ"]
        self.od = pd.Series(
            od["cnt"],
            index=pd.MultiIndex.from_arrays([od["hour"] + H0, od["orig"], od["dest"]]),
        )
        self.occ = pd.Series(
            occ["cnt"],
            index=pd.MultiIndex.from_arrays([occ["region_id"], occ["hour"] + H0]),
        )

    def merge(self, delta: dict) -> None:
        e = pd.DataFrame(
            {"hour": delta["hours"] + H0, "orig": delta["orig"], "dest": delta["dest"]}
        )
        od = e.groupby(["hour", "orig", "dest"]).size()
        occ = e.groupby(["dest", "hour"]).size()
        occ.index.names = [None, None]
        od.index.names = [None, None, None]
        self.od = self.od.add(od, fill_value=0).astype(np.int64)
        self.occ = self.occ.add(occ, fill_value=0).astype(np.int64)

    def fractions(self, hour: int) -> pd.DataFrame:
        s = self.od.xs(hour, level=0)
        df = pd.DataFrame(
            {
                "hour": hour,
                "orig": s.index.get_level_values(0),
                "dest": s.index.get_level_values(1),
                "cnt": s.to_numpy(),
            }
        )
        df["frac"] = df["cnt"] / df.groupby("orig")["cnt"].transform("sum")
        return df.sort_values(["orig", "dest"])

    def occupancy_window(self, hour: int, hours: int = 24) -> pd.DataFrame:
        h = self.occ.index.get_level_values(1)
        s = self.occ[(h > hour - hours) & (h <= hour)]
        return pd.DataFrame(
            {
                "region_id": s.index.get_level_values(0),
                "hour": s.index.get_level_values(1),
                "cnt": s.to_numpy(),
            }
        ).sort_values(["region_id", "hour"])

    def live_rows(self) -> int:
        return len(self.od) + len(self.occ)


def ingest_rows_to_frame(rows: list, cols: list[str]) -> pd.DataFrame:
    """Collected Spark Rows (hour as datetime) -> frame, hours as epoch hours."""
    df = pd.DataFrame([tuple(r) for r in rows], columns=cols)
    if "hour" in df:
        df["hour"] = epoch_s(df["hour"]) // gen.HOUR_S
    for c in cols:
        if c != "frac":
            df[c] = df[c].astype(np.int64)
    return df


def compare_ingest(got_frac, want_frac, got_occ, want_occ) -> list[str]:
    return _compare_exact(
        got_frac, want_frac, ["hour", "orig", "dest"], "od fractions", frac="frac"
    ) + _compare_exact(got_occ, want_occ, ["region_id", "hour"], "occupancy window")


# -- helpers --------------------------------------------------------------


def epoch_s(s: pd.Series) -> pd.Series:
    """Timestamps of any unit / timezone -> integer epoch seconds."""
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return (s.astype("datetime64[us]").astype(np.int64) // 1_000_000).astype(np.int64)


def _compare_exact(
    got: pd.DataFrame, want: pd.DataFrame, keys: list[str], what: str, frac: str | None = None
) -> list[str]:
    """Row-set equality on ``keys`` and every other column; a ``frac``
    column is compared to 1e-12 relative."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    cols = [c for c in want.columns if c != frac]
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    bad = []
    for c in cols:
        if not np.array_equal(g[c].to_numpy(np.int64), w[c].to_numpy(np.int64)):
            n = int((g[c].to_numpy(np.int64) != w[c].to_numpy(np.int64)).sum())
            bad.append(f"{what}: column {c} differs in {n} rows")
    if frac is not None and not np.allclose(
        g[frac].to_numpy(), w[frac].to_numpy(), rtol=1e-12, atol=0
    ):
        bad.append(f"{what}: column {frac} differs")
    return bad
