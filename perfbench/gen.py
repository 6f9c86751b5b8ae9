"""Seeded input generator for the benchmark workloads.

Runs outside the engine (numpy + pyarrow only). The same seed always
gives byte-identical files. Each workload gets K equal-sized inputs that
its operations cycle through, so every operation does the same work.
Every ``gen_*`` function returns a description of what it wrote: paths,
row and byte counts, and the realised shares of the input properties the
engine's behaviour depends on (spatial skew, gaps, late rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# One July 2019 week, the reference's observation month (UTC).
EPOCH_S = 1561939200  # 2019-07-01 00:00:00 UTC
HOUR_S = 3600

# Area the POIs cover, and a disjoint box for out-of-area pings.
POI_LAT = (30.90, 31.50)
POI_LON = (121.10, 121.90)
OUTSIDE_LAT = (29.50, 30.40)
OUTSIDE_LON = (119.00, 120.00)

# Distance classes of an assign ping from its anchor POI, as a half-width
# in degrees: inside the POI's geohash8 cell (~19 m), geohash7 scale
# (~150 m), geohash6 scale (~1 km) and geohash5 scale (~5 km).
DIST_CLASSES = {"gh8": 0.00004, "gh7": 0.0008, "gh6": 0.005, "gh5": 0.025}


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent stream per (seed, purpose): changing one input's size
    # never shifts the random numbers another input sees
    return np.random.default_rng([seed, *stream.encode()])


def _decimal_str(micro: np.ndarray) -> pa.Array:
    """Micro-degree integers -> "123.456789" strings, exact to 6
    decimals, built with Arrow kernels (no Python loop). Parsing the
    string back gives exactly ``micro / 1e6``: both are the double
    nearest the same decimal."""
    ip = pa.array(micro // 1_000_000)
    frac = pc.utf8_lpad(pc.cast(pa.array(micro % 1_000_000), pa.string()), 6, "0")
    return pc.binary_join_element_wise(pc.cast(ip, pa.string()), frac, ".")


def _write_csv(table: pa.Table, path: str, delimiter: str) -> None:
    # header written by hand: Arrow quotes header names whatever the
    # quoting style
    with open(path, "wb") as f:
        f.write((delimiter.join(table.column_names) + "\n").encode())
        pacsv.write_csv(
            table,
            f,
            pacsv.WriteOptions(
                include_header=False, delimiter=delimiter, quoting_style="none"
            ),
        )


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# -- assign ---------------------------------------------------------------


def gen_pois(seed: int, n_poi: int, out_dir: str) -> dict:
    """POI dimension CSV (longitude, latitude, type, Title, Larea):
    POIs clustered around a few dozen centres, types 1..7 skewed toward
    residences (type 1)."""
    rng = _rng(seed, "pois")
    n_centres = 40
    c_lat = rng.uniform(*POI_LAT, n_centres)
    c_lon = rng.uniform(*POI_LON, n_centres)
    c = rng.choice(n_centres, n_poi, p=_zipf_weights(n_centres, 0.8))
    lat = np.clip(c_lat[c] + rng.normal(0, 0.03, n_poi), *POI_LAT)
    lon = np.clip(c_lon[c] + rng.normal(0, 0.03, n_poi), *POI_LON)
    lat_u = np.round(lat * 1e6).astype(np.int64)
    lon_u = np.round(lon * 1e6).astype(np.int64)
    ptype = rng.choice(
        np.arange(1, 8), n_poi, p=[0.30, 0.15, 0.12, 0.15, 0.12, 0.08, 0.08]
    ).astype(np.int32)
    table = pa.table(
        {
            "longitude": _decimal_str(lon_u),
            "latitude": _decimal_str(lat_u),
            "type": pa.array(ptype),
            "Title": pa.array([f"poi{i}" for i in range(n_poi)]),
            "Larea": pa.array(np.round(rng.uniform(100, 5000, n_poi), 1)),
        }
    )
    path = os.path.join(out_dir, "poi.csv")
    _write_csv(table, path, ",")
    return {
        "path": path,
        "rows": n_poi,
        "bytes": os.path.getsize(path),
        "lat_u": lat_u,
        "lon_u": lon_u,
        "type": ptype,
    }


def gen_assign_input(
    seed: int,
    k: int,
    n_rows: int,
    pois: dict,
    out_dir: str,
    outside_share: float = 0.10,
) -> dict:
    """One raw ping TSV (imei_id, imsi, lgt, ltt, ts) of ``n_rows`` rows
    on day ``k`` of the week. Pings sit near a Zipf-popular POI at one
    of the DIST_CLASSES distances (equal shares), except
    ``outside_share`` that fall outside the POI area."""
    rng = _rng(seed, f"assign{k}")
    n_poi = len(pois["type"])
    anchor = rng.choice(n_poi, n_rows, p=_zipf_weights(n_poi, 1.1))
    names = list(DIST_CLASSES)
    shares = [(1 - outside_share) / len(names)] * len(names) + [outside_share]
    cls = rng.choice(len(names) + 1, n_rows, p=shares)
    half = np.array([DIST_CLASSES[n] for n in names] + [0.0])[cls]
    lat_u = pois["lat_u"][anchor] + np.round(
        rng.uniform(-1, 1, n_rows) * half * 1e6
    ).astype(np.int64)
    lon_u = pois["lon_u"][anchor] + np.round(
        rng.uniform(-1, 1, n_rows) * half * 1e6
    ).astype(np.int64)
    out = cls == len(names)
    n_out = int(out.sum())
    lat_u[out] = np.round(rng.uniform(*OUTSIDE_LAT, n_out) * 1e6).astype(np.int64)
    lon_u[out] = np.round(rng.uniform(*OUTSIDE_LON, n_out) * 1e6).astype(np.int64)
    # diurnal activity: busier by day than by night
    hour_w = np.array([1, 1, 1, 1, 1, 2, 4, 7, 8, 7, 6, 6, 7, 6, 6, 6, 7, 8, 8, 7, 5, 4, 3, 2], float)
    hour = rng.choice(24, n_rows, p=hour_w / hour_w.sum())
    ts_s = EPOCH_S + k * 24 * HOUR_S + hour * HOUR_S + rng.integers(0, HOUR_S, n_rows)
    user = rng.integers(0, max(1, n_rows // 20), n_rows)
    imei = pc.binary_join_element_wise(
        "u", pc.cast(pa.array(user), pa.string()), ""
    )
    table = pa.table(
        {
            "imei_id": imei,
            "imsi": imei,
            "lgt": _decimal_str(lon_u),
            "ltt": _decimal_str(lat_u),
            "ts": pc.strftime(
                pa.array(ts_s, pa.timestamp("s")),
                format="%Y-%m-%d %H:%M:%S",
            ),
        }
    )
    path = os.path.join(out_dir, f"pings_{k}.tsv")
    _write_csv(table, path, "\t")
    realised = np.bincount(cls, minlength=len(names) + 1) / n_rows
    return {
        "path": path,
        "rows": n_rows,
        "bytes": os.path.getsize(path),
        "lat_u": lat_u,
        "lon_u": lon_u,
        "ts_s": ts_s,
        "shares": {
            **{f"near_{n}": round(float(realised[i]), 4) for i, n in enumerate(names)},
            "outside": round(float(realised[-1]), 4),
            "top_poi_ping_share": round(
                float(np.bincount(anchor).max() / n_rows), 4
            ),
        },
    }


# -- trajectory -----------------------------------------------------------

# Gap mixture between a user's consecutive active hours: 1 h (plain
# transition), 2-24 h (forward-filled), 25-60 h (out of observation).
GAP_SHARES = {"gap_1h": 0.72, "gap_2_24h": 0.24, "gap_gt24h": 0.04}
WEEK_HOURS = 168


def gen_trajectory_shard(
    seed: int, k: int, n_users: int, n_regions: int, out_dir: str
) -> dict:
    """One user shard of pre-assigned pings (user_id, ts, region_id,
    event_id) over the week, as parquet. Users get a Zipf-popular home
    region and three favourite regions; activity per user is skewed
    (lognormal pings per active hour) and the gaps between active hours
    follow GAP_SHARES. Some pings (about 6 %) repeat the previous ping's
    timestamp within the user-hour, so the event_id tiebreak matters."""
    rng = _rng(seed, f"traj{k}")
    p_gap = np.array(list(GAP_SHARES.values()))
    # draw enough gaps per user to cover the week, then cut at the end
    max_steps = WEEK_HOURS
    kind = rng.choice(3, (n_users, max_steps), p=p_gap)
    gap = np.where(
        kind == 0,
        1,
        np.where(
            kind == 1,
            rng.integers(2, 25, (n_users, max_steps)),
            rng.integers(25, 61, (n_users, max_steps)),
        ),
    )
    start = rng.integers(0, 24, n_users)
    hours = start[:, None] + np.cumsum(gap, axis=1) - gap[:, 0:1]
    alive = hours < WEEK_HOURS
    u_idx, step = np.nonzero(alive)
    hr = hours[u_idx, step]
    # realised gap shares over transitions actually inside the week
    trans = alive[:, 1:] & alive[:, :-1]
    tk = kind[:, 1:][trans]
    gap_realised = np.bincount(tk, minlength=3) / max(1, tk.size)

    home = rng.choice(n_regions, n_users, p=_zipf_weights(n_regions, 0.9)) + 1
    fav = rng.integers(1, n_regions + 1, (n_users, 3))
    night = ((hr % 24) >= 19) | ((hr % 24) <= 8)
    at_home = rng.random(hr.size) < np.where(night, 0.8, 0.35)
    region = np.where(at_home, home[u_idx], fav[u_idx, rng.integers(0, 3, hr.size)])

    lam = rng.lognormal(0.3, 0.6, n_users)
    per_hour = 1 + rng.poisson(lam[u_idx])
    rep = np.repeat(np.arange(hr.size), per_hour)
    n = rep.size
    ts_s = EPOCH_S + hr[rep] * HOUR_S + rng.integers(0, HOUR_S, n)
    dup = rng.random(n) < 0.1
    first_of_hour = np.r_[True, rep[1:] != rep[:-1]]
    dup &= ~first_of_hour
    ts_s = np.where(dup, np.r_[ts_s[:1], ts_s[:-1]], ts_s)
    # a minority of pings in an hour are elsewhere (the latest ping wins)
    ping_region = np.where(
        rng.random(n) < 0.15, fav[u_idx[rep], rng.integers(0, 3, n)], region[rep]
    )
    user_id = k * 10_000_000 + u_idx[rep]
    event_id = rng.permutation(n).astype(np.int64) + k * 100_000_000
    table = pa.table(
        {
            "user_id": pa.array(user_id.astype(np.int64)),
            "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
            "region_id": pa.array(ping_region.astype(np.int32)),
            "event_id": pa.array(event_id),
        }
    )
    path = os.path.join(out_dir, f"traj_{k}.parquet")
    pq.write_table(table, path)
    per_user = np.bincount(u_idx[rep], minlength=n_users)
    return {
        "path": path,
        "rows": n,
        "bytes": os.path.getsize(path),
        "users": n_users,
        "shares": {
            **{
                name: round(float(gap_realised[i]), 4)
                for i, name in enumerate(GAP_SHARES)
            },
            "dup_ts": round(float(dup.mean()), 4),
            "top1pct_user_ping_share": round(
                float(np.sort(per_user)[-max(1, n_users // 100):].sum() / n), 4
            ),
        },
    }


# -- ingest ---------------------------------------------------------------


def _hour_edges(rng: np.random.Generator, n: int, n_regions: int):
    """Edge rows (pre_region_id, region_id) for one hour: Zipf-popular
    origins, 80 % stay in place, a few rows entering/leaving observation
    through sentinel region 0."""
    pre = rng.choice(n_regions, n, p=_zipf_weights(n_regions, 0.9)) + 1
    move = rng.random(n) >= 0.8
    dest = np.where(move, rng.integers(1, n_regions + 1, n), pre)
    sent = rng.random(n)
    pre = np.where(sent < 0.01, 0, pre)
    dest = np.where(sent > 0.99, 0, dest)
    return pre.astype(np.int32), dest.astype(np.int32)


def _ts_array(hours: np.ndarray) -> pa.Array:
    return pa.array(
        (EPOCH_S + hours.astype(np.int64) * HOUR_S) * 1_000_000,
        pa.timestamp("us", tz="UTC"),
    )


def gen_ingest(
    seed: int,
    k_deltas: int,
    history_hours: int,
    rows_per_hour: int,
    n_regions: int,
    late_share: float,
    out_dir: str,
) -> dict:
    """History and deltas for the ingest part of the flow workload.

    History: ``history_hours`` (at least 24 + ``k_deltas``) of hourly OD counts (hour, orig, dest, cnt) and
    occupancy counts (region_id, hour, cnt), aggregated from
    ``rows_per_hour`` edge rows per hour, as parquet.

    Deltas: ``k_deltas`` edge files (user_id, region_id, hour, pre_hour,
    pre_region_id) of ``rows_per_hour`` rows each. Delta i re-delivers
    hour ``h_i`` of the history with 5 % of its rows for hour
    ``h_i - 1`` (two partitions, the narrow merge path). A
    ``late_share`` of the deltas instead spread 10 % of their rows over
    the previous 23 hours (up to 24 partitions, the bulk merge path).
    Deltas target hours of the preloaded history, so the table keeps
    its partition count and every merge does the same work."""
    rng = _rng(seed, "ingest")
    hist_hours = np.repeat(np.arange(history_hours), rows_per_hour)
    pre, dest = _hour_edges(rng, hist_hours.size, n_regions)
    od = _aggregate({"hour": hist_hours, "orig": pre, "dest": dest})
    occ = _aggregate({"region_id": dest, "hour": hist_hours})
    od_path = os.path.join(out_dir, "hist_od.parquet")
    occ_path = os.path.join(out_dir, "hist_occ.parquet")
    pq.write_table(_count_table(od), od_path)
    pq.write_table(_count_table(occ), occ_path)

    # late deltas at fixed, evenly spaced positions whatever the seed
    # (2, 6, ... for a 0.25 share): operation i always merges the same
    # kind of delta, so every run does the same work; the warm-up
    # operation 0 merges a narrow delta and the first three timed ones
    # a narrow, a late and a narrow one
    every = max(1, int(round(1 / late_share))) if late_share > 0 else k_deltas + 1
    late = (np.arange(k_deltas) % every) == every // 2
    # successive deltas land far apart in the hours after the first day
    span = history_hours - 24
    step = next(s for s in range(span // 3, span) if np.gcd(s, span) == 1)
    deltas = []
    for i in range(k_deltas):
        h = 24 + (i * step) % span
        hours = np.full(rows_per_hour, h)
        if late[i]:
            lr = rng.random(rows_per_hour) < 0.10
            hours[lr] = h - rng.integers(1, 24, int(lr.sum()))
        else:
            hours[rng.random(rows_per_hour) < 0.05] = h - 1
        pre_d, dest_d = _hour_edges(rng, rows_per_hour, n_regions)
        table = pa.table(
            {
                "user_id": pa.array(rng.integers(0, 10**9, rows_per_hour)),
                "region_id": pa.array(dest_d),
                "hour": _ts_array(hours),
                "pre_hour": _ts_array(hours - 1),
                "pre_region_id": pa.array(pre_d),
            }
        )
        path = os.path.join(out_dir, f"delta_{i}.parquet")
        pq.write_table(table, path)
        deltas.append(
            {
                "path": path,
                "rows": rows_per_hour,
                "bytes": os.path.getsize(path),
                "hour": int(h),
                "late": bool(late[i]),
                "touched_hours": int(np.unique(hours).size),
                "hours": hours,
                "orig": pre_d,
                "dest": dest_d,
            }
        )
    late_rows = sum(int((d["hours"] != d["hour"]).sum()) for d in deltas)
    return {
        "od_path": od_path,
        "occ_path": occ_path,
        "od": od,
        "occ": occ,
        "history_edge_rows": int(hist_hours.size),
        "history_bytes": os.path.getsize(od_path) + os.path.getsize(occ_path),
        "deltas": deltas,
        "shares": {
            "late_deltas": round(float(late.mean()), 4),
            "late_rows": round(late_rows / (k_deltas * rows_per_hour), 4),
            "narrow_deltas": round(
                float(np.mean([d["touched_hours"] <= 2 for d in deltas])), 4
            ),
        },
    }


def _aggregate(cols: dict) -> dict:
    """Group-count over small non-negative integer key columns with
    numpy: the keys pack into one int64 (mixed radix) so the unique is
    one-dimensional."""
    vals = [np.asarray(v, np.int64) for v in cols.values()]
    radix = [int(v.max()) + 1 for v in vals]
    packed = np.zeros(vals[0].size, np.int64)
    for v, r in zip(vals, radix):
        packed = packed * r + v
    uniq, cnt = np.unique(packed, return_counts=True)
    out = {}
    for name, r in reversed(list(zip(cols, radix))):
        out[name] = uniq % r
        uniq = uniq // r
    out = {name: out[name] for name in cols}
    out["cnt"] = cnt.astype(np.int64)
    return out


def _count_table(agg: dict) -> pa.Table:
    cols = {}
    for name, v in agg.items():
        if name == "hour":
            cols[name] = _ts_array(v)
        elif name == "cnt":
            cols[name] = pa.array(v, pa.int64())
        else:
            cols[name] = pa.array(v.astype(np.int32))
    return pa.table(cols)
