"""The benchmark's workloads: inputs, set-up, one operation, its traced
twin, and the correctness check of each result.

Every operation calls the engine's public functions again, the way a
user would, on one of K equal-sized pre-generated inputs; nothing built
by an earlier operation is reused. The traced twin makes the same calls
but materialises each layer's output before the next layer consumes it,
so each span's duration is that layer's self time.
"""

from __future__ import annotations

import datetime as dt
import importlib
import math
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import check
import gen

PKG = "analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark"


def engine():
    """The engine's public modules. Raises ImportError when the engine
    is not next to the benchmark."""
    names = [
        "session",
        "sources.tables",
        "operators.region_build",
        "functions.geohash",
        "operators.trajectory",
        "operators.od",
        "operators.occupancy",
        "operators.home",
        "streaming.incremental",
    ]
    return {n.split(".")[-1]: importlib.import_module(f"{PKG}.{n}") for n in names}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    k_inputs = 2
    # job group suffix of each part of an operation -> the per-layer
    # metric that counts its Spark jobs
    jobs_metrics: dict[str, str] = {}

    @property
    def period(self) -> int:
        """Operations i and i + period use the same inputs."""
        return self.k_inputs

    def __init__(self, eng: dict, work: str):
        self.e = eng
        self.work = work
        self.inputs_dir = os.path.join(work, "inputs")
        self.out_dir = os.path.join(work, "out")
        os.makedirs(self.inputs_dir, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        # per-layer observations and per-phase latencies (seconds)
        self.layer: dict[str, list[float]] = {}
        self.phases: dict[str, list[float]] = {}

    def note(self, metric: str, value: float) -> None:
        self.layer.setdefault(metric, []).append(float(value))

    def phase(self, name: str, seconds: float) -> None:
        self.phases.setdefault(name, []).append(seconds)

    # inputs and expected results, made before the engine starts
    def prepare(self, seed: int) -> dict:
        raise NotImplementedError

    def setup(self, spark, rep: int) -> None:
        """Engine calls the workload needs before its first operation."""

    def rows(self, i: int) -> int:
        """Input rows operation ``i`` processes."""
        raise NotImplementedError

    def op(self, spark, i: int, tr=None):
        """One operation. ``tr``, when given, only tags the operation's
        parts with job groups."""
        raise NotImplementedError

    def op_traced(self, spark, i: int, tr):
        raise NotImplementedError

    def check(self, i: int, result) -> list[str]:
        raise NotImplementedError


class Assign(Workload):
    """Raw ping TSV -> region_id and poi_type through the geohash cascade
    -> per-(hour, region, poi_type) counts as date-partitioned parquet."""

    name = "assign"
    jobs_metrics = {"": "region_build.jobs_per_op"}
    n_rows = 100_000
    n_poi = 1200

    def prepare(self, seed):
        self.pois = gen.gen_pois(seed, self.n_poi, self.inputs_dir)
        self.inputs = [
            gen.gen_assign_input(seed, k, self.n_rows, self.pois, self.inputs_dir)
            for k in range(self.k_inputs)
        ]
        self.want = [check.expected_assign(self.pois, p) for p in self.inputs]
        return {
            "poi_rows": self.n_poi,
            "rows_per_op": self.n_rows,
            "bytes_per_op": self.inputs[0]["bytes"],
            "k_inputs": self.k_inputs,
            "shares": self.inputs[0]["shares"],
            "expected_hit_ratio": round(check.hit_ratio(self.want[0]), 4),
        }

    def rows(self, i):
        return self.n_rows

    def setup(self, spark, rep):
        # the region dimension is built once and stored, as the
        # reference's region.py does; operations read it back
        t, rb = self.e["tables"], self.e["region_build"]
        self.dim_path = os.path.join(self.work, f"region_dim_{rep}")
        rb.build_region_dim(t.read_poi_csv(spark, self.pois["path"])).write.parquet(
            self.dim_path
        )

    def _counts(self, assigned):
        return assigned.groupBy(
            "date", F.date_trunc("hour", "ts").alias("hour"), "region_id", "poi_type"
        ).count()

    def op(self, spark, i, tr=None):
        t, rb = self.e["tables"], self.e["region_build"]
        out = os.path.join(self.out_dir, f"assign_{i}")
        pings = t.read_pings_tsv(spark, self.inputs[i % self.k_inputs]["path"])
        dim = spark.read.parquet(self.dim_path)
        x = rb.assign_poi_type(rb.assign_region(pings, dim), dim)
        t.write_partitioned_parquet(self._counts(x), out)
        return out

    def op_traced(self, spark, i, tr):
        t, rb, gh = self.e["tables"], self.e["region_build"], self.e["geohash"]
        out = os.path.join(self.out_dir, f"assign_{i}")
        with tr.span("sources", "read_build"):
            pings = t.read_pings_tsv(spark, self.inputs[i % self.k_inputs]["path"])
        with tr.span("sources", "read_exec"):
            pings = pings.persist()
            pings.count()
        # the encoder the cascade uses, once per precision it probes
        with tr.span("geohash", "exec"):
            for p in (5, 6, 7, 8):
                _noop(pings.select(gh.geohash_encode_native(F.col("ltt"), F.col("lgt"), p)))
        with tr.span("region_build", "build"):
            dim = spark.read.parquet(self.dim_path)
            x = rb.assign_poi_type(rb.assign_region(pings, dim), dim)
        with tr.span("region_build", "exec"):
            x = x.persist()
            x.count()
        with tr.span("sources", "write"):
            t.write_partitioned_parquet(self._counts(x), out)
        x.unpersist()
        pings.unpersist()
        return out

    def check(self, i, out):
        got = check.read_assign_output(out)
        bad = check.compare_assign(got, self.want[i % self.k_inputs])
        self.note("hit_ratio", check.hit_ratio(got))
        self.note("bytes_written_per_row", _dir_bytes(out) / max(1, len(got)))
        shutil.rmtree(out, ignore_errors=True)
        return bad


class Trajectory(Workload):
    """One user shard of pre-assigned pings -> hourly positions ->
    gap-filled edges -> OD fractions, record occupancy, home regions,
    each written as parquet."""

    name = "trajectory"
    n_users = 1500
    n_regions = 300

    def prepare(self, seed):
        self.inputs = [
            gen.gen_trajectory_shard(seed, k, self.n_users, self.n_regions, self.inputs_dir)
            for k in range(self.k_inputs)
        ]
        self.want = []
        for s in self.inputs:
            df = pq.read_table(s["path"]).to_pandas()
            df["ts_s"] = check.epoch_s(df["ts"])
            self.want.append(check.expected_trajectory(df))
        return {
            "users_per_op": self.n_users,
            "rows_per_op": [s["rows"] for s in self.inputs],
            "bytes_per_op": [s["bytes"] for s in self.inputs],
            "k_inputs": self.k_inputs,
            "shares": self.inputs[0]["shares"],
        }

    def rows(self, i):
        return self.inputs[i % self.k_inputs]["rows"]

    def _paths(self, i):
        base = os.path.join(self.out_dir, f"traj_{i}")
        return {k: os.path.join(base, k) for k in ("od", "occupancy", "home")}

    def op(self, spark, i, tr=None):
        tr_, od, occ, home = (self.e[m] for m in ("trajectory", "od", "occupancy", "home"))
        paths = self._paths(i)
        pings = spark.read.parquet(self.inputs[i % self.k_inputs]["path"])
        edges = tr_.gap_fill_edges(tr_.hourly_positions(pings))
        od.od_fractions(od.od_matrix(edges)).write.parquet(paths["od"])
        occ.record_occupancy(edges).write.parquet(paths["occupancy"])
        home.home_location(pings).write.parquet(paths["home"])
        return paths

    def op_traced(self, spark, i, tr):
        tr_, od, occ, home = (self.e[m] for m in ("trajectory", "od", "occupancy", "home"))
        paths = self._paths(i)
        pings = spark.read.parquet(self.inputs[i % self.k_inputs]["path"])
        with tr.span("trajectory.positions", "build"):
            pos = tr_.hourly_positions(pings)
        with tr.span("trajectory.positions", "exec"):
            pos = pos.persist()
            n_pos = pos.count()
        with tr.span("trajectory.gapfill", "build"):
            edges = tr_.gap_fill_edges(pos)
        with tr.span("trajectory.gapfill", "exec"):
            edges = edges.persist()
            n_edges = edges.count()
        with tr.span("od", "build"):
            frac = od.od_fractions(od.od_matrix(edges))
        with tr.span("od", "exec"):
            frac.write.parquet(paths["od"])
        with tr.span("occupancy", "build"):
            oc = occ.record_occupancy(edges)
        with tr.span("occupancy", "exec"):
            oc.write.parquet(paths["occupancy"])
        with tr.span("home", "build"):
            hm = home.home_location(pings)
        with tr.span("home", "exec"):
            hm.write.parquet(paths["home"])
        edges.unpersist()
        pos.unpersist()
        self.note("collapse_ratio", n_pos / self.inputs[i % self.k_inputs]["rows"])
        self.note("expansion_ratio", n_edges / n_pos)
        return paths

    def check(self, i, paths):
        got = check.read_trajectory_output(paths)
        bad = check.compare_trajectory(got, self.want[i % self.k_inputs])
        shutil.rmtree(os.path.dirname(paths["od"]), ignore_errors=True)
        return bad


class Ingest(Workload):
    """Hour-partitioned OD and occupancy count tables preloaded with
    ``history_hours`` of counts; each operation merges one hour's edge
    delta into both, then serves a dashboard read: OD fractions for the
    delta's hour and occupancy for the 24 hours up to it."""

    name = "ingest"
    k_inputs = 4
    history_hours = 32
    rows_per_hour = 20_000
    n_regions = 300
    late_share = 0.25

    def prepare(self, seed):
        self.g = gen.gen_ingest(
            seed, self.k_inputs, self.history_hours, self.rows_per_hour, self.n_regions,
            self.late_share, self.inputs_dir,
        )
        return {
            "history_hours": self.history_hours,
            "history_edge_rows": self.g["history_edge_rows"],
            "history_od_rows": int(len(self.g["od"]["cnt"])),
            "history_bytes": self.g["history_bytes"],
            "rows_per_op": self.rows_per_hour,
            "bytes_per_op": self.g["deltas"][0]["bytes"],
            "k_inputs": self.k_inputs,
            "touched_hours": [d["touched_hours"] for d in self.g["deltas"]],
            "shares": self.g["shares"],
        }

    def rows(self, i):
        return self.rows_per_hour

    def setup(self, spark, rep):
        inc = self.e["incremental"]
        root = os.path.join(self.work, "tables", f"setup{rep}")
        self.od_t = inc.PartitionedIncrementalCountTable(
            spark, os.path.join(root, "od"), ["hour", "orig", "dest"], partition_col="hour"
        )
        self.occ_t = inc.PartitionedIncrementalCountTable(
            spark, os.path.join(root, "occ"), ["region_id", "hour"], partition_col="hour"
        )
        self.od_t.merge_batch(spark.read.parquet(self.g["od_path"]), 0)
        self.occ_t.merge_batch(spark.read.parquet(self.g["occ_path"]), 0)
        self.state = check.IngestState(self.g)

    def _hour(self, d):
        return dt.datetime.fromtimestamp(
            gen.EPOCH_S + d["hour"] * gen.HOUR_S, dt.timezone.utc
        ).replace(tzinfo=None)

    def _merge(self, spark, i):
        e = spark.read.parquet(self.g["deltas"][i % self.k_inputs]["path"])
        self.od_t.merge_batch(
            e.groupBy(
                F.col("hour"), F.col("pre_region_id").alias("orig"),
                F.col("region_id").alias("dest"),
            ).agg(F.count("*").alias("cnt")),
            i + 1,
        )
        self.occ_t.merge_batch(
            e.groupBy("region_id", "hour").agg(F.count("*").alias("cnt")), i + 1
        )

    def _read(self, i):
        inc = self.e["incremental"]
        h = self._hour(self.g["deltas"][i % self.k_inputs])
        frac = (
            inc.od_fractions_from_table(self.od_t.read().filter(F.col("hour") == F.lit(h)))
            .select("hour", "orig", "dest", "cnt", "frac")
            .collect()
        )
        since = F.lit(h - dt.timedelta(hours=24))
        occ = (
            self.occ_t.read()
            .filter((F.col("hour") > since) & (F.col("hour") <= F.lit(h)))
            .select("region_id", "hour", "cnt")
            .collect()
        )
        return frac, occ

    def op(self, spark, i, tr=None):
        t0 = time.perf_counter()
        self._merge(spark, i)
        t1 = time.perf_counter()
        res = self._read(i)
        self.phase("merge", t1 - t0)
        self.phase("read", time.perf_counter() - t1)
        return res

    def op_traced(self, spark, i, tr):
        before = {t: self._parts(t) for t in (self.od_t, self.occ_t)}
        with tr.span("incremental.merge", "exec"):
            self._merge(spark, i)
        touched = 0
        written = 0
        bulk = False
        for t in (self.od_t, self.occ_t):
            after = self._parts(t)
            changed = [rel for pv, rel in after.items() if before[t].get(pv) != rel]
            touched += len(changed)
            # the bulk path writes one partitionBy directory per value
            bulk |= any("__pv=" in rel for rel in changed)
            gens = {rel.split(os.sep)[0] for rel in changed}
            written += sum(_dir_bytes(os.path.join(t.path, g)) for g in gens)
        self.note("partitions_touched_per_merge", touched / 2)
        self.note("bulk_share", float(bulk))
        self.note("bytes_written_per_delta_row", written / self.rows_per_hour)
        with tr.span("incremental.read", "exec"):
            res = self._read(i)
        return res

    @staticmethod
    def _parts(table) -> dict:
        ptr = table._pointer()
        return table._load_manifest(ptr["gen"])["parts"] if ptr else {}

    def table_space(self) -> tuple[int, float]:
        """Parquet files the current manifests reference, and bytes per
        live (key) row across both tables."""
        files = 0
        size = 0
        for t in (self.od_t, self.occ_t):
            for rel in set(self._parts(t).values()):
                d = os.path.join(t.path, rel)
                pq_files = [f for f in os.listdir(d) if f.endswith(".parquet")]
                files += len(pq_files)
                size += sum(os.path.getsize(os.path.join(d, f)) for f in pq_files)
        return files, size / self.state.live_rows()

    def check(self, i, res):
        d = self.g["deltas"][i % self.k_inputs]
        self.state.merge(d)
        h = int(d["hour"] + check.H0)
        frac, occ = res
        got_frac = check.ingest_rows_to_frame(frac, ["hour", "orig", "dest", "cnt", "frac"])
        got_occ = check.ingest_rows_to_frame(occ, ["region_id", "hour", "cnt"])
        return check.compare_ingest(
            got_frac, self.state.fractions(h), got_occ, self.state.occupancy_window(h)
        )


class Flow(Workload):
    """One hourly cycle of the flow service: the trajectory analytics on
    one user shard (Trajectory), then one hour's edges merged into the
    incremental count tables and the dashboard read (Ingest)."""

    name = "flow"
    jobs_metrics = {"": "trajectory.jobs_per_op", "-ingest": "incremental.jobs_per_op"}

    def __init__(self, eng, work):
        super().__init__(eng, work)
        self.parts = (Trajectory(eng, work), Ingest(eng, work))
        for p in self.parts:
            p.layer, p.phases = self.layer, self.phases

    @property
    def period(self):
        return math.lcm(*(p.k_inputs for p in self.parts))

    def prepare(self, seed):
        return {p.name: p.prepare(seed) for p in self.parts}

    def setup(self, spark, rep):
        for p in self.parts:
            p.setup(spark, rep)

    def rows(self, i):
        return sum(p.rows(i) for p in self.parts)

    def op(self, spark, i, tr=None):
        traj, ingest = self.parts
        t0 = time.perf_counter()
        a = traj.op(spark, i)
        self.phase("trajectory", time.perf_counter() - t0)
        if tr is not None:
            tr.begin_op(i, "-ingest")
        return a, ingest.op(spark, i)

    def op_traced(self, spark, i, tr):
        traj, ingest = self.parts
        a = traj.op_traced(spark, i, tr)
        tr.begin_op(i, "-ingest")
        return a, ingest.op_traced(spark, i, tr)

    def check(self, i, res):
        return [bad for p, r in zip(self.parts, res) for bad in p.check(i, r)]

    def table_space(self):
        return self.parts[1].table_space()


WORKLOADS = {w.name: w for w in (Assign, Flow)}
