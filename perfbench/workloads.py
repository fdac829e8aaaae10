"""The benchmark's workloads, each a closed loop of one client against the
engine's public API.

A workload has a ``setup`` (counted in ``setup_s``), an ``op`` (one timed
operation), and a ``check`` that compares the op's output with an
independent computation outside the timed section.  Every input is
generated from the run's seed by ``datagen.generate_transcripts``.

Both workloads start from a store that the batch write path (backfill)
builds in set-up.  ``refresh`` then lands time slices through the
incremental, commit-bound paths; ``serve`` only reads.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsaug_spark.codec.chunks import decompress_tier, decompress_tier_range
from tsaug_spark.datagen import generate_transcripts
from tsaug_spark.operators import Pool, Resize
from tsaug_spark.plans.gapfill import complete_grid, fill_interpolate
from tsaug_spark.plans.pack import apply_operator
from tsaug_spark.plans.rollup import (
    METRIC_COLS,
    TIER_ORDER,
    TIERS,
    reaggregate,
    rollup_transcripts,
)
from tsaug_spark.sources.checkpoint import RollupJob
from tsaug_spark.sources.tables import ParquetSnapshotTable
from tsaug_spark.streaming.stream_sink import run_stream_ingest_once

#: input size: conversations, mean turns each, and 3 hot conversations
#: with 50x the mean, as in bench.py
N_CONVS = 1000
AVG_TURNS = 40
HOT_CONVS = 3
HOT_TURNS = AVG_TURNS * 50
#: RollupJob conversation partitions.  Each partition is its own commit
#: sequence, so this sets how many commits a backfill makes.
JOB_PARTITIONS = 1
#: the raw table is written as this many time-ordered files, so the
#: incremental paths' time filters can prune files
RAW_FILES = 16
#: the streaming sink's maxFilesPerTrigger (bench.py's streaming
#: default) and watermark; each slice lands as one file
FILES_PER_TRIGGER = 8
STREAM_WATERMARK = "1 hour"
#: refresh: the store starts with this share of history; each op lands
#: the next SLICE of it; late-data grace of update/cascade_update
REFRESH_START = 0.80
REFRESH_SLICE = 0.01
REFRESH_GRACE = "1 hour"
#: serve: hot conversations sampled per downsample request, and untimed
#: views in set-up: a process's first views are slower by up to a third
#: while the JVM compiles the read path, so timed views start after.
DOWNSAMPLE_CONVS = 2
WARMUP_VIEWS = 2

TIER_COLS = ["conv_id", "bucket_ts", *METRIC_COLS]


class Context:
    """Session, seeded raw input and scratch directory shared by a run."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.raw = None
        self.lo = self.hi = self.n_turns = 0

    def generate(self) -> None:
        """Write the seeded transcripts as a time-ordered raw table."""
        raw_dir = os.path.join(self.work, "raw")
        (
            generate_transcripts(
                self.spark,
                n_convs=N_CONVS,
                avg_turns=AVG_TURNS,
                hot_convs=HOT_CONVS,
                hot_turns=HOT_TURNS,
                seed=self.seed,
            )
            .repartitionByRange(RAW_FILES, "ts")
            .sortWithinPartitions("ts")
            .write.parquet(raw_dir)
        )
        self.raw = self.spark.read.parquet(raw_dir)
        self.lo, self.hi, self.n_turns = self.raw.agg(
            F.min(F.unix_timestamp("ts")),
            F.max(F.unix_timestamp("ts")),
            F.count(F.lit(1)),
        ).first()

    def raw_between(self, lo: int, hi: int):
        """Raw turns with ``lo <= ts < hi`` (epoch seconds)."""
        ts = F.col("ts")
        return self.raw.filter((ts >= F.timestamp_seconds(F.lit(lo)))
                               & (ts < F.timestamp_seconds(F.lit(hi))))


# ------------------------------------------------------------- helpers

def median(values) -> float:
    """Median, or NaN when every op failed."""
    values = list(values)
    return statistics.median(values) if values else float("nan")


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, or NaN for no values."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q
    f = int(k)
    c = min(f + 1, len(v) - 1)
    return v[f] + (v[c] - v[f]) * (k - f)


def as_double(df):
    return df.select(
        "conv_id", "bucket_ts", *[F.col(c).cast("double") for c in METRIC_COLS]
    )


def expected_tiers(src) -> dict:
    want = {"1m": rollup_transcripts(src, "1m")}
    want["1h"] = reaggregate(want["1m"], "1m", "1h")
    want["1d"] = reaggregate(want["1h"], "1h", "1d")
    return want


def check_store(job: RollupJob, src, tiers=TIER_ORDER, chunks=True) -> bool:
    """Each tier equals the rollup of ``src``, and decoding the tier's
    chunk table gives the tier back: the symmetric differences of all
    pairs, in one Spark job, must be empty."""
    want = expected_tiers(src)
    pairs = []
    for t in tiers:
        got = as_double(job.read_tier(t))
        pairs.append((got, as_double(want[t])))
        if chunks:
            pairs.append((got, decompress_tier(
                job.table(f"tier_{t}_chunks").read(job.spark), METRIC_COLS)))
    diffs = [d for a, b in pairs for d in (a.exceptAll(b), b.exceptAll(a))]
    return functools.reduce(DataFrame.union, diffs).limit(1).count() == 0


def _tables(work_dir: str) -> list:
    if not os.path.isdir(work_dir):
        return []
    return [
        ParquetSnapshotTable(os.path.join(work_dir, n))
        for n in sorted(os.listdir(work_dir))
        if n == "_manifest" or n.startswith("tier_")
    ]


def store_bytes(work_dir: str) -> int:
    """Bytes of the current snapshots of a store's tier, chunk and
    manifest tables (older snapshots kept for time travel excluded)."""
    return sum(sz for t in _tables(work_dir) for _p, sz in t.data_files())


def store_points(work_dir: str) -> int:
    """Points stored: tier rows x metric channels, from parquet footers."""
    rows = 0
    for t in _tables(work_dir):
        name = os.path.basename(t.path)
        if name.startswith("tier_") and not name.endswith("_chunks"):
            rows += sum(pq.ParquetFile(p).metadata.num_rows
                        for p, _sz in t.data_files())
    return rows * len(METRIC_COLS)


def store_growth(store: str, points_before: int) -> float:
    """Growth of a store's current snapshots in bytes, taken as the
    points added at the store's bytes per point: a rewrite can shrink or
    grow the bytes by file layout alone."""
    points = store_points(store)
    return (points - points_before) * store_bytes(store) / max(points, 1)


def chunk_bytes_per_point(work_dir: str) -> float:
    """Gorilla chunk bytes_compressed / n_points over the chunk tables."""
    comp = points = 0
    for t in _tables(work_dir):
        if os.path.basename(t.path).endswith("_chunks"):
            for p, _sz in t.data_files():
                tbl = pq.read_table(p, columns=["n_points", "bytes_compressed"])
                comp += sum(tbl.column("bytes_compressed").to_pylist())
                points += sum(tbl.column("n_points").to_pylist())
    return comp / points if points else 0.0


# ----------------------------------------------------------- workloads

class Workload:
    """One store per run, built by the backfill in ``setup``.  Ops are
    checked one by one right after each op, unless ``defer_checks``: then
    all of a run's ops are checked together after the last one."""

    defer_checks = False

    def __init__(self, ctx: Context, name: str):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, name)

    @staticmethod
    def task_cpus(nproc: int) -> int:
        """Cores of the session's local master."""
        return min(4, nproc)

    def stores(self) -> list:
        """Every store the ops write to."""
        return [self.dir]

    def prepare(self) -> None:
        """Untimed work before the next op."""

    def exhausted(self) -> bool:
        return False

    def check_ops(self, infos: list) -> list:
        """One verdict per op."""
        return [self.check(info) for info in infos]

    def build_store(self, src) -> None:
        """Backfill ``src`` into this workload's store through the batch
        write path, raw -> 1m -> 1h -> 1d with chunks and manifest rows;
        its rate is reported as backfill_points_per_s."""
        job = self.job = RollupJob(self.ctx.spark, self.dir,
                                   n_partitions=JOB_PARTITIONS,
                                   source_snapshot="history")
        t = time.perf_counter()
        job.run(src, "1m")
        job.cascade_tier("1m", "1h")
        job.cascade_tier("1h", "1d")
        self.build_s = time.perf_counter() - t
        self.backfill_rate = store_points(self.dir) / self.build_s


class Refresh(Workload):
    """A store holding the first 80% of history.  Each op lands the next
    1% time slice twice: through the batch job's incremental paths of all
    three tiers and their chunk stores, then through the streaming sink
    (availableNow, resuming its checkpoint) into a 1m store that holds
    the slices landed so far."""

    def setup(self) -> None:
        ctx = self.ctx
        self.start = self.end = ctx.lo + int(REFRESH_START * (ctx.hi - ctx.lo))
        self.build_store(ctx.raw_between(ctx.lo, self.end))
        self.stream_dir = self.dir + "-stream"
        self.stream_job = RollupJob(ctx.spark, self.stream_dir,
                                    n_partitions=JOB_PARTITIONS,
                                    source_snapshot="stream")
        self.src = self.dir + "-arrivals"
        os.makedirs(self.src)
        self.landed = 0
        # one untimed landing, so that timed ops run JIT-compiled code: a
        # process's first landing varied by 40% from run to run, later
        # ones by 10% (the check of every timed op covers this slice too)
        self.prepare()
        t = time.perf_counter()
        self.op()
        self.warmup_s = time.perf_counter() - t

    def stores(self) -> list:
        return [self.dir, self.stream_dir]

    def exhausted(self) -> bool:
        return self.end > self.ctx.hi

    def prepare(self) -> None:
        """The next slice arrives: its turns land as one file in the
        stream source directory."""
        ctx = self.ctx
        self.landed += 1
        prev, self.end = self.end, self.end + int(
            REFRESH_SLICE * (ctx.hi - ctx.lo))
        staging = os.path.join(ctx.work, f"slice-{self.landed}")
        ctx.raw_between(prev, self.end).coalesce(1).write.parquet(staging)
        (part,) = [n for n in os.listdir(staging) if n.endswith(".parquet")]
        self.slice_turns = pq.ParquetFile(
            os.path.join(staging, part)).metadata.num_rows
        os.rename(os.path.join(staging, part),
                  os.path.join(self.src, f"slice-{self.landed:04d}.parquet"))
        shutil.rmtree(staging)

    def op(self) -> dict:
        ctx, job, tr = self.ctx, self.job, self.ctx.tracer
        t = time.perf_counter()
        src = ctx.raw_between(ctx.lo, self.end)
        snap = f"slice-{self.landed}"
        tr.call("checkpoint.update", job.update, src, "1m",
                grace=REFRESH_GRACE, new_snapshot=snap)
        for fine, coarse in (("1m", "1h"), ("1h", "1d")):
            tr.call("checkpoint.cascade_update", job.cascade_update, fine,
                    coarse, grace=REFRESH_GRACE, new_snapshot=snap)
        batch_s = time.perf_counter() - t
        tr.call(
            "streaming.run_stream_ingest_once", run_stream_ingest_once,
            ctx.spark, self.src, ctx.raw.schema, self.stream_job, "1m",
            watermark=STREAM_WATERMARK,
            max_files_per_trigger=FILES_PER_TRIGGER,
            checkpoint_dir=self.dir + "-checkpoint",
        )
        return {"end": self.end, "batch_s": batch_s,
                "stream_s": time.perf_counter() - t - batch_s,
                "slice_turns": self.slice_turns}

    def check(self, info: dict) -> bool:
        """The batch store equals a full rollup of everything landed, and
        the stream store's 1m tier equals the rollup of the slices."""
        ctx = self.ctx
        return check_store(
            self.job, ctx.raw_between(ctx.lo, info["end"])
        ) and check_store(
            self.stream_job, ctx.raw_between(self.start, info["end"]),
            tiers=["1m"], chunks=False)

    def report(self, ops: list) -> dict:
        done = [o["info"] for o in ops if o["ok"]]
        return {
            "refresh_p50_s": (median(d["batch_s"] for d in done), "s"),
            "stream_turns_per_s": (
                median(d["slice_turns"] / d["stream_s"] for d in done),
                "turns/s"),
            "backfill_points_per_s": (self.backfill_rate, "points/s(setup)"),
        }


class Serve(Workload):
    """Read-only requests against a prebuilt store.  One op is one
    dashboard view: three ``query_series`` requests sized to land on the
    1m, 1h and 1d tiers, then one downsample request.  The store does not
    change, so all views are checked together after the last one."""

    defer_checks = True

    @staticmethod
    def task_cpus(nproc: int) -> int:
        """Half the CPUs: a view is a chain of short jobs, and with every
        CPU running a task, each CPU the host takes away (steal), or the
        driver, the JVM's compiler or the Python worker daemon takes,
        stalls the chain.  Over five seeds run alternately on a shared
        4-CPU host, local[2] views were faster than local[4] ones and
        spread from run to run by 0.6 as much."""
        return max(1, nproc // 2)

    def setup(self) -> None:
        self.rng = random.Random(self.ctx.seed)
        self.views = 0
        self.build_store(self.ctx.raw)
        t = time.perf_counter()
        for _ in range(WARMUP_VIEWS):
            self.op()
        self.warmup_s = time.perf_counter() - t

    def report(self, ops: list) -> dict:
        queries = [t for o in ops if o["ok"]
                   for t in o["info"]["timings"]["query"]]
        downs = [t for o in ops if o["ok"]
                 for t in o["info"]["timings"]["downsample"]]
        return {
            "query_p50_s": (median(queries), "s"),
            "query_p90_s": (percentile(queries, 0.9),
                            f"s(n={len(queries)})"),
            "downsample_p50_s": (median(downs), f"s(n={len(downs)})"),
            "backfill_points_per_s": (self.backfill_rate, "points/s(setup)"),
        }

    def _queries(self) -> list:
        """(tier, ts_lo, ts_hi, max_points, conv_ids): the span and
        budget pick the tier (query_series serves the finest tier whose
        bucket count fits max_points).  Which queries carry a
        ``conv_ids`` filter alternates from view to view, so every run
        sees the same mix; the seed picks windows and conversations."""
        lo, hi, rng = self.ctx.lo, self.ctx.hi, self.rng
        h = hi - lo
        out = []
        for k, (tier, span, max_points) in enumerate((
            ("1m", h // 16, 500),
            ("1h", h // 3, 500),
            ("1d", h * 9 // 10, h * 9 // 10 // 3600 - 1),
        )):
            ts_hi = rng.randint(lo + span, hi)
            convs = None
            if (k + self.views) % 2:
                convs = [f"conv-{rng.randrange(N_CONVS):08d}"
                         for _ in range(3)]
            out.append((tier, ts_hi - span, ts_hi, max_points, convs))
        return out

    def _downsample_request(self) -> tuple:
        """Pool and Resize alternate from view to view."""
        hot = [f"conv-{k:08d}" for k in range(HOT_CONVS)]
        convs = sorted(self.rng.sample(hot, DOWNSAMPLE_CONVS))
        seed = self.rng.randrange(2**31)
        op = (Pool(size=4, seed=seed) if self.views % 2
              else Resize(size=12, seed=seed))
        return convs, op

    def _grid(self, convs: list):
        """1h series of ``convs`` decoded from chunks and gap-filled."""
        tr, ctx = self.ctx.tracer, self.ctx
        chunks = self.job.table("tier_1h_chunks").read(ctx.spark).filter(
            F.col("conv_id").isin(convs))
        rows = decompress_tier_range(
            chunks, METRIC_COLS,
            ts_lo=F.timestamp_seconds(F.lit(ctx.lo)),
            ts_hi=F.timestamp_seconds(F.lit(ctx.hi)),
        )
        if tr.enabled:  # materialize so the decode is timed on its own
            rows = tr.call("codec.decompress_tier_range",
                           rows.localCheckpoint, eager=True)
        with tr.span("gapfill.fill_interpolate"):
            grid = fill_interpolate(complete_grid(rows, "1h"), METRIC_COLS)
            long = grid.select(
                "conv_id", F.unix_timestamp("bucket_ts").alias("bucket_idx"),
                *METRIC_COLS)
            if tr.enabled:
                long = long.localCheckpoint(eager=True)
        return long

    def op(self) -> dict:
        tr, job = self.ctx.tracer, self.job
        timings = {"query": [], "downsample": []}
        results = {"query": [], "downsample": []}
        for q in self._queries():
            tier, ts_lo, ts_hi, max_points, convs = q
            t = time.perf_counter()
            df, chosen, m4 = tr.call(
                "checkpoint.query_series", job.query_series, ts_lo, ts_hi,
                max_points=max_points, conv_ids=convs)
            rows = tr.call("codec.collect", df.collect)
            timings["query"].append(time.perf_counter() - t)
            results["query"].append((q, chosen, m4, rows))
        convs, op = self._downsample_request()
        t = time.perf_counter()
        out = tr.call("pack.apply_operator", lambda: apply_operator(
            self._grid(convs), op, METRIC_COLS, mode="subseed").collect())
        timings["downsample"].append(time.perf_counter() - t)
        results["downsample"].append((convs, op, out))
        self.views += 1
        return {"timings": timings, "results": results}

    def check_ops(self, infos: list) -> list:
        """Each query result equals a range filter on the chosen tier;
        each downsample result equals the operator's NumPy ``augment``
        on the same gap-filled series.  One Spark job per request kind
        for all views; a view passes if all its requests do."""
        if not infos:
            return []
        queries = [(v, r) for v, info in enumerate(infos)
                   for r in info["results"]["query"]]
        downs = [(v, r) for v, info in enumerate(infos)
                 for r in info["results"]["downsample"]]
        ok = [True] * len(infos)

        want = []
        for k, (_v, ((tier, ts_lo, ts_hi, _mp, convs), _c, _m4, _rows)) in (
            enumerate(queries)
        ):
            width = TIERS[tier][1]
            q = as_double(self.job.read_tier(tier)).filter(
                F.col("bucket_ts").between(
                    F.timestamp_seconds(F.lit(ts_lo // width * width)),
                    F.timestamp_seconds(F.lit(ts_hi))))
            if convs is not None:
                q = q.filter(F.col("conv_id").isin(convs))
            want.append(q.withColumn("request", F.lit(k)))
        expected = _by_request(functools.reduce(DataFrame.union, want))
        for k, (v, (q, chosen, m4, rows)) in enumerate(queries):
            got = sorted(tuple(r[c] for c in TIER_COLS) for r in rows)
            if chosen != q[0] or m4 or got != sorted(expected.get(k, [])):
                ok[v] = False

        grids = [self._grid(convs).withColumn("request", F.lit(k))
                 for k, (_v, (convs, _op, _out)) in enumerate(downs)]
        inputs = _by_request(functools.reduce(DataFrame.union, grids))
        for k, (v, (convs, op, out)) in enumerate(downs):
            series = _by_conv(inputs.get(k, []))
            got = _by_conv([(r["conv_id"], r["bucket_idx"],
                             *[r[c] for c in METRIC_COLS]) for r in out])
            if sorted(series) != convs or sorted(got) != convs or not all(
                np.array_equal(op.augment(series[cid][None])[0], got[cid])
                for cid in convs
            ):
                ok[v] = False
        return ok


def _by_request(df) -> dict:
    """Collect a frame tagged with ``request`` into {request: [rows]}."""
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["request"], []).append(tuple(r)[:-1])
    return out


def _by_conv(rows) -> dict:
    """(conv_id, index, *values) rows -> {conv_id: (T, C) values in
    index order}."""
    series: dict = {}
    for r in rows:
        series.setdefault(r[0], []).append(r[1:])
    return {c: np.array(sorted(v))[:, 1:] for c, v in series.items()}


WORKLOADS = {"refresh": Refresh, "serve": Serve}


def make(name: str, ctx: Context) -> Workload:
    return WORKLOADS[name](ctx, name)
