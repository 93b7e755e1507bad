"""The benchmark's three workloads, their inputs and their correctness checks.

Every workload drives the engine through its public API only. Inputs are
generated from the workload seed with ``sources.synthetic`` and written to
parquet before any timing starts, so the engine only ever receives files.
Why each workload exists, and which per-layer metric should move on which,
is in README.md next to this file.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow.parquet as pq
from py4j.protocol import Py4JNetworkError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.lake import LakeTable
from cassandra_data_migrator_spark.lake.fs import get_fs
from cassandra_data_migrator_spark.operators.diff import (
    autocorrect,
    diff_counters,
    diff_tables,
)
from cassandra_data_migrator_spark.sources.event_log import (
    read_event_log,
    write_event_log,
)
from cassandra_data_migrator_spark.sources.synthetic import (
    gen_change_events,
    gen_web_pages,
)
from cassandra_data_migrator_spark.streaming import (
    CdcPipeline,
    ensure_replica,
    replicate,
)
from cassandra_data_migrator_spark.streaming.changelog import verify_replica

from spans import TimedFS, Tracer

# ---------------------------------------------------------------- sizing
# One run must fit in well under a minute on a 4-core host, JVM start and
# input generation included; these sizes are the ones README.md states.
N_PAGES = 4_000             # seeded pages per table
N_BUCKETS = 16
SETUP_REPS = 3              # table set-ups per run; setup_s takes the median
# backlog_copy: a CoW table, big epochs
BACKLOG_EPOCH_EVENTS = 10_000
BACKLOG_EVENTS_PER_S = 4_000     # sizes the backlog to the window
# live_tail: a MoR table, open-loop small chunks
TAIL_PERIOD_S = 0.5         # P: one chunk is due every P seconds
TAIL_CHUNK_EVENTS = 200
TAIL_TRIGGER_S = 4.0        # T: an epoch starts every T seconds
TAIL_COMPACT_MIN_DELTAS = 4
TAIL_MAX_CHUNKS_PER_EPOCH = EngineConfig().max_files_per_trigger
# validate_repair: origin drift per iteration; replica bucket reads after
# each catch-up
DRIFT_EVENTS = 1_000
VALIDATE_READS = 12
VALIDATE_ITER_S = 20        # timed iterations = round(seconds / this)
# change events post-date every seeded page (pages span one year), so the
# backlog really changes the table; late events stay late among themselves
EVENT_SHIFT = "INTERVAL 400 DAYS"

PAGE_SCHEMA_DDL = ("url string, warc_ts timestamp, html binary, "
                   "text string, lang string")


class EngineLost(RuntimeError):
    """The JVM behind the session is gone; the run cannot continue."""


class Ops:
    """Counts timed operations and correctness checks. A failing operation
    is recorded and the run goes on with partial results; losing the JVM
    ends the run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}

    def attempt(self, fn: Callable[..., Any], *args, **kwargs
                ) -> tuple[bool, Any]:
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except (Py4JNetworkError, ConnectionError, EOFError) as e:
            self.failed += 1
            raise EngineLost(repr(e)) from e
        except Exception:  # noqa: BLE001 — a failed op is a result
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False, None

    def check(self, name: str, fn: Callable[[], bool]) -> bool:
        ok, passed = self.attempt(fn)
        passed = bool(ok and passed)
        if ok and not passed:
            self.failed += 1
        self.checks[name] = self.checks.get(name, True) and passed
        return passed


@dataclass
class Ctx:
    spark: SparkSession
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    ops: Ops = field(default_factory=Ops)
    fs: TimedFS = field(default_factory=lambda: TimedFS(get_fs("/")))
    # filled by the workload
    setup_walls: list[float] = field(default_factory=list)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    window: tuple[float, float] = (0.0, 0.0)
    fs_window: dict[str, Any] = field(default_factory=dict)
    info: dict[str, Any] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def open_window(self) -> float:
        """Start the measured window; metadata-plane counts restart."""
        self._fs0 = (Counter(self.fs.calls), self.fs.wall_s,
                     self.fs.manifest_bytes)
        self.window = (time.time(), 0.0)
        return self.window[0]

    def close_window(self) -> None:
        calls, wall_s, manifest_bytes = self._fs0
        self.window = (self.window[0], time.time())
        self.fs_window = {
            "calls": self.fs.calls - calls,
            "wall_s": self.fs.wall_s - wall_s,
            "manifest_bytes": self.fs.manifest_bytes - manifest_bytes,
        }


# ------------------------------------------------------------ helpers

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (the inclusive method), defined for
    any non-empty sample."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def parquet_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def instrument(ctx: Ctx, t: LakeTable) -> LakeTable:
    """Wrap the table's write entry points in spans."""
    data_dir = os.path.join(t.path, "data")
    ctx.tracer.wrap(t, "merge_batch", "table.merge_batch")
    ctx.tracer.wrap(t, "overwrite", "table.overwrite")
    compact = t.compact

    def measured_compact(*args, **kwargs):
        before = dir_bytes(data_dir)
        with ctx.tracer.span("table.compact") as s:
            out = compact(*args, **kwargs)
        s.attrs["bytes_rewritten"] = dir_bytes(data_dir) - before
        return out

    t.compact = measured_compact
    return t


def read_chunks(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One scan over several chunk files of one log directory (a Hadoop
    ``{a,b}`` glob), as a streaming source hands a trigger its files."""
    if len(paths) == 1:
        return read_event_log(spark, paths[0])
    names = ",".join(os.path.basename(p) for p in paths)
    return read_event_log(spark, f"{os.path.dirname(paths[0])}/{{{names}}}")


def consumer_read(ctx: Ctx, t: LakeTable, bucket: int,
                  reads: list[float], depths: list[int]) -> None:
    """One consumer reading one bucket after a commit."""
    depths.append(t.delta_file_counts().get(bucket, 0))

    def _read():
        with ctx.tracer.span("table.read") as s:
            t.read(buckets=[bucket]).count()
        return s.wall_s

    ok, wall = ctx.ops.attempt(_read)
    if ok:
        reads.append(wall)


# ------------------------------------------------------------- inputs

def gen_inputs(ctx: Ctx, log_events: int, n_chunks: int,
               derive_text: bool = True) -> dict[str, Any]:
    """Seeded pages and a chunked change log, as parquet.

    ``derive_text=False`` leaves the pages' derived ``text`` column null,
    for workloads whose path never derives it."""
    spark, seed = ctx.spark, ctx.seed
    t0 = time.perf_counter()
    pages = ctx.path("in", "pages")
    seeded = gen_web_pages(spark, N_PAGES, seed=seed)
    if not derive_text:
        seeded = seeded.withColumn("text", F.lit(None).cast("string"))
    seeded.repartition(4).write.parquet(pages)

    def events(n: int, s: int) -> DataFrame:
        ev = gen_change_events(spark, n_urls=N_PAGES, n_events=n, seed=s)
        return ev.withColumn("warc_ts", F.col("warc_ts") + F.expr(EVENT_SHIFT))

    chunks = write_event_log(events(log_events, seed), ctx.path("in", "log"),
                             n_chunks=n_chunks)
    ctx.info["input_s"] = time.perf_counter() - t0
    return {"pages": pages, "chunks": chunks,
            "chunk_rows": [parquet_rows(c) for c in chunks]}


def set_up_tables(ctx: Ctx, pages: str, config: EngineConfig
                  ) -> list[LakeTable]:
    """``SETUP_REPS`` identical set-ups (create + seed); the median wall is
    the table part of ``setup_s``."""
    schema = T.StructType.fromDDL(PAGE_SCHEMA_DDL)
    tables = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        t = instrument(ctx, LakeTable.create(
            ctx.spark, ctx.path(f"table{i}"), schema, config, fs=ctx.fs))
        t.overwrite(ctx.spark.read.parquet(pages))
        ctx.setup_walls.append(time.perf_counter() - t0)
        tables.append(t)
    return tables


def warm_up(ctx: Ctx, t: LakeTable, config: EngineConfig,
            chunks: list[str]) -> None:
    """One untimed epoch on a throwaway set-up table: JIT, Python workers
    and file caches are warm before the window opens."""
    t0 = time.perf_counter()
    with ctx.tracer.span("bench.warmup"):
        CdcPipeline(ctx.spark, t, config, stream_id="warmup") \
            .apply_batch(read_chunks(ctx.spark, chunks), epoch_id=0)
    ctx.info["warmup_s"] = time.perf_counter() - t0


# ------------------------------------------------------------- oracle

def lww_oracle(spark: SparkSession, pages: str,
               event_paths: list[str]) -> DataFrame:
    """Expected live state without the lake table: a plain window over the
    seeded pages (never winning a tie against a real event) ∪ the applied
    events, latest (warc_ts, seq) per url, deletes dropped."""
    seed = spark.read.parquet(pages).select(
        "url", "warc_ts", "html",
        F.lit(None).cast("long").alias("seq"), F.lit("insert").alias("op"))
    rows = seed
    if event_paths:
        rows = rows.unionByName(spark.read.parquet(*event_paths).select(
            "url", "warc_ts", "html", "seq", "op"))
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("seq").desc_nulls_last())
    return (rows.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("op") != "delete"))
            .select("url", "warc_ts", F.xxhash64("html").alias("h")))


def check_state(ctx: Ctx, t: LakeTable, pages: str,
                event_paths: list[str], derive_text: bool = True) -> None:
    """Final table state equals the LWW oracle (key, event time and payload;
    derived text present where the workload derives it), and the table's
    own per-bucket checksums count the same live rows."""
    oracle = lww_oracle(ctx.spark, pages, event_paths).cache()
    try:
        def _state() -> bool:
            got = t.read().select(
                "url", F.col("warc_ts").alias("t_ts"),
                F.xxhash64("html").alias("t_h"),
                (F.lit(derive_text) & F.col("html").isNotNull()
                 & F.col("text").isNull()).alias("no_text"))
            with ctx.tracer.span("bench.oracle"):
                bad = (oracle.join(got, "url", "full_outer")
                       .filter(~F.col("warc_ts").eqNullSafe(F.col("t_ts"))
                               | ~F.col("h").eqNullSafe(F.col("t_h"))
                               | F.coalesce(F.col("no_text"), F.lit(False)))
                       .count())
            if bad:
                print(f"perfbench: {bad} rows differ from the LWW oracle",
                      file=sys.stderr)
            return bad == 0

        def _checksums() -> bool:
            with ctx.tracer.span("table.checksums"):
                counted = sum(r["row_count"]
                              for r in t.checksums().collect())
            with ctx.tracer.span("bench.oracle"):
                return counted == oracle.count()

        ctx.ops.check("state_equals_lww_oracle", _state)
        ctx.ops.check("checksum_rows_equal_oracle", _checksums)
    finally:
        oracle.unpersist()


# ---------------------------------------------------------- workloads

def backlog_copy(ctx: Ctx) -> None:
    n_chunks = max(2, math.ceil(ctx.seconds * BACKLOG_EVENTS_PER_S
                                / BACKLOG_EPOCH_EVENTS))
    inp = gen_inputs(ctx, n_chunks * BACKLOG_EPOCH_EVENTS, n_chunks)
    cfg = EngineConfig(n_buckets=N_BUCKETS)
    tables = set_up_tables(ctx, inp["pages"], cfg)
    warm_up(ctx, tables[0], cfg, inp["chunks"][-1:])
    t = tables[-1]
    pipe = CdcPipeline(ctx.spark, t, cfg, stream_id="backlog")
    ctx.tracer.wrap(pipe, "apply_batch", "pipeline.apply_batch")

    data_before = dir_bytes(os.path.join(t.path, "data"))
    walls, reads, depths, applied, events = [], [], [], [], 0
    ctx.open_window()
    t0 = time.perf_counter()
    for i, chunk in enumerate(inp["chunks"]):
        if i and time.perf_counter() - t0 >= ctx.seconds:
            break
        e0 = time.perf_counter()
        ok, _ = ctx.ops.attempt(
            pipe.apply_batch, read_event_log(ctx.spark, chunk), epoch_id=i)
        if ok:
            walls.append(time.perf_counter() - e0)
            applied.append(chunk)
            events += inp["chunk_rows"][i]
        consumer_read(ctx, t, i % N_BUCKETS, reads, depths)
    ctx.close_window()
    grown = dir_bytes(os.path.join(t.path, "data")) - data_before
    check_state(ctx, t, inp["pages"], applied)

    ctx.info.update(epochs=len(walls), events=events,
                    epoch_walls=[round(w, 3) for w in walls],
                    backlog_exhausted=len(applied) == len(inp["chunks"]))
    ctx.e2e.update(
        throughput_rows_per_s=events / sum(walls),
        latency_p50_s=quantile(walls, 0.5),
        latency_p75_s=quantile(walls, 0.75),
        bytes_written_per_row=grown / events,
    )
    ctx.named.update(
        backlog_events_per_s=(events / sum(walls), "ev/s"),
        read_p50_s=(quantile(reads, 0.5), "s"),
        bytes_written_per_event=(grown / events, "B/ev"),
    )
    ctx.layer.update(commits=len(walls), **_layer_counts([pipe], depths))


def live_tail(ctx: Ctx) -> None:
    n_sched = max(1, int(ctx.seconds / TAIL_PERIOD_S))
    inp = gen_inputs(ctx, n_sched * TAIL_CHUNK_EVENTS, n_sched)
    cfg = EngineConfig(n_buckets=N_BUCKETS, merge_mode="mor",
                       mor_compact_min_deltas=TAIL_COMPACT_MIN_DELTAS)
    tables = set_up_tables(ctx, inp["pages"], cfg)
    per_trigger = round(TAIL_TRIGGER_S / TAIL_PERIOD_S)
    warm_up(ctx, tables[0], cfg, inp["chunks"][-per_trigger:])
    t = tables[-1]
    pipe = CdcPipeline(ctx.spark, t, cfg, stream_id="tail")
    ctx.tracer.wrap(pipe, "apply_batch", "pipeline.apply_batch")

    data_before = dir_bytes(os.path.join(t.path, "data"))
    chunks, rows = inp["chunks"], inp["chunk_rows"]
    lags, walls, reads, depths, applied = [], [], [], [], []
    nxt, epoch, failures_in_row, events = 0, 0, 0, 0
    start = ctx.open_window()

    def due(i: int) -> float:
        return start + (i + 1) * TAIL_PERIOD_S

    # Open loop: chunk i is due at start + (i + 1) * P whatever the engine
    # does. As under a Structured Streaming processing-time trigger, an
    # epoch starts on the next multiple of T after the previous epoch
    # started (at once when that one overran) and takes every due chunk,
    # up to the per-trigger file cap. A chunk's lag runs from its due time
    # to the return of the commit that holds it.
    trigger = start + TAIL_TRIGGER_S
    while nxt < n_sched:
        now = time.time()
        if now < trigger:
            time.sleep(trigger - now)
            now = time.time()
        trigger = start + (math.floor((now - start) / TAIL_TRIGGER_S) + 1) \
            * TAIL_TRIGGER_S
        take = [i for i in range(nxt, min(n_sched,
                                          nxt + TAIL_MAX_CHUNKS_PER_EPOCH))
                if due(i) <= now]
        if not take:
            continue
        e0 = time.perf_counter()
        ok, _ = ctx.ops.attempt(
            pipe.apply_batch,
            read_chunks(ctx.spark, [chunks[i] for i in take]),
            epoch_id=epoch)
        done = time.time()
        epoch += 1
        if ok:
            walls.append(time.perf_counter() - e0)
            lags.extend(done - due(i) for i in take)
            applied.extend(chunks[i] for i in take)
            events += sum(rows[i] for i in take)
            nxt = take[-1] + 1
            failures_in_row = 0
        else:
            # the same chunks are offered again, their lag still growing
            failures_in_row += 1
            if failures_in_row == 3:
                break
        consumer_read(ctx, t, epoch % N_BUCKETS, reads, depths)
    ctx.close_window()
    grown = dir_bytes(os.path.join(t.path, "data")) - data_before
    check_state(ctx, t, inp["pages"], applied)

    ctx.info.update(epochs=len(walls), events=events, chunks=len(lags),
                    epoch_walls=[round(w, 3) for w in walls],
                    offered_events_per_s=TAIL_CHUNK_EVENTS / TAIL_PERIOD_S,
                    backlog_chunks_at_end=n_sched - nxt)
    ctx.e2e.update(
        throughput_rows_per_s=events / sum(walls),
        latency_p50_s=quantile(lags, 0.5),
        latency_p75_s=quantile(lags, 0.75),
        bytes_written_per_row=grown / events,
    )
    ctx.named.update(
        tail_lag_p50_s=(quantile(lags, 0.5), "s"),
        tail_lag_p75_s=(quantile(lags, 0.75), "s"),
        tail_read_p50_s=(quantile(reads, 0.5), "s"),
        bytes_written_per_event=(grown / events, "B/ev"),
    )
    ctx.layer.update(commits=len(walls), **_layer_counts([pipe], depths))


@dataclass
class _Validation:
    """What the timed validate_repair iterations measured."""
    validate_walls: list[float] = field(default_factory=list)
    sync_walls: list[float] = field(default_factory=list)
    reads: list[float] = field(default_factory=list)
    depths: list[int] = field(default_factory=list)
    keys: int = 0
    found_bad: int = 0
    corrected: int = 0


def validate_repair(ctx: Ctx) -> None:
    n_timed = max(1, round(ctx.seconds / VALIDATE_ITER_S))
    # chunk 0 drives the untimed warm-up iteration
    inp = gen_inputs(ctx, (n_timed + 1) * DRIFT_EVENTS, n_timed + 1,
                     derive_text=False)
    cfg = EngineConfig(n_buckets=N_BUCKETS)
    # the third set-up only counts towards setup_s
    origin, target, _ = set_up_tables(ctx, inp["pages"], cfg)
    spark = ctx.spark
    # the origin's own changes are not under test: they go through a plain
    # handle, outside every reported span
    origin_writer = LakeTable(spark, origin.path)
    t0 = time.perf_counter()
    # a replica applies many small fenced epochs: merge-on-read
    replica = instrument(ctx, ensure_replica(
        spark, origin, ctx.path("replica"), fs=ctx.fs, merge_mode="mor"))
    ckpt = ctx.path("replica_ckpt")
    replicate(spark, origin, replica, ckpt, bootstrap="snapshot")
    ctx.info["replica_bootstrap_s"] = time.perf_counter() - t0

    def iteration(k: int, got: _Validation, reads: int) -> None:
        """Drift the origin, validate + repair the target, then catch the
        replica up, verify it and read ``reads`` of its buckets."""
        with ctx.tracer.span("bench.drift"):
            origin_writer.merge_batch(read_event_log(spark, inp["chunks"][k]),
                                      stream_id="origin", epoch_id=k)
        origin.refresh()

        def _validate() -> bool:
            v0 = time.perf_counter()
            with ctx.tracer.span("diff.diff_tables"):
                d = diff_tables(origin.read(), target.read()).persist()
                found = diff_counters(d)
            try:
                with ctx.tracer.span("diff.autocorrect"):
                    _, fixed = autocorrect(target, origin.read(), d)
            finally:
                d.unpersist()
            with ctx.tracer.span("diff.diff_tables"):
                again = diff_counters(diff_tables(origin.read(),
                                                  target.read()))
            got.validate_walls.append(time.perf_counter() - v0)
            got.keys += found["read"]
            got.found_bad += found["missing"] + found["mismatch"]
            got.corrected += (fixed["corrected_missing"]
                              + fixed["corrected_mismatch"])
            return again["missing"] == 0 and again["mismatch"] == 0

        ctx.ops.check("rediff_clean", _validate)

        def _sync() -> bool:
            s0 = time.perf_counter()
            with ctx.tracer.span("changelog.replicate"):
                replicate(spark, origin, replica, ckpt)
            with ctx.tracer.span("changelog.verify_replica"):
                v = verify_replica(spark, origin, replica, ckpt)
            got.sync_walls.append(time.perf_counter() - s0)
            return v["match"]

        ctx.ops.check("verify_replica_match", _sync)
        for b in range(reads):
            consumer_read(ctx, replica, (k * reads + b) % N_BUCKETS,
                          got.reads, got.depths)

    # the first diff, force-overwrite merge, MoR replica merge and verify
    # of a process run cold; one untimed iteration warms them
    t0 = time.perf_counter()
    with ctx.tracer.span("bench.warmup"):
        iteration(0, _Validation(), reads=1)
    ctx.info["warmup_s"] = time.perf_counter() - t0

    dirs = [os.path.join(x.path, "data") for x in (target, replica)]
    data_before = sum(dir_bytes(d) for d in dirs)
    got = _Validation()
    ctx.open_window()
    for k in range(1, n_timed + 1):
        iteration(k, got, reads=VALIDATE_READS)
    ctx.close_window()
    grown = sum(dir_bytes(d) for d in dirs) - data_before
    check_state(ctx, origin, inp["pages"], inp["chunks"], derive_text=False)

    drift_events = sum(inp["chunk_rows"][1:])
    rate = got.keys / sum(got.validate_walls)
    ctx.info.update(iterations=len(got.validate_walls),
                    drift_events=drift_events,
                    validate_walls=[round(w, 3) for w in got.validate_walls],
                    sync_walls=[round(w, 3) for w in got.sync_walls],
                    found_missing_or_mismatch=got.found_bad,
                    corrected=got.corrected)
    ctx.e2e.update(
        throughput_rows_per_s=rate,
        latency_p50_s=quantile(got.sync_walls, 0.5),
        latency_p75_s=quantile(got.sync_walls, 0.75),
        bytes_written_per_row=grown / drift_events,
    )
    ctx.named.update(
        validate_rows_per_s=(rate, "rows/s"),
        replica_sync_s=(quantile(got.sync_walls, 0.5), "s"),
        replica_read_p50_s=(quantile(got.reads, 0.5), "s"),
    )
    ctx.layer.update(
        commits=2 * len(got.validate_walls),
        **_layer_counts([], got.depths),
        **{"diff.corrected_share": got.corrected / got.found_bad
           if got.found_bad else 0.0})


def _layer_counts(pipes: list[CdcPipeline], depths: list[int]) -> dict:
    return {
        "pipeline.conflict_retries": float(sum(p.conflict_retries
                                               for p in pipes)),
        "table.read.delta_depth": statistics.fmean(depths) if depths
        else 0.0,
    }


WORKLOADS = {
    "backlog_copy": backlog_copy,
    "live_tail": live_tail,
    "validate_repair": validate_repair,
}
