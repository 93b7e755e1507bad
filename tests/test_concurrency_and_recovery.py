"""Concurrent-writer conflict, fence recovery after vacuum, run_info
empty-read, and a live-tail streaming soak — the round-4 robustness
set (VERDICT r3 #4/#7, ADVICE r3 trackrun/runinfo items)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.lake import LakeTable
from cassandra_data_migrator_spark.lake.fs import ObjectStoreEmulatorFS
from cassandra_data_migrator_spark.lake.table import CommitConflict
from cassandra_data_migrator_spark.sources import (
    gen_change_events,
    read_event_log,
    write_event_log,
)
from cassandra_data_migrator_spark.streaming import CdcPipeline, run_info
from cassandra_data_migrator_spark.streaming.runinfo import (
    finalize_stream_run,
    finalize_tracked_run,
)
from cassandra_data_migrator_spark.streaming.trackrun import BatchRunTracker

WEB_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def test_commit_conflict_two_writers(spark, tmpdir_path):
    """Two handles racing a commit: the second writer's conditional PUT
    of the same manifest version fails (the object-store If-None-Match
    contract), and its merge retries on its own against the winner's
    manifest, converging via LWW idempotence."""
    log = os.path.join(tmpdir_path, "log")
    ev = gen_change_events(spark, n_urls=80, n_events=400, seed=23)
    write_event_log(ev, log, n_chunks=2)
    events = read_event_log(spark, log)
    first = events.filter(F.col("seq") < 200)
    second = events.filter(F.col("seq") >= 200)

    fs = ObjectStoreEmulatorFS()
    path = os.path.join(tmpdir_path, "t")
    a = LakeTable.create(spark, path, WEB_SCHEMA,
                         EngineConfig(n_buckets=4), fs=fs)
    # writer B opens the table at the same version as A
    b = LakeTable(spark, path, fs=fs)
    assert a.version == b.version

    a.merge_batch(first, stream_id="wa", epoch_id=0)
    # B still believes the old version: its commit targets the same
    # manifest version A just created → the conditional PUT conflicts,
    # and B reloads and commits the next version instead
    res = b.merge_batch(second, stream_id="wb", epoch_id=0)
    assert res.conflict_retries == 1 and not res.skipped
    assert b.version == res.version == a.version + 1
    b2 = LakeTable(spark, path, fs=fs)
    assert b2.manifest["epoch_fence"] == {"wa": 0, "wb": 0}

    # converged state == a single-writer replay of the whole log
    ref = LakeTable.create(spark, os.path.join(tmpdir_path, "ref"),
                           WEB_SCHEMA, EngineConfig(n_buckets=4))
    ref.merge_batch(events, stream_id="r", epoch_id=0)
    got = {r["url"]: (r["warc_ts"], r["html"]) for r in b2.read().collect()}
    want = {r["url"]: (r["warc_ts"], r["html"]) for r in ref.read().collect()}
    assert got == want


def test_run_info_empty_before_any_run(spark, tmpdir_path):
    """run_info() on a table with no finalized run reads as typed-EMPTY
    (the dashboard-poll contract), then grows a row per finalize."""
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         WEB_SCHEMA, EngineConfig(n_buckets=4))
    df = run_info(spark, t)
    assert df.count() == 0
    assert "run_id" in df.columns and "events_applied" in df.columns

    log = os.path.join(tmpdir_path, "log")
    write_event_log(gen_change_events(spark, n_urls=40, n_events=150,
                                      seed=3), log, n_chunks=2)
    p = CdcPipeline(spark, t, stream_id="s1")
    p.run_batch(read_event_log(spark, log))
    finalize_stream_run(p)
    rows = run_info(spark, t).collect()
    assert [r["run_id"] for r in rows] == ["s1"]
    assert rows[0]["status"] == "ENDED"


def test_fence_outliving_manifest_records_unknown_totals(spark,
                                                         tmpdir_path):
    """ADVICE r3: after expire_versions vacuums old manifests, a
    fenced-skip recovery can no longer read the group's true totals —
    it must record PASS_UNKNOWN_TOTALS (visible sentinel) rather than a
    silent zero-events PASS, and the group must still count as
    complete (no resume loop)."""
    log = os.path.join(tmpdir_path, "log")
    write_event_log(gen_change_events(spark, n_urls=60, n_events=240,
                                      seed=7), log, n_chunks=2)
    events = read_event_log(spark, log)
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         WEB_SCHEMA, EngineConfig(n_buckets=8))
    tracker = BatchRunTracker(spark, t, n_groups=3)
    tracker.run(events, "r1")
    assert tracker.pending_groups("r1") == []
    applied = finalize_tracked_run(tracker, "r1")["events_applied"]
    assert applied == 240

    # crash-after-commit simulation: group 0's PASS row is lost...
    os.remove(os.path.join(t.path, "_run", "run_details",
                           "part-r1-g0-0-1.parquet"))
    # ...and maintenance expired every manifest but the newest, taking
    # group 0's commit manifest (and its lineage totals) with it
    t2 = LakeTable(spark, t.path)
    t2.expire_versions(keep_last=1)
    t3 = LakeTable(spark, t.path)
    assert [v for v in t3.history()] == [t3.version]

    tracker2 = BatchRunTracker(spark, t3, n_groups=3)
    assert tracker2.pending_groups("r1") == [0]
    tracker2.resume(events, "r1")           # fenced skip → recovery path
    rows = {r["grp"]: r for r in tracker2.run_details()
            .filter(F.col("run_id") == "r1").collect()}
    assert rows[0]["status"] == "PASS_UNKNOWN_TOTALS"
    assert rows[0]["events"] == 0 and rows[0]["version"] is None
    assert rows[1]["status"] == "PASS" and rows[2]["status"] == "PASS"
    # complete: no resume loop, and the rollup ENDs with the sentinel
    # group contributing zero (documented under-report, not silent)
    assert tracker2.pending_groups("r1") == []
    totals = finalize_tracked_run(tracker2, "r1")
    assert totals["epochs"] == 3
    assert totals["events_applied"] == rows[1]["events"] + rows[2]["events"]


@pytest.mark.parametrize("processing_time", [None, "1 seconds"])
def test_streaming_live_tail_soak(spark, tmpdir_path, processing_time):
    """run_stream(available_now=False): a LIVE micro-batch tail over a
    log that grows WHILE the query runs — events appended after start
    are discovered, applied, and fenced exactly-once; final state
    equals a one-shot batch replay of the full log. Run both unpaced
    (as-fast-as-batches-arrive) and on a fixed processingTime cadence
    (the paced long-lived-tail mode)."""
    log = os.path.join(tmpdir_path, "log")
    ev = gen_change_events(spark, n_urls=80, n_events=400, seed=31)
    write_event_log(ev.filter(F.col("seq") < 200), log, n_chunks=2)

    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                         WEB_SCHEMA, EngineConfig(n_buckets=8))
    p = CdcPipeline(spark, t, stream_id="tail")
    q = p.run_stream(log, os.path.join(tmpdir_path, "ckpt"),
                     max_files_per_trigger=1, available_now=False,
                     processing_time=processing_time)
    try:
        def applied() -> int:
            rows = (p.counters().agg(F.sum("events_applied").alias("n"))
                    .collect())
            return int(rows[0]["n"] or 0)

        def wait_for(n: int, timeout: float = 120.0) -> None:
            deadline = time.time() + timeout
            while time.time() < deadline:
                if applied() >= n:
                    return
                time.sleep(1.0)
            raise AssertionError(
                f"stream did not reach {n} applied events "
                f"(at {applied()})")

        wait_for(200)
        # the log grows while the query is live
        write_event_log(ev.filter(F.col("seq") >= 200), log, n_chunks=2,
                        append=True)
        wait_for(400)
    finally:
        q.stop()
        q.awaitTermination(60)

    assert applied() == 400                  # exactly-once, no re-apply
    ref = LakeTable.create(spark, os.path.join(tmpdir_path, "ref"),
                           WEB_SCHEMA, EngineConfig(n_buckets=8))
    CdcPipeline(spark, ref, stream_id="r").run_batch(
        read_event_log(spark, log))
    got = {r["url"]: (r["warc_ts"], r["text"]) for r in t.read().collect()}
    want = {r["url"]: (r["warc_ts"], r["text"])
            for r in ref.read().collect()}
    assert got == want


class _RacingFS(ObjectStoreEmulatorFS):
    """Injects a rival writer's commit exactly between the victim's
    manifest build and its conditional PUT — the narrowest possible
    race window, made deterministic."""

    def __init__(self, spark, path):
        super().__init__()
        self._spark = spark
        self._path = path
        self.rival_batch = None
        self.raced = False

    def create_exclusive(self, p, data):
        if (not self.raced and self.rival_batch is not None
                and "_manifests" in p and "LATEST" not in p):
            self.raced = True
            rival = LakeTable(self._spark, self._path,
                              fs=ObjectStoreEmulatorFS())
            rival.merge_batch(self.rival_batch, stream_id="rival",
                              epoch_id=0)
        return super().create_exclusive(p, data)


def test_stale_merge_retries_its_lost_race(spark, tmpdir_path):
    """A stale handle's merge loses the conditional PUT to a rival
    committed INSIDE the race window, retries on its own against the
    rival's manifest and converges; a twin replaying the same (stream,
    epoch) from a handle opened before either commit loses its race
    too, and on the retry the fence turns it into a skip."""
    log = os.path.join(tmpdir_path, "log")
    ev = gen_change_events(spark, n_urls=60, n_events=300, seed=41)
    write_event_log(ev, log, n_chunks=2)
    events = read_event_log(spark, log)
    first = events.filter(F.col("seq") < 150)
    second = events.filter(F.col("seq") >= 150)

    path = os.path.join(tmpdir_path, "t")
    LakeTable.create(spark, path, WEB_SCHEMA, EngineConfig(n_buckets=4),
                     fs=ObjectStoreEmulatorFS())
    twin = LakeTable(spark, path, fs=ObjectStoreEmulatorFS())
    fs = _RacingFS(spark, path)
    fs.rival_batch = first
    victim = LakeTable(spark, path, fs=fs)

    res = victim.merge_batch(second, stream_id="victim", epoch_id=0)
    assert fs.raced and not res.skipped
    assert res.conflict_retries == 1

    # both writers' batches landed; state == a single-writer full replay
    ref = LakeTable.create(spark, os.path.join(tmpdir_path, "ref"),
                           WEB_SCHEMA, EngineConfig(n_buckets=4))
    ref.merge_batch(events, stream_id="r", epoch_id=0)
    t = LakeTable(spark, path)
    got = {r["url"]: (r["warc_ts"], r["html"]) for r in t.read().collect()}
    want = {r["url"]: (r["warc_ts"], r["html"])
            for r in ref.read().collect()}
    assert got == want

    # the twin replaying the victim's OWN (stream, epoch) is fenced,
    # not double-applied, and commits nothing
    skipped = twin.merge_batch(second, stream_id="victim", epoch_id=0)
    assert skipped.skipped and skipped.conflict_retries == 1
    assert skipped.version == t.version
    assert LakeTable(spark, path).version == t.version


def _counter_table(spark, path):
    schema = T.StructType.fromDDL("user string, ts timestamp, cents long")
    return LakeTable.create(spark, path, schema, EngineConfig(
        n_buckets=4, key_col="user", ts_col="ts"))


def _counter_events(spark, n):
    import datetime as dt
    rows = [(f"u{i % 3}", dt.datetime(2024, 1, 1, 0, 0, i), 10 + i, i)
            for i in range(n)]
    return spark.createDataFrame(rows, "user string, ts timestamp, "
                                       "cents long, seq long")


def _counter_totals(events):
    out: dict[str, int] = {}
    for r in events.collect():
        out[r["user"]] = out.get(r["user"], 0) + r["cents"]
    return out


@pytest.mark.parametrize("watermark", [False, True])
def test_stale_counter_merge_never_double_adds(spark, tmpdir_path,
                                               watermark):
    """A counter merge from a handle opened before a rival applied the
    same increments loses the commit race, and its retry reads the
    rival's fence (fence mode: a skip) or watermark (watermark mode:
    only the grown log's new tail applies). Either way every increment
    is added once."""
    path = os.path.join(tmpdir_path, "c")
    _counter_table(spark, path)
    rival = LakeTable(spark, path)
    stale = LakeTable(spark, path)
    log = _counter_events(spark, 6)
    rival.merge_counter_batch(log, stream_id="c", epoch_id=0,
                              watermark=watermark)
    if watermark:
        grown = _counter_events(spark, 9)
        res = stale.merge_counter_batch(grown, stream_id="c",
                                        watermark=True)
        assert not res.skipped and res.counters["events"] == 3
        assert stale.counter_watermark("c") == 8
        want = _counter_totals(grown)
    else:
        res = stale.merge_counter_batch(log, stream_id="c", epoch_id=0)
        assert res.skipped
        want = _counter_totals(log)
    assert res.conflict_retries == 1
    got = {r["user"]: r["cents"]
           for r in LakeTable(spark, path).read().collect()}
    assert got == want


def test_stale_compact_still_raises_commit_conflict(spark, tmpdir_path):
    """Only the merges retry a lost race: compaction from a stale
    handle still fails with CommitConflict (the conflict detector)."""
    path = os.path.join(tmpdir_path, "t")
    t = LakeTable.create(spark, path, WEB_SCHEMA, EngineConfig(
        n_buckets=4, merge_mode="mor"))
    events = read_event_log(spark, _small_log(spark, tmpdir_path))
    t.merge_batch(events.filter(F.col("seq") < 100))
    stale = LakeTable(spark, path)
    t.merge_batch(events.filter(F.col("seq") >= 100))
    assert stale.delta_file_counts()
    with pytest.raises(CommitConflict):
        stale.compact()
    assert LakeTable(spark, path).version == t.version


def test_stale_autocorrect_raises_instead_of_undoing_newer_rows(
        spark, tmpdir_path):
    """A force_overwrite merge (autocorrect) replaces the stored rows of
    its keys whatever their LWW order, so it does not retry a lost race:
    a stale handle's autocorrect of old rows, after a rival committed
    newer rows for the same keys, raises CommitConflict and leaves the
    rival's rows in place."""
    events = read_event_log(spark, _small_log(spark, tmpdir_path))
    old = events.filter(F.col("seq") < 100)
    path = os.path.join(tmpdir_path, "t")
    t = LakeTable.create(spark, path, WEB_SCHEMA, EngineConfig(n_buckets=4))
    t.merge_batch(old)
    stale = LakeTable(spark, path)
    t.merge_batch(events.filter(F.col("seq") >= 100))
    before = {r["url"]: (r["warc_ts"], r["html"])
              for r in t.read().collect()}
    stale_rows = {r["url"]: (r["warc_ts"], r["html"])
                  for r in stale.read().collect()}
    assert before != stale_rows     # the rival did write newer rows

    with pytest.raises(CommitConflict):
        stale.merge_batch(old, force_overwrite=True)
    now = LakeTable(spark, path)
    assert now.version == t.version
    assert {r["url"]: (r["warc_ts"], r["html"])
            for r in now.read().collect()} == before


def test_merge_gives_up_on_a_commit_that_never_swung_latest(
        spark, tmpdir_path):
    """A v<N>.json left without its LATEST swing makes every writer lose
    the race for N. A reload that finds no newer version is retried
    once (it may have caught a live rival between create and swing);
    the second such reload gives up rather than rewriting the batch up
    to the attempt limit."""
    from cassandra_data_migrator_spark.lake.table import _manifest_file
    events = read_event_log(spark, _small_log(spark, tmpdir_path))
    fs = ObjectStoreEmulatorFS()
    path = os.path.join(tmpdir_path, "t")
    t = LakeTable.create(spark, path, WEB_SCHEMA,
                         EngineConfig(n_buckets=4), fs=fs)
    orphan = _manifest_file(path, t.version + 1)
    fs.create_exclusive(orphan, "{}")
    with pytest.raises(CommitConflict):
        t.merge_batch(events, stream_id="s", epoch_id=0)
    assert fs.ops.count(("create_exclusive", orphan)) == 1 + 2
    assert LakeTable(spark, path, fs=fs).version == t.version


def _small_log(spark, tmpdir_path):
    log = os.path.join(tmpdir_path, "log")
    write_event_log(gen_change_events(spark, n_urls=40, n_events=200,
                                      seed=5), log, n_chunks=1)
    return log


def test_maintain_races_live_stream(spark, tmpdir_path):
    """Compaction + snapshot expiry racing a LIVE streaming tail on the
    same table: the maintenance commit bumps the manifest version under
    the stream's feet, the stream's next epoch loses the conditional
    PUT with CommitConflict and converges via the reload+retry recipe
    (maintenance never changes row state, the fence still skips twins),
    and the final state equals a one-shot batch replay. Exactly-once
    counters survive the race."""
    log = os.path.join(tmpdir_path, "log")
    ev = gen_change_events(spark, n_urls=80, n_events=400, seed=53)
    write_event_log(ev.filter(F.col("seq") < 200), log, n_chunks=2)

    path = os.path.join(tmpdir_path, "t")
    t = LakeTable.create(spark, path, WEB_SCHEMA, EngineConfig(n_buckets=8))
    p = CdcPipeline(spark, t, stream_id="tail")
    q = p.run_stream(log, os.path.join(tmpdir_path, "ckpt"),
                     max_files_per_trigger=1, available_now=False)
    try:
        def applied() -> int:
            rows = (p.counters().agg(F.sum("events_applied").alias("n"))
                    .collect())
            return int(rows[0]["n"] or 0)

        def wait_for(n: int, timeout: float = 120.0) -> None:
            deadline = time.time() + timeout
            while time.time() < deadline:
                if applied() >= n:
                    return
                time.sleep(1.0)
            raise AssertionError(
                f"stream did not reach {n} applied events "
                f"(at {applied()})")

        wait_for(200)
        # maintenance from a SEPARATE handle while the tail is live:
        # compact every bucket, expire old snapshots (keep a window so
        # the stream's in-flight stale reader still finds its files)
        m = LakeTable(spark, path)
        assert m.compact(min_files=1) is not None
        m.expire_versions(keep_last=5)

        # the log grows after the maintenance commit — the stream's
        # next epochs MUST lose the manifest race at least once and
        # retry through a reloaded snapshot
        write_event_log(ev.filter(F.col("seq") >= 200), log, n_chunks=2,
                        append=True)
        wait_for(400)
    finally:
        q.stop()
        q.awaitTermination(60)

    assert applied() == 400                   # exactly-once across races
    assert p.conflict_retries >= 1            # the race actually happened

    ref = LakeTable.create(spark, os.path.join(tmpdir_path, "ref"),
                           WEB_SCHEMA, EngineConfig(n_buckets=8))
    CdcPipeline(spark, ref, stream_id="r").run_batch(
        read_event_log(spark, log))
    t2 = LakeTable(spark, path)
    got = {r["url"]: (r["warc_ts"], r["text"]) for r in t2.read().collect()}
    want = {r["url"]: (r["warc_ts"], r["text"])
            for r in ref.read().collect()}
    assert got == want

    # post-race maintenance converges too: same state after another
    # compact + aggressive expiry with the stream stopped
    t2.compact(min_files=1)
    t2.expire_versions(keep_last=1)
    got2 = {r["url"]: (r["warc_ts"], r["text"])
            for r in LakeTable(spark, path).read().collect()}
    assert got2 == want
