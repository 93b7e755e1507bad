"""Streaming CDC pipeline: stream replay == batch replay, checkpoint
resume converges, epoch fence survives restarts, lineage covers buckets.
Reproduces the reference's trackRun/resume semantics
(README.md:117-136; BasePartitionJob.scala:41-58) on Structured
Streaming checkpoints."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.lake import LakeTable
from cassandra_data_migrator_spark.sources import (
    gen_change_events,
    read_event_log,
    write_event_log,
)
from cassandra_data_migrator_spark.streaming import CdcPipeline

WEB_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

N_URLS, N_EVENTS = 150, 600


@pytest.fixture()
def event_log(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "log")
    events = gen_change_events(spark, n_urls=N_URLS, n_events=N_EVENTS, seed=7)
    write_event_log(events, path, n_chunks=6)
    return path


def snapshot(table):
    return {
        r["url"]: (r["warc_ts"], r["text"], r["lang"])
        for r in table.read().collect()
    }


def mk_table(spark, tmpdir_path, name):
    return LakeTable.create(
        spark, os.path.join(tmpdir_path, name), WEB_SCHEMA,
        EngineConfig(n_buckets=8),
    )


def test_stream_replay_equals_batch_replay(spark, tmpdir_path, event_log):
    # batch replay in one merge
    t_batch = mk_table(spark, tmpdir_path, "batch")
    p_batch = CdcPipeline(spark, t_batch, stream_id="b")
    p_batch.run_batch(read_event_log(spark, event_log))

    # stream replay in many micro-batches
    t_stream = mk_table(spark, tmpdir_path, "stream")
    p_stream = CdcPipeline(spark, t_stream, stream_id="s")
    q = p_stream.run_stream(event_log, os.path.join(tmpdir_path, "ckpt"),
                            max_files_per_trigger=1)
    q.awaitTermination(300)

    assert snapshot(t_batch) == snapshot(t_stream)
    assert len(snapshot(t_stream)) > 0


def test_checkpoint_resume_converges(spark, tmpdir_path, event_log):
    ckpt = os.path.join(tmpdir_path, "ckpt")
    t = mk_table(spark, tmpdir_path, "t")
    p = CdcPipeline(spark, t, stream_id="s")

    # phase 1: drain, then "kill" (query stops after availableNow)
    q = p.run_stream(event_log, ckpt, max_files_per_trigger=2)
    q.awaitTermination(300)
    v_after_phase1 = t.version

    # restart from the same checkpoint: nothing new → no state change
    q = p.run_stream(event_log, ckpt, max_files_per_trigger=2)
    q.awaitTermination(300)
    s1 = snapshot(t)

    # reference result: fresh uninterrupted replay
    t2 = mk_table(spark, tmpdir_path, "t2")
    CdcPipeline(spark, t2, stream_id="x").run_batch(
        read_event_log(spark, event_log))
    assert s1 == snapshot(t2)
    assert t.version >= v_after_phase1


def test_epoch_fence_on_redelivery(spark, tmpdir_path, event_log):
    """Simulate foreachBatch redelivery (crash between table commit and
    Spark checkpoint commit): re-applying an epoch must be a no-op."""
    t = mk_table(spark, tmpdir_path, "t")
    p = CdcPipeline(spark, t, stream_id="s")
    log = read_event_log(spark, event_log)
    r0 = p.apply_batch(log.filter(F.col("seq") < 300), epoch_id=0)
    r1 = p.apply_batch(log.filter(F.col("seq") >= 300), epoch_id=1)
    assert not r0.skipped and not r1.skipped
    before = snapshot(t)
    redelivered = p.apply_batch(log.filter(F.col("seq") < 300), epoch_id=0)
    assert redelivered.skipped
    assert snapshot(t) == before


def test_lineage_and_counters(spark, tmpdir_path, event_log):
    t = mk_table(spark, tmpdir_path, "t")
    p = CdcPipeline(spark, t, stream_id="s")
    q = p.run_stream(event_log, os.path.join(tmpdir_path, "ckpt"),
                     max_files_per_trigger=2)
    q.awaitTermination(300)

    lin = p.lineage()
    # every lineage row carries offsets + checksum; buckets ⊆ [0, 8)
    assert lin.filter(F.col("bucket") >= 8).count() == 0
    assert lin.filter(F.col("checksum").isNull()).count() == 0
    # counters: total applied events == valid events in the log
    c = p.counters()
    total = c.agg(F.sum("events_applied")).collect()[0][0]
    log = read_event_log(spark, event_log)
    n_valid = log.filter(F.col("url").isNotNull()).count()
    assert total == n_valid
    # final checksums match lineage's last-version rows per bucket
    cs = {r["bucket"]: int(r["checksum"]) for r in t.checksums().collect()}
    from pyspark.sql import Window
    w = Window.partitionBy("bucket").orderBy(F.col("version").desc())
    last = (lin.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1").collect())
    for r in last:
        if r["live_rows"] > 0:
            assert cs[r["bucket"]] == int(r["checksum"])


def test_run_info_rollup_with_known_rejects(spark, tmpdir_path):
    """Run-level summary (reference cdm_run_info + cdm-assert.sh
    totals): ENDED row whose totals equal the per-epoch counter sums
    for a replay with known skips/quarantines (VERDICT r2 #5)."""
    import datetime as dt

    from cassandra_data_migrator_spark.streaming import (
        finalize_stream_run,
        run_info,
    )

    t = mk_table(spark, tmpdir_path, "t")
    cfg = EngineConfig(
        n_buckets=8,
        writetime_min=dt.datetime(2023, 11, 15, tzinfo=dt.timezone.utc),
    )
    p = CdcPipeline(spark, t, cfg, stream_id="s")
    schema = T.StructType([
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    ok, old = dt.datetime(2023, 11, 20), dt.datetime(2023, 11, 1)
    p.apply_batch(spark.createDataFrame([
        (0, "update", "https://a/1", ok, b"<p>x</p>", "en"),
        (1, "update", "https://a/2", old, b"<p>y</p>", "en"),   # skipped
        (2, "update", None, ok, b"<p>z</p>", "en"),             # quarantined
    ], schema), epoch_id=0)
    p.apply_batch(spark.createDataFrame([
        (3, "update", "https://a/3", ok, b"<p>w</p>", "en"),
        (4, "delete", "https://a/1", ok, None, None),
    ], schema), epoch_id=1)

    totals = finalize_stream_run(p)
    assert totals == {"epochs": 2, "read": 5, "valid": 3, "skipped": 1,
                      "quarantined": 1, "events_applied": 3}
    row = run_info(spark, t).collect()[0]
    assert row["status"] == "ENDED" and row["kind"] == "stream"
    assert row["final_version"] == t.version
    assert row["events_applied"] == 3
    # idempotent: re-finalizing overwrites, not duplicates
    finalize_stream_run(p)
    assert run_info(spark, t).count() == 1


def test_probed_path_counts_null_predicate_as_skipped(spark, tmpdir_path):
    """_prepare's status tagging (the transform=None probe path) must
    agree with split_events on NULL-predicate rows: skipped, never
    'valid' or silently dropped (ADVICE r2)."""
    import datetime as dt

    t = mk_table(spark, tmpdir_path, "t")
    cfg = EngineConfig(n_buckets=8, origin_filter_condition="lang = 'en'")
    p = CdcPipeline(spark, t, cfg, stream_id="s")
    base = dt.datetime(2023, 11, 20)
    rows = [
        (0, "update", "https://a/1", base, b"<p>x</p>", "en"),
        (1, "update", "https://a/2", base, b"<p>y</p>", "fr"),
        (2, "update", "https://a/3", base, b"<p>z</p>", None),  # NULL pred
    ]
    schema = T.StructType([
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    p.apply_batch(spark.createDataFrame(rows, schema), epoch_id=0)
    c = p.counters().collect()[0]
    assert c["valid"] == 1
    assert c["skipped"] == 2          # fr AND the NULL-lang row
    assert c["quarantined"] == 0
    assert c["read"] == 3
    assert t.read().count() == 1


def test_probed_path_applies_salted_repartition(spark, tmpdir_path):
    """With eager extraction (lazy_extract=False, which always salts), the
    probe path of _prepare must level hot-domain skew before the Arrow
    UDF stage (ADVICE r2)."""
    t = mk_table(spark, tmpdir_path, "t")
    p = CdcPipeline(spark, t, stream_id="s",
                    lazy_extract=False)
    ev = gen_change_events(spark, n_urls=20, n_events=50, seed=3)
    batch, probe, _s, _q = p._prepare(ev, epoch_id=0)
    probe.unpersist()
    # the salt expr hashes (key, monotonically_increasing_id)
    plan = batch._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression" in plan
    assert "monotonically_increasing_id" in plan


def test_counters_count_skipped_and_quarantined(spark, tmpdir_path):
    """Reference SKIPPED/ERROR counter parity (job/JobCounter.java:36):
    rejected rows are persisted per epoch and counted exactly."""
    import datetime as dt

    t = mk_table(spark, tmpdir_path, "t")
    cfg = EngineConfig(
        n_buckets=8,
        writetime_min=dt.datetime(2023, 11, 15, tzinfo=dt.timezone.utc),
    )
    p = CdcPipeline(spark, t, cfg, stream_id="s")
    rows = [
        (0, "update", "https://a/1", dt.datetime(2023, 11, 20), b"<p>x</p>", "en"),
        (1, "update", "https://a/2", dt.datetime(2023, 11, 1), b"<p>y</p>", "en"),
        (2, "update", None, dt.datetime(2023, 11, 21), b"<p>z</p>", "en"),
        (3, "update", "https://a/3", dt.datetime(2023, 11, 22), b"<p>w</p>", "en"),
    ]
    schema = T.StructType([
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    p.apply_batch(spark.createDataFrame(rows, schema), epoch_id=0)
    c = p.counters().collect()[0]
    assert c["valid"] == 2            # seq 0 and 3
    assert c["skipped"] == 1          # seq 1: before writetime window
    assert c["quarantined"] == 1      # seq 2: null key
    assert c["read"] == 4
    # rejected rows are persisted, not dropped
    assert spark.read.parquet(p.skipped_path).count() == 1
    assert spark.read.parquet(p.quarantine_path).count() == 1
    # the lake table only holds the valid rows
    assert t.read().count() == 2


def test_fused_probe_prereduce_equivalence(spark, tmpdir_path, monkeypatch):
    """The combined probe+winner aggregation (one thin scan feeding
    offsets, reject counts AND the merge's pre-reduction) must be
    invisible: same final state, same counters as the same pipeline
    with pre-reduction disabled, on a batch with multi-event keys, a
    delete, an exact duplicate, a null-seq event, a same-ts tie, plus
    skipped and quarantined rows."""
    import datetime as dt

    ok = dt.datetime(2023, 11, 20)
    hi = dt.datetime(2023, 11, 21)
    old = dt.datetime(2023, 11, 1)
    schema = T.StructType([
        T.StructField("seq", T.LongType(), True),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    rows = [
        (1, "insert", "https://a/1", ok, b"<p>a1</p>", "en"),
        (2, "update", "https://a/1", hi, b"<p>a2</p>", "en"),   # winner
        (3, "update", "https://b/2", ok, b"<p>b1</p>", "en"),
        (4, "delete", "https://b/2", hi, None, None),           # delete wins
        (5, "insert", "https://c/3", ok, b"<p>c1</p>", "en"),
        (5, "insert", "https://c/3", ok, b"<p>c1</p>", "en"),   # exact dup
        (6, "insert", "https://d/4", ok, b"<p>d1</p>", "en"),
        (7, "update", "https://d/4", ok, b"<p>d2</p>", "en"),   # seq tie-break
        (None, "insert", "https://e/5", ok, b"<p>e1</p>", "en"),  # null seq
        (8, "update", "https://f/6", old, b"<p>f</p>", "en"),   # skipped
        (9, "update", None, ok, b"<p>g</p>", "en"),             # quarantined
    ]
    from cassandra_data_migrator_spark.lake import table as table_mod

    counters, states = {}, {}
    for mode, max_ev in (("fused", 32_000_000), ("off", 0)):
        monkeypatch.setattr(table_mod, "_PREREDUCE_MAX_EVENTS", max_ev)
        t = mk_table(spark, tmpdir_path, f"fp_{mode}")
        cfg = EngineConfig(
            n_buckets=8,
            writetime_min=dt.datetime(2023, 11, 15,
                                      tzinfo=dt.timezone.utc),
        )
        p = CdcPipeline(spark, t, cfg, stream_id=f"s_{mode}")
        p.apply_batch(spark.createDataFrame(rows, schema), epoch_id=0)
        c = p.counters().collect()[0]
        counters[mode] = (c["read"], c["valid"], c["skipped"],
                          c["quarantined"], c["events_applied"])
        states[mode] = {
            r["url"]: (r["lang"], bool(r["text"]))
            for r in t.read().collect()}
    assert counters["fused"] == counters["off"] == (11, 9, 1, 1, 9)
    assert states["fused"] == states["off"]
    assert "https://b/2" not in states["fused"]
    assert set(states["fused"]) == {
        "https://a/1", "https://c/3", "https://d/4", "https://e/5"}


def test_checkpoint_resume_with_growing_log(spark, tmpdir_path):
    """A binlog that GROWS between runs: drain the first half, discard
    every handle (process boundary), append new segments, resume a
    fresh pipeline + table handle from the same checkpoint — only the
    new segments replay and the final state equals a one-shot replay."""
    path = os.path.join(tmpdir_path, "growlog")
    ckpt = os.path.join(tmpdir_path, "growckpt")
    events = gen_change_events(spark, n_urls=N_URLS, n_events=N_EVENTS,
                               seed=11)
    half = N_EVENTS // 2
    first = write_event_log(events.filter(F.col("seq") < half), path,
                            n_chunks=3)
    t = mk_table(spark, tmpdir_path, "grow")
    CdcPipeline(spark, t, stream_id="g").run_stream(
        path, ckpt, max_files_per_trigger=1).awaitTermination(300)
    v1 = LakeTable(spark, t.path).version
    assert v1 > 0

    new = write_event_log(events.filter(F.col("seq") >= half), path,
                          n_chunks=3, append=True)
    # append preserved the old segments and mtime-ordered the new ones
    assert set(first).isdisjoint(new) and len(new) == 3
    assert min(os.path.getmtime(f) for f in new) > \
        max(os.path.getmtime(f) for f in first)

    t2 = LakeTable(spark, t.path)  # fresh handle — nothing shared
    CdcPipeline(spark, t2, stream_id="g").run_stream(
        path, ckpt, max_files_per_trigger=1).awaitTermination(300)

    t_ref = mk_table(spark, tmpdir_path, "grow_ref")
    CdcPipeline(spark, t_ref, stream_id="r").run_batch(
        read_event_log(spark, path))
    assert snapshot(LakeTable(spark, t.path)) == snapshot(t_ref)


def test_finalize_empty_run_records_zero_totals(spark, tmpdir_path):
    """A stream over an empty/already-drained log executes zero
    micro-batches; finalizing must record a zero-total ENDED row, not
    crash on the never-created counters side table."""
    from cassandra_data_migrator_spark.streaming import (
        finalize_stream_run,
        run_info,
    )

    t = mk_table(spark, tmpdir_path, "t")
    p = CdcPipeline(spark, t, stream_id="empty")
    totals = finalize_stream_run(p)
    assert totals == {"epochs": 0, "read": 0, "valid": 0, "skipped": 0,
                      "quarantined": 0, "events_applied": 0}
    row = run_info(spark, t).collect()[0]
    assert row["status"] == "ENDED" and row["events_applied"] == 0
    assert p.lineage().count() == 0 and p.counters().count() == 0


def test_hot_domain_skew_salted_correctness(spark, tmpdir_path):
    """P2 salting, correctness-tested (was plan-tested only): a log
    where ONE url carries 60% of all events runs through BOTH eager
    paths that engage the salted repartition — with a custom transform
    (the merge probes itself) and without (the pipeline's probe) — and
    each converges
    to the same LWW state as the unsalted lazy path and the plain
    window oracle. Salting must level the Arrow stage without
    changing a single winner."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import types as T

    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.functions.udfs import (
        extract_text,
        normalize_lang,
    )
    from cassandra_data_migrator_spark.lake import LakeTable
    from cassandra_data_migrator_spark.sources import gen_change_events
    from cassandra_data_migrator_spark.streaming import CdcPipeline

    base = gen_change_events(spark, n_urls=50, n_events=500, seed=77)
    # hot-domain skew: 60% of events hammer one url
    ev = base.withColumn(
        "url", F.when(F.col("seq") % 5 < 3, F.lit("https://hot.example/"))
                .otherwise(F.col("url")))

    schema = T.StructType.fromDDL(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    cfg = EngineConfig(n_buckets=8, salt_buckets=4)

    def replay(tag, **pipe_kw):
        t = LakeTable.create(spark, os.path.join(tmpdir_path, tag),
                             schema, cfg)
        CdcPipeline(spark, t, cfg, stream_id=tag, **pipe_kw).run_batch(ev)
        return {r["url"]: (r["warc_ts"], r["text"], r["lang"])
                for r in t.read().collect()}

    # eager, pipeline probe handed to the merge
    probed = replay("probed", lazy_extract=False)
    # eager + custom transform (the merge probes the transformed batch)
    sink = replay("sink", lazy_extract=False, transform=lambda df: df)
    # lazy winner-side extraction (no salt stage — skew-free by
    # construction)
    lazy = replay("lazy", lazy_extract=True)
    assert probed == sink == lazy

    # plain window-LWW oracle over the same events
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("seq").desc())
    want = {
        r["url"]: (r["warc_ts"], r["text"], r["lang"])
        for r in (
            ev.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("op") != "delete"))
            .withColumn("text", extract_text(F.col("html")))
            .withColumn("lang", normalize_lang(F.col("lang")))
            .select("url", "warc_ts", "text", "lang").collect())
    }
    assert probed == want
    # the input really was skewed: one key carried ~60% of all events
    # (its LWW winner may legitimately be a delete — the agreement
    # asserts above are the correctness claim)
    hot_n = ev.filter(F.col("url") == "https://hot.example/").count()
    assert hot_n >= int(0.55 * ev.count())
