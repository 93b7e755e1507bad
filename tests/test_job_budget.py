"""Spark job budgets of the engine's write paths.

Each case counts the Spark jobs one call launches on a small fixed
input, by running the call under its own job group and asking the
status tracker for the group's job ids. The budgets are the measured
counts of the current layout; a change that launches more jobs on any
of these paths fails here instead of showing up later as a per-epoch
latency regression. The same tracker also gives each stage's task
count, which bounds the width of the bucketed writes.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.lake import LakeTable
from cassandra_data_migrator_spark.operators.diff import (
    autocorrect,
    diff_tables,
)
from cassandra_data_migrator_spark.sources import (
    gen_change_events,
    gen_web_pages,
)
from cassandra_data_migrator_spark.streaming import CdcPipeline
from cassandra_data_migrator_spark.streaming.changelog import (
    ensure_replica,
    replicate,
)

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])
N_BUCKETS = 8

# jobs per call, measured with the commit tail's lineage scan reading
# the written file list under an explicit schema (no footer-inference
# job); the code may launch fewer, never more
BUDGET_MOR_PIPELINE_EPOCH = 8
BUDGET_MOR_FOLD_EPOCH = 8
BUDGET_COW_MERGE = 8
BUDGET_AUTOCORRECT = 13
BUDGET_FULL_OVERWRITE = 4
BUDGET_MOR_REPLICATE_EPOCH = 12


def measure(spark, fn) -> tuple[int, list[list[int]]]:
    """The number of Spark jobs ``fn()`` launches and, per job in launch
    order, the task counts of its stages that read a shuffle: every
    stage but the job's first (the first one scans files or a cache,
    and is split by file size, not by the engine's exchange widths). A
    bucketed write's stage is one of them."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    widths = []
    for j in sorted(jobs):
        stages = sorted(tracker.getJobInfo(j).stageIds)
        infos = [tracker.getStageInfo(s) for s in stages[1:]]
        # the status store trims itself to spark.ui.retainedStages by
        # dropping skipped stages first (a skipped stage reused an
        # earlier job's shuffle output and ran no task), so after a long
        # session a skipped stage may have no info left: it is not a
        # stage this call ran
        widths.append([i.numTasks for i in infos if i is not None])
    return len(jobs), widths


def inputs(spark, base):
    """Seed pages and one change batch, as parquet files; the events
    are shifted past the pages' times so they win LWW against them."""
    pages = os.path.join(base, "pages")
    events = os.path.join(base, "events")
    gen_web_pages(spark, 400, seed=5).select(*SCHEMA.fieldNames()) \
        .write.parquet(pages)
    (gen_change_events(spark, n_urls=400, n_events=1200, seed=5)
     .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 400 DAYS"))
     .write.parquet(events))
    return spark.read.parquet(pages), spark.read.parquet(events)


def seeded(spark, base, name, pages, mode="cow"):
    t = LakeTable.create(spark, os.path.join(base, name), SCHEMA,
                         EngineConfig(n_buckets=N_BUCKETS, merge_mode=mode))
    t.overwrite(pages)
    return t


def test_job_budgets(spark, tmpdir_path):
    """Job counts stay within budget, and every bucketed write is one
    task wave: with 8 buckets on local[4], no stage after an exchange
    runs more tasks than there are cores, and a 1-bucket scoped
    overwrite runs its write as one task. Scan stages are left out:
    their width follows the input files (a CoW merge reads 8 bucket
    files), not an engine choice."""
    cores = spark.sparkContext.defaultParallelism
    assert cores < N_BUCKETS
    pages, events = inputs(spark, tmpdir_path)
    first = events.filter(F.col("seq") < 600)
    second = events.filter(F.col("seq") >= 600)
    jobs, widths = {}, {}

    def record(path, fn):
        jobs[path], widths[path] = measure(spark, fn)

    # one MoR pipeline epoch without compaction (the live-tail shape):
    # a warm-up epoch first, so the measured one runs on a grown table;
    # then a compaction folding its deltas
    t = seeded(spark, tmpdir_path, "mor", pages, mode="mor")
    p = CdcPipeline(spark, t, EngineConfig(n_buckets=N_BUCKETS,
                                           merge_mode="mor"),
                    stream_id="tail")
    p.apply_batch(first, epoch_id=0)
    record("mor_pipeline_epoch", lambda: p.apply_batch(second, epoch_id=1))
    record("compact", t.compact)

    # the same epoch where it brings every bucket to the delta threshold:
    # the fold rides in the epoch's own write
    t = seeded(spark, tmpdir_path, "fold", pages, mode="mor")
    cfg = EngineConfig(n_buckets=N_BUCKETS, merge_mode="mor",
                       mor_compact_min_deltas=2)
    p = CdcPipeline(spark, t, cfg, stream_id="tail")
    p.apply_batch(first, epoch_id=0)
    record("mor_fold_epoch", lambda: p.apply_batch(second, epoch_id=1))
    assert t.delta_file_counts() == {}

    # one direct CoW merge_batch, then one replicate epoch catching an
    # MoR replica (snapshot-seeded before the merge) up with it
    t = seeded(spark, tmpdir_path, "cow", pages)
    replica = ensure_replica(spark, t, os.path.join(tmpdir_path, "replica"),
                             merge_mode="mor")
    hop_ckpt = os.path.join(tmpdir_path, "hop_ckpt")
    replicate(spark, t, replica, hop_ckpt, bootstrap="snapshot")
    record("cow_merge",
           lambda: t.merge_batch(events, stream_id="m", epoch_id=0))
    hop = {}
    record("mor_replicate_epoch",
           lambda: hop.update(replicate(spark, t, replica, hop_ckpt)))
    assert len(hop["batches"]) == 1, hop

    # one autocorrect merge of a stale target against its origin
    origin = seeded(spark, tmpdir_path, "origin", pages)
    h = F.xxhash64("url")
    stale = seeded(spark, tmpdir_path, "stale",
                   pages.filter(h % 5 != 0).withColumn(
                       "lang", F.when(h % 7 == 0, F.lit("zz"))
                                .otherwise(F.col("lang"))))
    diff = diff_tables(origin.read(), stale.read()).cache()
    diff.count()
    fixed = {}
    record("autocorrect", lambda: fixed.update(
        autocorrect(stale, origin.read(), diff)[1]))
    diff.unpersist()
    assert fixed["corrected_missing"] and fixed["corrected_mismatch"]

    # one full overwrite, then a 1-bucket scoped one
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "seed"), SCHEMA,
                         EngineConfig(n_buckets=N_BUCKETS))
    record("full_overwrite", lambda: t.overwrite(pages))
    record("scoped_overwrite", lambda: t.overwrite(pages, buckets=[3]))
    assert [len(es) for es in t.manifest["files"].values()] \
        == [1] * N_BUCKETS

    print("job counts:", jobs)
    print("post-exchange stage widths:", widths)
    assert jobs["mor_pipeline_epoch"] <= BUDGET_MOR_PIPELINE_EPOCH, jobs
    assert jobs["mor_fold_epoch"] <= BUDGET_MOR_FOLD_EPOCH, jobs
    assert jobs["cow_merge"] <= BUDGET_COW_MERGE, jobs
    assert jobs["autocorrect"] <= BUDGET_AUTOCORRECT, jobs
    assert jobs["full_overwrite"] <= BUDGET_FULL_OVERWRITE, jobs
    assert jobs["mor_replicate_epoch"] <= BUDGET_MOR_REPLICATE_EPOCH, jobs
    for path, per_job in widths.items():
        tasks = [n for job in per_job for n in job]
        assert tasks and max(tasks) <= cores, (path, widths)
    # the write job is the call's first job that reads a shuffle (the
    # commit tail writes before its lineage scan); the lineage
    # aggregation's own exchange is spark.sql.shuffle.partitions wide
    # and only AQE coalescing narrows it, so it is held to the core
    # bound above, not to this one
    write_job = next(job for job in widths["scoped_overwrite"] if job)
    assert write_job == [1], widths
