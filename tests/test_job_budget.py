"""Spark job budgets of the engine's write paths.

Each case counts the Spark jobs one call launches on a small fixed
input, by running the call under its own job group and asking the
status tracker for the group's job ids. The budgets are the counts of
the probe/commit-tail layout before the single-probe refactor; a change
that launches more jobs on any of these paths fails here instead of
showing up later as a per-epoch latency regression.
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

# jobs per call, measured with the per-call probe + separate seed-stats
# scan layout; the current code may launch fewer, never more
BUDGET_MOR_PIPELINE_EPOCH = 10
BUDGET_COW_MERGE = 9
BUDGET_AUTOCORRECT = 21
BUDGET_FULL_OVERWRITE = 5
# measured with replicate's own poll loop, before it became the
# single-hop case of replicate_many
BUDGET_MOR_REPLICATE_EPOCH = 13


def count_jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


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
    pages, events = inputs(spark, tmpdir_path)
    first = events.filter(F.col("seq") < 600)
    second = events.filter(F.col("seq") >= 600)

    # one MoR pipeline epoch without compaction (the live-tail shape):
    # a warm-up epoch first, so the measured one runs on a grown table
    t = seeded(spark, tmpdir_path, "mor", pages, mode="mor")
    p = CdcPipeline(spark, t, EngineConfig(n_buckets=N_BUCKETS,
                                           merge_mode="mor"),
                    stream_id="tail")
    p.apply_batch(first, epoch_id=0)
    mor_epoch = count_jobs(spark, lambda: p.apply_batch(second, epoch_id=1))

    # one direct CoW merge_batch, then one replicate epoch catching an
    # MoR replica (snapshot-seeded before the merge) up with it
    t = seeded(spark, tmpdir_path, "cow", pages)
    replica = ensure_replica(spark, t, os.path.join(tmpdir_path, "replica"),
                             merge_mode="mor")
    hop_ckpt = os.path.join(tmpdir_path, "hop_ckpt")
    replicate(spark, t, replica, hop_ckpt, bootstrap="snapshot")
    cow_merge = count_jobs(
        spark, lambda: t.merge_batch(events, stream_id="m", epoch_id=0))
    hop = {}
    replicate_epoch = count_jobs(spark, lambda: hop.update(
        replicate(spark, t, replica, hop_ckpt)))
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
    fix = count_jobs(spark, lambda: fixed.update(
        autocorrect(stale, origin.read(), diff)[1]))
    diff.unpersist()
    assert fixed["corrected_missing"] and fixed["corrected_mismatch"]

    # one full overwrite
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "seed"), SCHEMA,
                         EngineConfig(n_buckets=N_BUCKETS))
    full_overwrite = count_jobs(spark, lambda: t.overwrite(pages))

    counts = {"mor_pipeline_epoch": mor_epoch, "cow_merge": cow_merge,
              "autocorrect": fix, "full_overwrite": full_overwrite,
              "mor_replicate_epoch": replicate_epoch}
    print("job counts:", counts)
    assert mor_epoch <= BUDGET_MOR_PIPELINE_EPOCH, counts
    assert cow_merge <= BUDGET_COW_MERGE, counts
    assert fix <= BUDGET_AUTOCORRECT, counts
    assert full_overwrite <= BUDGET_FULL_OVERWRITE, counts
    assert replicate_epoch <= BUDGET_MOR_REPLICATE_EPOCH, counts
