"""Physical-plan contracts: the scale properties PLANS.md documents are
asserted here so a regression (extra shuffle, unfused UDFs, lost
pushdown) fails tests instead of surfacing at 100 TB."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cassandra_data_migrator_spark import plans
from cassandra_data_migrator_spark.functions.hashing import bucket_expr
from cassandra_data_migrator_spark.functions.udfs import extract_text, normalize_lang
from cassandra_data_migrator_spark.operators.similarity import cosine_topk
from cassandra_data_migrator_spark.sources.event_log import write_event_log
from cassandra_data_migrator_spark.sources.synthetic import gen_change_events


def _log(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "log")
    write_event_log(gen_change_events(spark, 50, 200), path, n_chunks=2)
    return spark.read.parquet(path)


def test_adjacent_pandas_udfs_fuse_into_one_arrow_node(spark, tmpdir_path):
    df = _log(spark, tmpdir_path) \
        .withColumn("text", extract_text(F.col("html"))) \
        .withColumn("lang", normalize_lang(F.col("lang")))
    assert plans.python_eval_nodes(df) == 1


def test_validity_filter_pushed_to_scan(spark, tmpdir_path):
    df = _log(spark, tmpdir_path).filter(F.col("url").isNotNull())
    pushed = plans.pushed_filters(df)
    assert any("IsNotNull(url)" in p for p in pushed)


def test_merge_shape_is_single_shuffle(spark, tmpdir_path):
    """The LWW merge's core claim: clustering by _bucket once serves both
    the (bucket, key) window and the bucketed write — exactly ONE
    exchange in the plan (Spark's ClusteredDistribution subset rule).
    Guards the rework documented in PLANS.md against Spark upgrades."""
    df = _log(spark, tmpdir_path).withColumn("_b", bucket_expr("url", 16))
    ranked = (
        df.repartition(8, F.col("_b"))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_b", "url")
            .orderBy(F.col("warc_ts").desc(), F.col("seq").desc())))
        .filter(F.col("_rn") == 1)
    )
    assert plans.count_exchanges(ranked) == 1
    assert plans.has_window_group_limit(ranked)


def test_topk_uses_window_group_limit(spark, tmpdir_path):
    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("float")
                  for i in range(4)]).alias("embedding"))
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=2)
    assert plans.has_window_group_limit(out)


def test_candidate_bounded_jaccard_has_no_shingle_selfjoin(spark):
    """With LSH candidates supplied, the exact-Jaccard verify must be
    bounded by them: the plan may join on (id, shingle) keys but NEVER
    run the inverted-index self-join on shingle alone (quadratic in
    stop-shingle frequency — the r1 scale-killer)."""
    import re

    from cassandra_data_migrator_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "x y z")], "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = D.jaccard_pairs(docs, "doc_id", "text", candidates=cand)
    plan = plans.explain_str(out, "simple")
    join_keys = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\w*\s*"
        r"(?:\w+\s+)?\[([^\]]*)\]", plan)
    for keys in join_keys:
        names = {k.strip().split("#")[0] for k in keys.split(",") if k.strip()}
        assert names != {"shingle"}, plan


def test_scan_prunes_columns(spark, tmpdir_path):
    df = _log(spark, tmpdir_path).select("url")
    plan = plans.explain_str(df, "formatted")
    assert "html" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_ivf_candidate_join_is_broadcast_equi(spark):
    """IVF candidates come from a broadcast equi-join on the cell key —
    never a cartesian/nested-loop product, never Python, and the corpus
    side carries no per-row driver interaction (the centroid matrix is
    plan literals)."""
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) for d in range(4)]) for i in range(40)],
        "vec_id long, embedding array<float>")
    cents = S.ivf_centroids(emb, 4)
    out = S.ivf_ann_topk(emb, emb.filter(F.col("vec_id") < 3), cents,
                         k=3, nprobe=2)
    plan = plans.explain_str(out, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and \
        "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_counter_watermark_tail_filter_pushed_to_scan(spark, tmpdir_path):
    """The counter SEQ high-watermark's grown-log tail filter
    (``merge_counter_batch(watermark=True)`` re-run) must reach the
    event-log parquet scan as a pushed GreaterThan — the incremental
    apply's whole point is scanning only the tail's row groups."""
    from cassandra_data_migrator_spark.lake.table import (
        watermark_tail_predicate,
    )

    df = _log(spark, tmpdir_path).filter(watermark_tail_predicate("seq", 25))
    pushed = plans.pushed_filters(df)
    assert any("GreaterThan(seq,25)" in p for p in pushed), pushed


def test_online_dedup_anti_join_broadcasts_drop_set(spark):
    """online_dedup_keep's terminal is the same byte-priced broadcast
    anti-join as the batch survivor terminal: the corpus payload never
    shuffles — only the thin melted-bands frames do."""
    from cassandra_data_migrator_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, ("same text " * 10) if i < 6 else f"unique {i} " * 10)
         for i in range(20)],
        "doc_id long, text string")
    kept = D.online_dedup_keep(docs, "doc_id", "text")
    plan = plans.explain_str(kept, "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_survivor_anti_join_broadcasts_bounded_drop_set(spark):
    """The dedup survivor anti-join must broadcast the (bounded)
    non-survivor id set — the corpus payload columns never shuffle on
    the dedup terminal step. Checkpoint-backed drop frames have no size
    stats, so the operator makes the broadcast explicit from the count
    it already materialized."""
    from cassandra_data_migrator_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, ("same text " * 10) if i < 6 else f"unique {i} " * 10)
         for i in range(20)],
        "doc_id long, text string")
    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    kept = D.survivor_keep_list(docs, pairs, "doc_id")
    plan = plans.explain_str(kept, "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the corpus leg feeds the anti-join straight from the scan —
    # no Exchange between the docs relation and the join
    assert "SortMergeJoin" not in plan, plan


def test_fanout_second_hop_reads_the_cached_delta(spark, tmpdir_path):
    """replicate_many's scale claim: within a position group the
    lowered delta is persisted, so each hop's view resolves to an
    InMemoryRelation scan — NOT a re-read of the source's parquet
    files. Asserted on the hop-view plan over a persisted delta, the
    exact frame replicate_many hands each hop."""
    import os

    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.lake import LakeTable
    from cassandra_data_migrator_spark.streaming.changelog import (
        _hop_events, changes_to_events,
    )
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "fp_t"),
                         schema, EngineConfig(n_buckets=4))
    t.merge_batch(
        spark.createDataFrame(
            [(1, "insert", "a", __import__("datetime").datetime(
                2024, 1, 1), b"<p>x</p>", "x", "en")],
            "seq long, op string, url string, warc_ts timestamp, "
            "html binary, text string, lang string"))
    events = changes_to_events(
        t.changes_between(1, with_ordering=True), ts_col=t.ts_col)
    events = events.persist()
    try:
        events.count()   # materialize the cache, as hop 1's merge does
        hop_view = _hop_events(events, t, where="lang = 'en'")
        plan = plans.explain_str(hop_view, "simple")
        # the executed read is the InMemoryTableScan; FileScan lines
        # below it are the cached relation's stored DEFINITION (shown
        # by explain inside InMemoryRelation), not an executed re-read,
        # so assert the cache node is what feeds the hop's projection
        head = plan.split("InMemoryRelation", 1)[0]
        assert "InMemoryTableScan" in head
        assert "FileScan parquet" not in head
    finally:
        events.unpersist()


def test_filtered_hop_projection_narrows_the_event_frame(spark,
                                                         tmpdir_path):
    """A projected replica's hop view must carry ONLY the kept columns
    (+ op/seq/ts): the heavy html payload cannot enter the hop's
    shuffle, and the predicate conversion lowers to a plain CASE
    projection (no extra exchange, no Python nodes)."""
    import os

    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.lake import LakeTable
    from cassandra_data_migrator_spark.streaming.changelog import (
        _hop_events, changes_to_events, ensure_replica,
    )
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "pp_t"),
                         schema, EngineConfig(n_buckets=4))
    t.merge_batch(
        spark.createDataFrame(
            [(1, "insert", "a", __import__("datetime").datetime(
                2024, 1, 1), b"<p>x</p>", "x", "en")],
            "seq long, op string, url string, warc_ts timestamp, "
            "html binary, text string, lang string"))
    replica = ensure_replica(spark, t, os.path.join(tmpdir_path, "pp_r"),
                             columns=["text"])
    events = changes_to_events(
        t.changes_between(1, with_ordering=True), ts_col=t.ts_col)
    # predicate references a column the projection DROPS — evaluated
    # before the select, so this must still compile
    hop_view = _hop_events(events, replica, where="length(html) > 0")
    assert set(hop_view.columns) == {"url", "warc_ts", "text", "op",
                                     "seq"}
    # the conversion+projection add no exchange of their own: every
    # Exchange in the hop view is already in the raw delta's plan
    # (changes_between's co-partitioned full-outer join)
    n_before = plans.explain_str(events, "simple").count("Exchange")
    n_after = plans.explain_str(hop_view, "simple").count("Exchange")
    assert n_after == n_before
    assert plans.python_eval_nodes(hop_view) == 0


def test_schema_contract_casts_erased_when_types_match(spark,
                                                       tmpdir_path):
    """merge_batch casts every event column to the table's registered
    type (schema-is-the-contract). When the event frame already matches
    — the hot path, every streaming epoch — SimplifyCasts must erase
    them all: zero surviving casts on the merge frame's data columns,
    so the guard costs nothing at 100 TB."""
    import datetime as dt

    from pyspark.sql import types as T

    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.lake import LakeTable

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "castplan"),
                         schema, EngineConfig(n_buckets=4))
    ev = spark.createDataFrame(
        [(1, "insert", "a",
          dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), "x")],
        "seq long, op string, url string, warc_ts timestamp, text string")
    typed = {f.name: f.dataType for f in schema.fields}
    src = ev.select(
        F.col("url").cast(typed["url"]),
        F.col("warc_ts").cast(typed["warc_ts"]),
        F.col("text").cast(typed["text"]).alias("text"),
        F.col("seq").cast("long").alias("_seq"),
    )
    opt = src._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "cast(" not in opt, opt
    # end-to-end: merging the matching-typed frame still works
    t.merge_batch(ev)
    assert t.read().count() == 1


def test_compact_of_a_delta_bucket_is_one_exchange(spark, tmpdir_path,
                                                   monkeypatch):
    """compact() ranks the bucket's unresolved base ∪ delta rows in the
    bucketed write's own LWW window: the `_bucket` clustering is the
    plan's only Exchange (resolving at read time first would add a
    second one under the window)."""
    import datetime as dt

    from pyspark.sql import types as T

    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.lake import LakeTable

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "compactplan"),
                         schema, EngineConfig(n_buckets=4,
                                              merge_mode="mor"))
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for i in range(2):
        t.merge_batch(spark.createDataFrame(
            [(i, "upsert", "a", t0 + dt.timedelta(hours=i), f"v{i}")],
            "seq long, op string, url string, warc_ts timestamp, "
            "text string"))
    assert t.delta_file_counts()
    written = []
    real_write = LakeTable._write_and_commit

    def capture(self, frame, *args, **kw):
        written.append(frame)
        return real_write(self, frame, *args, **kw)

    monkeypatch.setattr(LakeTable, "_write_and_commit", capture)
    t.compact()
    assert plans.count_exchanges(written[0]) == 1
    assert t.delta_file_counts() == {}
    assert [r["text"] for r in t.read().collect()] == ["v1"]


def test_finalize_extracts_text_only_where_it_is_null(spark):
    """finalize_winners hands extract_text the html only where text is
    null: the UDF's argument is the CASE WHEN, so rows that already
    carry text ship no html to Python (a pandas UDF under coalesce
    still runs on every row)."""
    import re

    from cassandra_data_migrator_spark.streaming.pipeline import (
        finalize_winners,
    )

    df = spark.createDataFrame(
        [(b"<p>x</p>", None, "en"), (b"<p>y</p>", "y", "en")],
        "html binary, text string, lang string")
    out = finalize_winners(df)
    plan = plans.explain_str(out, "simple")
    assert re.search(
        r"extract_text\(CASE WHEN isnull\(text#\d+\) THEN html#\d+ END\)",
        plan), plan
    assert sorted(r["text"] for r in out.collect()) == ["x", "y"]


def test_count_exchanges_skips_a_cached_relations_plan(spark):
    """A cache's plan prints in full under every InMemoryRelation that
    references it; its shuffle ran once, when the cache was filled, and
    is not one the frame runs."""
    cached = spark.range(100).repartition(4, "id").persist()
    try:
        cached.count()
        twice = cached.unionByName(cached)
        assert plans.count_exchanges(twice) == 0
        assert plans.count_exchanges(twice.repartition(2, "id")) == 1
    finally:
        cached.unpersist()


@pytest.mark.parametrize("shape", [
    "cow", "cow_force_overwrite", "cow_unset_nulls",
    "mor_delta", "mor_fold", "mor_force_overwrite"])
def test_every_merge_is_one_exchange_and_one_lww_window(
        spark, tmpdir_path, monkeypatch, shape):
    """Every merge shape is one plan: the batch rows and the fold
    buckets' stored rows through one ``_bucket`` Exchange and one LWW
    ``row_number`` window, whichever buckets it folds (a CoW merge folds
    every touched bucket, a plain MoR merge only those at its delta
    threshold). Captured at the commit tail, as the write runs it."""
    import datetime as dt
    import re

    from pyspark.sql import types as T

    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.lake import LakeTable

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    mode = shape.split("_")[0]
    t = LakeTable.create(spark, os.path.join(tmpdir_path, shape), schema,
                         EngineConfig(n_buckets=4, merge_mode=mode))
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def batch(i):
        return spark.createDataFrame(
            [(10 * i + k, "upsert", f"u{k}", t0 + dt.timedelta(hours=i),
              f"v{i}") for k in range(6)],
            "seq long, op string, url string, warc_ts timestamp, "
            "text string")

    # stored rows in every touched bucket; on MoR two deltas each
    for i in range(2):
        t.merge_batch(batch(i))
    if mode == "mor":
        assert t.delta_file_counts()
    kw = {"cow_force_overwrite": {"force_overwrite": True},
          "cow_unset_nulls": {"unset_nulls": True},
          "mor_fold": {"fold_min_deltas": 3},
          "mor_force_overwrite": {"force_overwrite": True}}.get(shape, {})
    written = []
    real_write = LakeTable._write_and_commit

    def capture(self, frame, *args, **kwargs):
        # planned here, while the merge's probe cache is still live
        plan = plans.own_plan(frame)
        written.append((plans.count_exchanges(frame),
                        len(re.findall(r"\bWindow \[row_number\(\)", plan)),
                        plan, kwargs.get("append")))
        return real_write(self, frame, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_and_commit", capture)
    t.merge_batch(batch(2), **kw)
    exchanges, windows, plan, append = written[0]
    assert bool(append) == (shape == "mor_delta")
    assert (exchanges, windows) == (1, 1), plan
    assert sorted(r["text"] for r in t.read().collect()) == ["v2"] * 6
    if shape != "mor_delta":
        assert t.delta_file_counts() == {}
