"""Merge-on-read (MoR) mode: delta-append merges, read-time LWW
resolution, compaction folding, and CoW-equivalence.

The reference migrator always rewrites the target row in place
(Cassandra upsert, cql/statement/TargetUpsertStatement.java); the lake
analog of that is copy-on-write. MoR is the other lake write strategy
(Iceberg v2 merge-on-read / Hudi MOR): append only the batch winners,
resolve at read. Every test here asserts the SAME observable state the
CoW suite (test_lake.py) pins, through the delta path.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.lake import LakeTable

UTC = dt.timezone.utc

WEB_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=s)


def nts(s: int) -> dt.datetime:
    """ts(s) as collect() returns it (session tz = UTC, tz-naive)."""
    return ts(s).replace(tzinfo=None)


def mk_events(spark, rows):
    """rows: (seq, op, url, ts_s, text?)"""
    data = [
        (seq, op, url, ts(t),
         (f"<p>{body}</p>".encode() if body is not None else None),
         body, "en" if body is not None else None)
        for (seq, op, url, t, body) in rows
    ]
    schema = T.StructType([
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    return spark.createDataFrame(data, schema)


def mk_table(spark, tmpdir_path, name, mode="mor", n_buckets=8):
    return LakeTable.create(
        spark, os.path.join(tmpdir_path, name), WEB_SCHEMA,
        EngineConfig(n_buckets=n_buckets, merge_mode=mode),
    )


def final_state(table):
    return {r["url"]: (r["warc_ts"], r["text"])
            for r in table.read().collect()}


def checksum_map(table):
    return {r["bucket"]: (r["row_count"], r["checksum"])
            for r in table.checksums().collect()}


# epochs exercising every LWW edge: in-batch dups, cross-epoch late
# updates, deletes, re-inserts, same-ts seq ties, partial-null rows
EPOCHS = [
    [(1, "insert", "https://a/1", 100, "v1"),
     (2, "insert", "https://b/2", 100, "w1"),
     (3, "update", "https://a/1", 150, "v1.5"),   # in-batch newer
     (4, "insert", "https://c/3", 100, "x1")],
    [(5, "delete", "https://b/2", 300, None),
     (6, "update", "https://a/1", 120, "late"),   # late: loses to 150
     (7, "update", "https://c/3", 100, "x2")],    # same ts, higher seq
    [(8, "update", "https://b/2", 200, "older-than-delete"),  # stays dead
     (9, "insert", "https://b/2", 400, "reborn"),
     (10, "insert", "https://d/4", 500, "d1")],
]


def apply_epochs(table, spark, stream="s", **kw):
    for i, rows in enumerate(EPOCHS):
        table.merge_batch(mk_events(spark, rows), stream_id=stream,
                          epoch_id=i, **kw)


@pytest.mark.parametrize("fold_min_deltas", [0, 1, 2, 3])
def test_mor_final_state_matches_cow(spark, tmpdir_path, fold_min_deltas):
    """Whatever the fold threshold (0: never fold; 1: fold every touched
    bucket, the CoW fold set; 2, 3: fold as buckets reach it), the MoR
    table reaches the CoW table's state and per-bucket checksums."""
    cow = mk_table(spark, tmpdir_path, "cow", mode="cow")
    mor = mk_table(spark, tmpdir_path, "mor", mode="mor")
    apply_epochs(cow, spark)
    apply_epochs(mor, spark, fold_min_deltas=fold_min_deltas)
    assert final_state(mor) == final_state(cow)
    assert checksum_map(mor) == checksum_map(cow)
    if fold_min_deltas == 0:
        # and the MoR table really did take the delta path
        assert mor.delta_file_counts()


def test_mor_lww_edges_exact_values(spark, tmpdir_path):
    t = mk_table(spark, tmpdir_path, "t")
    apply_epochs(t, spark)
    st = final_state(t)
    assert st["https://a/1"] == (nts(150), "v1.5")
    assert st["https://b/2"] == (nts(400), "reborn")
    assert st["https://c/3"] == (nts(100), "x2")
    assert st["https://d/4"] == (nts(500), "d1")


def test_mor_writes_are_appends_not_rewrites(spark, tmpdir_path):
    """The write-amplification claim itself: a second merge must not
    replace the first commit's file entries, and each delta commit's
    lineage covers only ITS batch rows."""
    t = mk_table(spark, tmpdir_path, "t", n_buckets=2)
    t.merge_batch(mk_events(spark, [
        (i, "insert", f"https://u/{i}", 100, f"v{i}") for i in range(20)
    ]), stream_id="s", epoch_id=0)
    base_entries = {b: [e["path"] for e in es]
                    for b, es in t.manifest["files"].items()}
    r = t.merge_batch(mk_events(spark, [
        (100, "update", "https://u/0", 200, "new"),
    ]), stream_id="s", epoch_id=1)
    for b, paths in base_entries.items():
        kept = [e["path"] for e in t.manifest["files"][b]]
        assert kept[:len(paths)] == paths  # prior entries untouched
    # exactly one delta row written, in one bucket
    assert sum(ln["rows_with_tombstones"] for ln in r.lineage) == 1
    assert all(ln.get("delta") for ln in r.lineage)
    assert sum(t.delta_file_counts().values()) >= 1


def test_mor_exact_duplicate_replay_is_idempotent(spark, tmpdir_path):
    """A byte-identical batch re-merged under a NEW epoch id (so the
    fence does not suppress it) adds a delta whose rows all tie with
    stored winners — and lose the dv tie-break, leaving state and
    checksums unchanged (the CoW stored-row-wins-on-tie invariant)."""
    t = mk_table(spark, tmpdir_path, "t")
    ev = mk_events(spark, [(1, "insert", "u", 100, "v1"),
                           (2, "insert", "w", 100, "w1")])
    t.merge_batch(ev, stream_id="s", epoch_id=0)
    cs1 = checksum_map(t)
    t.merge_batch(ev, stream_id="s", epoch_id=1)
    assert checksum_map(t) == cs1
    assert final_state(t)["u"][1] == "v1"


def test_mor_epoch_fence(spark, tmpdir_path):
    t = mk_table(spark, tmpdir_path, "t")
    ev0 = mk_events(spark, [(1, "insert", "u", 100, "v1")])
    ev1 = mk_events(spark, [(2, "update", "u", 200, "v2")])
    t.merge_batch(ev0, stream_id="s", epoch_id=0)
    t.merge_batch(ev1, stream_id="s", epoch_id=1)
    r = t.merge_batch(ev0, stream_id="s", epoch_id=0)
    assert r.skipped
    assert final_state(t)["u"][1] == "v2"


def test_mor_compact_folds_deltas(spark, tmpdir_path):
    t = mk_table(spark, tmpdir_path, "t")
    apply_epochs(t, spark)
    pre_version = t.version
    pre_state = final_state(t)
    pre_cs = checksum_map(t)
    assert t.delta_file_counts()
    res = t.compact()
    assert res is not None
    assert t.delta_file_counts() == {}          # all deltas folded
    assert final_state(t) == pre_state
    assert checksum_map(t) == pre_cs
    # time travel to the pre-compaction snapshot still resolves deltas
    tt = {r["url"]: (r["warc_ts"], r["text"])
          for r in t.read_version(pre_version).collect()}
    assert tt == pre_state
    # a compacted (pure-base) read plans without the resolution window
    plan = t.read()._jdf.queryExecution().toString()
    assert "Window" not in plan


def test_pure_cow_read_plans_without_window(spark, tmpdir_path):
    t = mk_table(spark, tmpdir_path, "t", mode="cow")
    apply_epochs(t, spark)
    plan = t.read()._jdf.queryExecution().toString()
    assert "Window" not in plan


def test_mor_read_bucket_pruning(spark, tmpdir_path):
    """Resolution must not break manifest bucket pruning: a pruned read
    scans only the selected buckets' base+delta files."""
    t = mk_table(spark, tmpdir_path, "t", n_buckets=8)
    apply_epochs(t, spark)
    some_bucket = int(next(iter(t.delta_file_counts())))
    df = t.read(buckets=[some_bucket], include_internal=True)
    got = df.select("_bucket").distinct().collect()
    assert {r["_bucket"] for r in got} <= {some_bucket}
    # every scanned file belongs to the selected bucket's entry list
    allowed = {os.path.join(t.path, e["path"])
               for e in t.manifest["files"][str(some_bucket)]}
    scanned = {f.replace("file://", "").replace("file:", "")
               for f in df.inputFiles()}
    assert scanned and scanned <= allowed


def test_mor_changes_between_matches_cow(spark, tmpdir_path):
    cow = mk_table(spark, tmpdir_path, "cow", mode="cow")
    mor = mk_table(spark, tmpdir_path, "mor", mode="mor")
    apply_epochs(cow, spark)
    apply_epochs(mor, spark)

    def changes(t):
        rows = t.changes_between(1, t.version).collect()
        return sorted((r["url"], r["_change_type"], r["warc_ts"])
                      for r in rows)

    assert changes(mor) == changes(cow)


def test_mor_force_overwrite_falls_back_to_cow(spark, tmpdir_path):
    """Autocorrect re-upserts carry the ORIGIN's (ts, seq); under MoR
    tie-break the stored mismatched row would win, so force_overwrite
    must take the CoW path and replace the stored row outright."""
    t = mk_table(spark, tmpdir_path, "t")
    t.merge_batch(mk_events(spark, [(1, "insert", "u", 100, "wrong")]))
    fix = mk_events(spark, [(1, "insert", "u", 100, "right")])
    t.merge_batch(fix, force_overwrite=True)
    assert final_state(t)["u"][1] == "right"
    # and the touched bucket's deltas were folded by the CoW rewrite
    b = next(iter({r["_bucket"] for r in t.read(
        include_internal=True).select("_bucket").collect()}))
    assert not any(e.get("delta")
                   for e in t.manifest["files"][str(b)])


def test_mor_unset_nulls_falls_back_to_cow(spark, tmpdir_path):
    t = mk_table(spark, tmpdir_path, "t")
    t.merge_batch(mk_events(spark, [(1, "insert", "u", 100, "v1")]),
                  unset_nulls=True)
    # newer update with null text: UNSET keeps the old value
    ev = mk_events(spark, [(2, "update", "u", 200, None)])
    t.merge_batch(ev, unset_nulls=True)
    st = final_state(t)
    assert st["u"] == (nts(200), "v1")


def test_unset_nulls_carries_from_the_resolved_stored_row(spark,
                                                          tmpdir_path):
    """An UNSET merge over an MoR bucket carries values forward from each
    key's RESOLVED stored row: a plain delta that set ``text`` to NULL
    superseded the base's value, so a newer UNSET update with a null
    ``text`` keeps that NULL, not the superseded "base" under it. (The
    one case where the resolved and the unresolved stored rows differ.)
    """
    t = mk_table(spark, tmpdir_path, "t")
    t.merge_batch(mk_events(spark, [(1, "insert", "u", 100, "base")]))
    t.compact()
    t.merge_batch(mk_events(spark, [(2, "update", "u", 200, None)]))
    assert t.delta_file_counts()
    t.merge_batch(mk_events(spark, [(3, "update", "u", 300, None)]),
                  unset_nulls=True)
    assert final_state(t)["u"] == (nts(300), None)
    assert t.delta_file_counts() == {}


def test_mixed_cow_merge_folds_touched_buckets(spark, tmpdir_path):
    """A force_overwrite merge on a MoR table takes the CoW path: it
    folds the touched buckets' deltas (its rewrite REPLACES their file
    lists) while leaving other buckets' deltas in place."""
    t = mk_table(spark, tmpdir_path, "t", n_buckets=8)
    apply_epochs(t, spark)
    pre = final_state(t)
    r = t.merge_batch(
        mk_events(spark, [(99, "update", "https://a/1", 999, "cowed")]),
        force_overwrite=True)
    for b in r.touched_buckets:
        assert not any(e.get("delta")
                       for e in t.manifest["files"][str(b)])
    pre["https://a/1"] = (nts(999), "cowed")
    assert final_state(t) == pre


def test_mor_schema_evolution_over_deltas(spark, tmpdir_path):
    """Column add + key rename after delta commits: id-based
    reconciliation must feed the resolution window renamed-forward."""
    t = mk_table(spark, tmpdir_path, "t")
    apply_epochs(t, spark)
    t.add_column("score", "double")
    t.rename_column("url", "page_url")
    st = {r["page_url"]: (r["warc_ts"], r["text"], r["score"])
          for r in t.read().collect()}
    assert st["https://a/1"] == (nts(150), "v1.5", None)
    # merges keep working post-rename (events carry the new key name)
    ev = spark.createDataFrame(
        [(200, "update", "https://a/1", ts(1000),
          None, "renamed", "en", 0.5)],
        T.StructType([
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("page_url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]))
    t.merge_batch(ev)
    st = {r["page_url"]: (r["text"], r["score"])
          for r in t.read().collect()}
    assert st["https://a/1"] == ("renamed", 0.5)


def test_mor_expire_versions_keeps_referenced_deltas(spark, tmpdir_path):
    t = mk_table(spark, tmpdir_path, "t")
    apply_epochs(t, spark)
    pre = final_state(t)
    t.expire_versions(keep_last=1)
    assert final_state(t) == pre


def test_mor_clone_preserves_delta_entries(spark, tmpdir_path):
    t = mk_table(spark, tmpdir_path, "t")
    apply_epochs(t, spark)
    c = t.clone_to(os.path.join(tmpdir_path, "clone"))
    assert final_state(c) == final_state(t)
    assert c.delta_file_counts() == t.delta_file_counts()


def test_counter_merge_refuses_mor_table(spark, tmpdir_path):
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("hits", T.LongType(), True),
    ])
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "ctr"), schema,
        EngineConfig(n_buckets=4, merge_mode="mor"))
    ev = spark.createDataFrame(
        [(1, "update", "u", ts(1), 5)],
        "seq long, op string, url string, warc_ts timestamp, hits long")
    with pytest.raises(ValueError, match="CoW-only"):
        t.merge_counter_batch(ev)


def test_create_rejects_unknown_merge_mode(spark, tmpdir_path):
    with pytest.raises(ValueError, match="merge_mode"):
        LakeTable.create(spark, os.path.join(tmpdir_path, "bad"),
                         WEB_SCHEMA, EngineConfig(merge_mode="nope"))


def test_mor_streaming_replay_equals_cow_batch(spark, tmpdir_path):
    """The full streaming engine path (readStream → foreachBatch merge
    with fences/lineage) over an MoR table: per-epoch delta appends,
    final resolved state equal to a one-shot CoW batch replay — the
    production shape (each micro-batch writes O(batch), the whole tail
    never rewrites the table)."""
    from cassandra_data_migrator_spark.sources import (
        gen_change_events,
        read_event_log,
        write_event_log,
    )
    from cassandra_data_migrator_spark.streaming import CdcPipeline

    log = os.path.join(tmpdir_path, "log")
    events = gen_change_events(spark, n_urls=120, n_events=500, seed=11)
    write_event_log(events, log, n_chunks=5)

    cow = LakeTable.create(
        spark, os.path.join(tmpdir_path, "cowb"), WEB_SCHEMA,
        EngineConfig(n_buckets=8))
    CdcPipeline(spark, cow, stream_id="b").run_batch(
        read_event_log(spark, log))

    mor = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mors"), WEB_SCHEMA,
        EngineConfig(n_buckets=8, merge_mode="mor"))
    p = CdcPipeline(spark, mor, stream_id="s")
    q = p.run_stream(log, os.path.join(tmpdir_path, "ckpt"),
                     max_files_per_trigger=1)
    q.awaitTermination(300)

    def snap(t):
        return {r["url"]: (r["warc_ts"], r["text"], r["lang"])
                for r in t.read().collect()}

    assert snap(mor) == snap(cow)
    assert mor.delta_file_counts()  # the epochs really were deltas
    # maintenance loop: fold, state unchanged, gauge back to zero
    mor.compact()
    assert mor.delta_file_counts() == {}
    assert snap(mor) == snap(cow)


def test_migrate_cli_merge_mode_mor(spark, tmpdir_path, capsys):
    """`migrate --merge-mode mor` (or the spark.cdm.lake.mergeMode
    property) creates the target as merge-on-read; `describe` surfaces
    the mode and the delta gauge; `maintain --compact` folds."""
    import json as _json

    from cassandra_data_migrator_spark.jobs import main
    from cassandra_data_migrator_spark.sources import (
        gen_change_events,
        write_event_log,
    )

    def run(argv):
        assert main(argv, spark=spark) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    log = os.path.join(tmpdir_path, "log")
    write_event_log(gen_change_events(spark, n_urls=60, n_events=300,
                                      seed=3), log, n_chunks=3)
    table = os.path.join(tmpdir_path, "t")
    run(["migrate", "--log", log, "--table", table,
         "--merge-mode", "mor"])
    # the GROWN log (same deterministic stream, 100 more events):
    # replaying it applies the shared 300 idempotently (ties lose to
    # stored rows via the dv tie-break) plus the new tail, as deltas
    log2 = os.path.join(tmpdir_path, "log2")
    write_event_log(gen_change_events(spark, n_urls=60, n_events=400,
                                      seed=3), log2, n_chunks=1)
    run(["migrate", "--log", log2, "--table", table])

    d = run(["describe", "--table", table])
    assert d["merge_mode"] == "mor"
    assert d["delta_files_total"] >= 1
    # validate the full origin log against the resolved MoR read
    v = run(["validate", "--log", log2, "--table", table])
    assert v["mismatch"] == 0 and v["missing"] == 0
    assert v["extra_target"] == 0

    run(["maintain", "--table", table, "--compact"])
    d2 = run(["describe", "--table", table])
    assert d2["delta_files_total"] == 0 and d2["merge_mode"] == "mor"

    # property-surface spelling creates MoR too
    t2 = os.path.join(tmpdir_path, "t2")
    run(["migrate", "--log", log, "--table", t2,
         "--conf", "spark.cdm.lake.mergeMode=mor"])
    d3 = run(["describe", "--table", t2])
    assert d3["merge_mode"] == "mor"


def test_inline_auto_compaction_bounds_delta_depth(spark, tmpdir_path):
    """mor_compact_min_deltas: a long streaming tail folds hot buckets
    inline, so the per-bucket resolution depth stays bounded while the
    final state still equals the CoW batch replay."""
    from cassandra_data_migrator_spark.sources import (
        gen_change_events,
        read_event_log,
        write_event_log,
    )
    from cassandra_data_migrator_spark.streaming import CdcPipeline

    log = os.path.join(tmpdir_path, "log")
    events = gen_change_events(spark, n_urls=100, n_events=600, seed=19)
    write_event_log(events, log, n_chunks=6)

    cow = LakeTable.create(
        spark, os.path.join(tmpdir_path, "cow"), WEB_SCHEMA,
        EngineConfig(n_buckets=4))
    CdcPipeline(spark, cow, stream_id="b").run_batch(
        read_event_log(spark, log))

    mor = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mor"), WEB_SCHEMA,
        EngineConfig(n_buckets=4, merge_mode="mor"))
    cfg = EngineConfig(n_buckets=4, merge_mode="mor",
                       mor_compact_min_deltas=2)
    p = CdcPipeline(spark, mor, cfg, stream_id="s")
    q = p.run_stream(log, os.path.join(tmpdir_path, "ckpt"),
                     max_files_per_trigger=1)
    q.awaitTermination(300)

    # 6 epochs over 4 buckets with threshold 2: without inline folding
    # every bucket would hold ~6 deltas; with it, depth stays < 2
    counts = mor.delta_file_counts()
    assert all(n < 2 for n in counts.values()), counts

    def snap(t):
        return {r["url"]: (r["warc_ts"], r["text"], r["lang"])
                for r in t.read().collect()}

    assert snap(mor) == snap(cow) and snap(cow)
    # the fold commits are epoch commits: the fence advanced through them
    assert mor.manifest["epoch_fence"]["s"] >= 5


def test_inline_compaction_retry_skips_buckets_a_rival_folded(
        spark, tmpdir_path, monkeypatch):
    """A rival handle folds the hot buckets between the epoch's probe
    and its commit: the folding attempt loses the manifest race, the
    retry recomputes the fold set from the reloaded manifest, finds it
    empty and appends plain deltas, so no bucket is rewritten twice."""
    from cassandra_data_migrator_spark.streaming import CdcPipeline

    mor = mk_table(spark, tmpdir_path, "mor", n_buckets=4)
    cfg = EngineConfig(n_buckets=4, merge_mode="mor",
                       mor_compact_min_deltas=2)
    p = CdcPipeline(spark, mor, cfg, stream_id="s")
    keys = [f"https://k/{i}" for i in range(16)]
    p.apply_batch(mk_events(spark, [
        (i, "insert", k, 100, "a") for i, k in enumerate(keys)]), epoch_id=0)
    hot = sorted(mor.delta_file_counts())
    assert hot and set(mor.delta_file_counts().values()) == {1}

    real_write = LakeTable._write_and_commit
    rewrites, rival_versions = [], []

    def racing_write(self, merged, offsets, touched, *args, **kw):
        if self is mor:
            rewrites.append(sorted(set(touched) - set(kw.get("append", ()))))
            if len(rewrites) == 1:
                rival_versions.append(
                    LakeTable(spark, mor.path).compact().version)
        return real_write(self, merged, offsets, touched, *args, **kw)

    monkeypatch.setattr(LakeTable, "_write_and_commit", racing_write)
    p.apply_batch(mk_events(spark, [
        (100 + i, "update", k, 200, "b") for i, k in enumerate(keys)]),
        epoch_id=1)

    assert rewrites == [hot, []]      # the retry folded nothing
    assert p.conflict_retries == 1
    assert mor.version == rival_versions[0] + 1
    assert mor.delta_file_counts() == {b: 1 for b in hot}
    rival_dir = f"data/e{rival_versions[0]:012d}_"
    for es in mor.manifest["files"].values():
        base = [e["path"] for e in es if not e.get("delta")]
        assert len(base) == 1 and base[0].startswith(rival_dir), es
    assert {r["url"]: r["text"] for r in mor.read().collect()} == {
        k: "b" for k in keys}


def _buckets_of(spark, table, keys):
    df = spark.createDataFrame([(k,) for k in keys], "url string")
    return {r["url"]: r["b"] for r in
            df.select("url", table.bucket_of("url").alias("b")).collect()}


def _change_set(table, v_from):
    return {(r["url"], r["_change_type"])
            for r in table.changes_between(v_from).collect()}


def test_fold_epoch_is_one_commit(spark, tmpdir_path, monkeypatch):
    """An MoR merge that brings a bucket to ``fold_min_deltas`` folds it
    in its own write: one commit, the folded buckets hold one base file
    and no delta, the other touched buckets keep taking deltas, and the
    state, the checksums and the changelog across the fold commit equal
    a CoW replay of the same batches."""
    from cassandra_data_migrator_spark import plans

    cow = mk_table(spark, tmpdir_path, "cow", mode="cow", n_buckets=4)
    mor = mk_table(spark, tmpdir_path, "mor", n_buckets=4)
    keys = [f"https://f/{i}" for i in range(24)]
    spare = [f"https://n/{i}" for i in range(16)]
    of = _buckets_of(spark, mor, keys + spare)
    hot_b = of[keys[0]]
    hot = [k for k in keys if of[k] == hot_b]
    cold = [k for k in keys if of[k] != hot_b]
    new_key = next(k for k in spare if of[k] == hot_b)
    assert len(hot) >= 3 and cold
    epochs = [
        [(i, "insert", k, 100, "a") for i, k in enumerate(keys)],
        [(100 + i, "update", k, 200, "b") for i, k in enumerate(hot)],
        # the hot bucket's third delta reaches the threshold: an
        # update, a delete, a new key and an exact replay of a row
        # stored in the previous delta (which must lose its tie and
        # change nothing); one cold key rides along as a plain delta
        [(300, "update", hot[0], 300, "c"),
         (301, "delete", hot[1], 300, None),
         (302, "insert", new_key, 300, "n"),
         (102, "update", hot[2], 200, "b"),
         (303, "update", cold[0], 300, "c")],
    ]
    exchanges = []
    real_write = LakeTable._write_and_commit

    def capture(self, frame, *args, **kw):
        if self is mor:
            # planned here, while the merge's probe cache is still live:
            # the plan the write runs, not a re-plan after the merge
            exchanges.append(plans.count_exchanges(frame))
        return real_write(self, frame, *args, **kw)

    monkeypatch.setattr(LakeTable, "_write_and_commit", capture)
    for i, rows in enumerate(epochs[:2]):
        for t in (cow, mor):
            t.merge_batch(mk_events(spark, rows), stream_id="s",
                          epoch_id=i, fold_min_deltas=3)
    assert mor.delta_file_counts()[hot_b] == 2

    v_cow, v_mor = cow.version, mor.version
    cow.merge_batch(mk_events(spark, epochs[2]), stream_id="s", epoch_id=2)
    r = mor.merge_batch(mk_events(spark, epochs[2]), stream_id="s",
                        epoch_id=2, fold_min_deltas=3)

    assert mor.version == v_mor + 1 == r.version     # one commit
    # the fold shares the delta write's window: no Exchange added
    assert exchanges[-1] == exchanges[-2] == 1
    depth = mor.delta_file_counts()
    assert hot_b not in depth
    assert [e.get("delta") for e in mor.manifest["files"][str(hot_b)]] \
        == [None]
    # the cold buckets keep their epoch-0 delta, and the one this
    # batch touched takes a second
    assert depth == {b: 2 if b == of[cold[0]] else 1
                     for b in {of[k] for k in cold}}
    folded = [ln for ln in r.lineage if ln["_bucket"] == hot_b]
    assert len(folded) == 1 and not folded[0].get("delta")
    assert final_state(mor) == final_state(cow)
    assert checksum_map(mor) == checksum_map(cow)
    want = {(hot[0], "update_postimage"), (hot[1], "delete"),
            (new_key, "insert"), (cold[0], "update_postimage")}
    assert _change_set(mor, v_mor) == _change_set(cow, v_cow) == want


def test_fold_threshold_one_on_a_fresh_table(spark, tmpdir_path):
    """Threshold 1 folds every touched bucket of every merge, starting
    on a table with no stored files (the fold read of an empty bucket
    set still carries ``_dv``), then over a bucket that holds files
    next to one that does not."""
    cow = mk_table(spark, tmpdir_path, "cow", mode="cow", n_buckets=4)
    mor = mk_table(spark, tmpdir_path, "mor", n_buckets=4)
    keys = [f"https://o/{i}" for i in range(12)]
    of = _buckets_of(spark, mor, keys)
    first = [k for k in keys if of[k] != of[keys[0]]]
    epochs = [
        [(i, "insert", k, 100, "a") for i, k in enumerate(first)],
        [(100, "insert", keys[0], 200, "b"),
         (101, "update", first[0], 200, "b")],
    ]
    for i, rows in enumerate(epochs):
        for t in (cow, mor):
            t.merge_batch(mk_events(spark, rows), stream_id="s",
                          epoch_id=i, fold_min_deltas=1)
        assert mor.delta_file_counts() == {}
        assert all(len(es) == 1 for es in mor.manifest["files"].values())
        assert final_state(mor) == final_state(cow)
        assert checksum_map(mor) == checksum_map(cow)


def test_fold_of_a_delete_only_batch(spark, tmpdir_path):
    """A batch of only deletes folds its buckets to base files that
    hold tombstones: nothing reads back live, and a late update older
    than a delete still loses afterwards."""
    cow = mk_table(spark, tmpdir_path, "cow", mode="cow", n_buckets=2)
    mor = mk_table(spark, tmpdir_path, "mor", n_buckets=2)
    keys = [f"https://d/{i}" for i in range(6)]
    epochs = [
        [(i, "insert", k, 100, "a") for i, k in enumerate(keys)],
        [(10 + i, "delete", k, 200, None) for i, k in enumerate(keys)],
        [(20, "update", keys[0], 150, "late")],
    ]
    for i, rows in enumerate(epochs):
        for t in (cow, mor):
            t.merge_batch(mk_events(spark, rows), stream_id="s",
                          epoch_id=i, fold_min_deltas=2)
        if i == 1:
            assert mor.delta_file_counts() == {}
            assert mor.read().count() == 0
            assert mor.read(include_deleted=True).count() == len(keys)
    assert final_state(mor) == final_state(cow) == {}
    assert checksum_map(mor) == checksum_map(cow)


def test_migrate_cli_auto_compact_deltas(spark, tmpdir_path, capsys):
    import json as _json

    from cassandra_data_migrator_spark.jobs import main
    from cassandra_data_migrator_spark.sources import (
        gen_change_events,
        write_event_log,
    )

    def run(argv):
        assert main(argv, spark=spark) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    log = os.path.join(tmpdir_path, "log")
    write_event_log(gen_change_events(spark, n_urls=50, n_events=300,
                                      seed=3), log, n_chunks=4)
    table = os.path.join(tmpdir_path, "t")
    run(["migrate", "--log", log, "--table", table, "--streaming",
         "--checkpoint", os.path.join(tmpdir_path, "ckpt"),
         "--merge-mode", "mor", "--auto-compact-deltas", "1"])
    d = run(["describe", "--table", table])
    assert d["merge_mode"] == "mor"
    assert d["delta_files_total"] == 0  # every epoch folded inline


def test_tracked_migrate_applies_auto_compact_deltas(spark, tmpdir_path,
                                                    capsys):
    """``migrate --tracked --auto-compact-deltas N`` on an MoR table
    folds in the group merges themselves: three tracked runs of one log
    touch every bucket three times, and the delta depth stays below N."""
    import json as _json

    from cassandra_data_migrator_spark.jobs import main
    from cassandra_data_migrator_spark.sources import (
        gen_change_events,
        write_event_log,
    )

    def run(argv):
        assert main(argv, spark=spark) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    log = os.path.join(tmpdir_path, "log")
    write_event_log(gen_change_events(spark, n_urls=40, n_events=200,
                                      seed=5), log, n_chunks=2)
    table = os.path.join(tmpdir_path, "t")
    for i in range(3):
        out = run(["migrate", "--log", log, "--table", table,
                   "--merge-mode", "mor", "--auto-compact-deltas", "2",
                   "--n-groups", "2", "--conf", "spark.cdm.trackRun=true",
                   "--conf", f"spark.cdm.trackRun.runId=r{i}"])
        assert out["mode"] == "tracked"
    t = LakeTable(spark, table)
    depth = t.delta_file_counts()
    assert depth and max(depth.values()) < 2, depth
    ref = os.path.join(tmpdir_path, "ref")
    run(["migrate", "--log", log, "--table", ref])
    assert final_state(t) == final_state(LakeTable(spark, ref))


def test_mor_replica_hop_verifies(spark, tmpdir_path):
    """Cascaded replication into a merge-on-read replica: each polled
    delta lands as a delta epoch, verify_replica's per-bucket checksum
    compare (resolution-aware reads) proves replica == source, and
    compaction on the replica changes nothing."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        ReplicaHop,
        replicate,
        replicate_many,
        verify_replica,
    )

    src = mk_table(spark, tmpdir_path, "src", mode="cow")
    apply_epochs(src, spark)

    dst = os.path.join(tmpdir_path, "replica")
    ckpt = os.path.join(tmpdir_path, "hop_ckpt")
    replicate(spark, src, dst, ckpt, merge_mode="mor")
    replica = LakeTable(spark, dst)
    assert replica.merge_mode == "mor"
    assert replica.delta_file_counts()  # the hop really wrote deltas
    # a fan-out hop's merge_mode sets the created replica's strategy too
    fan = os.path.join(tmpdir_path, "fan_replica")
    replicate_many(spark, src, [ReplicaHop(
        fan, os.path.join(tmpdir_path, "fan_ckpt"), merge_mode="mor")])
    assert LakeTable(spark, fan).merge_mode == "mor"

    rep = verify_replica(spark, src, replica, ckpt)
    assert rep["match"], rep

    # grow the source; the next poll applies only the new delta epochs
    src.merge_batch(mk_events(spark, [
        (50, "update", "https://a/1", 900, "grown"),
        (51, "delete", "https://d/4", 950, None),
    ]))
    replicate(spark, src, dst, ckpt)
    replica.refresh()
    assert verify_replica(spark, src, replica, ckpt)["match"]
    assert final_state(replica) == final_state(src)

    replica.compact()
    assert replica.delta_file_counts() == {}
    assert verify_replica(spark, src, replica, ckpt)["match"]


def test_tracked_run_resume_on_mor_table(spark, tmpdir_path):
    """Resumable tracked batch replay (reference TrackRun) over an MoR
    table: each bucket-group merge lands as a delta epoch; kill-mid-run
    resume converges to the single-shot CoW result."""
    from datetime import datetime, timedelta

    from cassandra_data_migrator_spark.streaming.trackrun import (
        BatchRunTracker,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampNTZType(), True),
        T.StructField("v", T.LongType(), True),
    ])
    base = datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(f"u{i % 60}", base + timedelta(minutes=i), i,
          "delete" if i % 37 == 0 else "update", i) for i in range(300)],
        "url string, warc_ts timestamp_ntz, v long, op string, seq long")
    cfg_cow = EngineConfig(n_buckets=16, key_col="url", ts_col="warc_ts")
    ref = LakeTable.create(spark, f"{tmpdir_path}/ref", schema, cfg_cow)
    ref.merge_batch(ev)

    cfg = EngineConfig(n_buckets=16, key_col="url", ts_col="warc_ts",
                       merge_mode="mor")
    t = LakeTable.create(spark, f"{tmpdir_path}/t", schema, cfg)
    tracker = BatchRunTracker(spark, t, n_groups=6)
    tracker.run(ev, "run1", groups=[0, 1])             # "crash"
    t2 = LakeTable(spark, t.path)
    tracker2 = BatchRunTracker(spark, t2, n_groups=6)
    tracker2.resume(ev, "run1")
    assert tracker2.pending_groups("run1") == []
    assert t2.delta_file_counts()

    def st(table):
        return {r["url"]: (r["warc_ts"], r["v"])
                for r in table.read().collect()}

    assert st(t2) == st(ref)
    # fold and compare once more
    t2.compact()
    assert st(t2) == st(ref)


def test_review_fixes_r5_session(spark, tmpdir_path):
    """Regression pins for the session's review findings.

    (a) clone-of-MoR dv ordering: the clone's commit versions start at
        the source's version, so an exact duplicate replayed into the
        clone still loses to the inherited stored row;
    (b) resolution window is scoped to delta-carrying buckets — a read
        of pure-CoW buckets plans WITHOUT a Window node even while
        other buckets hold deltas.
    """
    t = mk_table(spark, tmpdir_path, "t", n_buckets=8)
    apply_epochs(t, spark)
    t.compact()
    # one more delta epoch so exactly its buckets carry deltas
    ev = mk_events(spark, [(40, "update", "https://a/1", 600, "newest")])
    t.merge_batch(ev, stream_id="s", epoch_id=9)
    delta_buckets = set(t.delta_file_counts())
    pure = [b for b in range(8)
            if b not in delta_buckets and str(b) in t.manifest["files"]]
    assert pure
    plan = t.read(buckets=pure)._jdf.queryExecution().toString()
    assert "Window" not in plan          # (b): no global window
    full_plan = t.read()._jdf.queryExecution().toString()
    assert "Window" in full_plan         # deltas still resolve

    # (a) clone dv ordering
    c = t.clone_to(os.path.join(tmpdir_path, "clone"))
    assert c.version >= t.version
    pre = final_state(c)
    dup = mk_events(spark, [(40, "update", "https://a/1", 600, "DUP")])
    c.merge_batch(dup)                   # same (ts, seq), new payload
    st = final_state(c)
    assert st["https://a/1"][1] == "newest", \
        "inherited stored row must win the (ts, seq) tie in a clone"
    assert {k: v for k, v in st.items()} == pre


def test_ts_between_int_bounds_are_micros(spark, tmpdir_path):
    """Int ts_between bounds are epoch MICROS for BOTH the file-skip
    compare and the row predicate (a raw cast would read seconds)."""
    t = mk_table(spark, tmpdir_path, "t", mode="cow")
    t.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "x"),
                                    (2, "insert", "b", 90_000, "y")]))
    epoch = dt.datetime(1970, 1, 1, tzinfo=UTC)
    us = lambda s: (ts(s) - epoch) // dt.timedelta(microseconds=1)  # noqa: E731
    got = [r["url"] for r in
           t.read(ts_between=(us(0), us(1000))).collect()]
    assert got == ["a"]
    got = [r["url"] for r in
           t.read(ts_between=(us(80_000), None)).collect()]
    assert got == ["b"]


def test_debezium_roundtrip_preserves_null_ts(spark):
    """Null event-time rows survive an envelope round-trip as null
    (no fake 1970 transaction clock invented by the export)."""
    from cassandra_data_migrator_spark.sources import events_to_envelopes
    from cassandra_data_migrator_spark.sources.debezium import (
        debezium_projection,
    )
    from cassandra_data_migrator_spark.sources.event_log import (
        EVENT_SCHEMA,
    )

    events = spark.createDataFrame(
        [(7, "update", "u", None, None, None, None)],
        "seq long, op string, url string, warc_ts timestamp, "
        "html binary, text string, lang string")
    env = events_to_envelopes(events.drop("text"))
    back = debezium_projection(env, EVENT_SCHEMA, ts_col="warc_ts")
    row = back.collect()[0]
    assert row["warc_ts"] is None and row["seq"] == 7


def test_debezium_custom_seq_col_via_reader(spark, tmpdir_path):
    """read_event_log(fmt='debezium') forwards a custom seq column
    name: the seq still comes from source.lsn, not a (nonexistent)
    image field."""
    from cassandra_data_migrator_spark.sources import read_event_log

    events = spark.createDataFrame(
        [(5, "insert", "u", ts(1), "x")],
        "myseq long, op string, url string, warc_ts timestamp, "
        "text string")
    from cassandra_data_migrator_spark.sources import write_event_log
    log = os.path.join(tmpdir_path, "dbz")
    write_event_log(events, log, n_chunks=1, seq_col="myseq",
                    fmt="debezium")
    schema = T.StructType.fromDDL(
        "myseq long, op string, url string, warc_ts timestamp, "
        "text string")
    ev = read_event_log(spark, log, schema, fmt="debezium",
                        ts_col="warc_ts", seq_col="myseq")
    row = ev.collect()[0]
    assert row["myseq"] == 5 and row["op"] == "insert"
