"""LakeTable: commits, bucket pruning, LWW merge, tombstones, epoch fence,
schema evolution. Mirrors the reference SIT smoke suite semantics
(SIT/smoke/01_basic_kvp, 03_ttl_writetime) on the web_pages shape."""

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


@pytest.fixture()
def table(spark, tmpdir_path):
    return LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), WEB_SCHEMA,
        EngineConfig(n_buckets=8),
    )


def final_state(table):
    return {
        r["url"]: (r["warc_ts"], r["text"])
        for r in table.read().collect()
    }


def test_create_and_empty_read(table):
    assert table.version == 1
    assert table.read().count() == 0
    assert table.schema().fieldNames() == ["url", "warc_ts", "html", "text", "lang"]


def test_basic_upsert_and_lww(spark, table):
    # insert two pages, then a newer update for one, an older (late) for other
    r1 = table.merge_batch(mk_events(spark, [
        (1, "insert", "https://a/1", 100, "v1"),
        (2, "insert", "https://b/2", 100, "w1"),
    ]))
    assert not r1.skipped and r1.counters["events"] == 2
    table.merge_batch(mk_events(spark, [
        (3, "update", "https://a/1", 200, "v2"),   # newer → wins
        (4, "update", "https://b/2", 50, "wLATE"),  # older → loses
    ]))
    st = final_state(table)
    assert st["https://a/1"][1] == "v2"
    assert st["https://b/2"][1] == "w1"


def test_delete_tombstone_and_late_update(spark, table):
    table.merge_batch(mk_events(spark, [(1, "insert", "u", 100, "v1")]))
    table.merge_batch(mk_events(spark, [(2, "delete", "u", 300, None)]))
    assert final_state(table) == {}
    # late update older than the delete → still deleted
    table.merge_batch(mk_events(spark, [(3, "update", "u", 200, "late")]))
    assert final_state(table) == {}
    # re-insert newer than the delete → resurrects
    table.merge_batch(mk_events(spark, [(4, "insert", "u", 400, "back")]))
    assert final_state(table)["u"][1] == "back"


def test_duplicate_event_idempotent(spark, table):
    ev = mk_events(spark, [(1, "insert", "u", 100, "v1")])
    table.merge_batch(ev)
    v = table.version
    cs1 = {r["bucket"]: (r["row_count"], r["checksum"])
           for r in table.checksums().collect()}
    table.merge_batch(ev)  # exact duplicate (same seq/ts) → content unchanged
    cs2 = {r["bucket"]: (r["row_count"], r["checksum"])
           for r in table.checksums().collect()}
    assert cs1 == cs2
    assert table.version == v + 1  # a commit happened, but state identical


def test_same_ts_higher_seq_wins(spark, table):
    table.merge_batch(mk_events(spark, [(1, "insert", "u", 100, "a")]))
    table.merge_batch(mk_events(spark, [(2, "update", "u", 100, "b")]))
    assert final_state(table)["u"][1] == "b"
    table.merge_batch(mk_events(spark, [(0, "update", "u", 100, "z")]))
    assert final_state(table)["u"][1] == "b"  # lower seq, same ts → loses


def test_epoch_fence_exactly_once(spark, table):
    ev1 = mk_events(spark, [(1, "insert", "u", 100, "v1")])
    ev2 = mk_events(spark, [(2, "update", "u", 200, "v2")])
    r1 = table.merge_batch(ev1, stream_id="s", epoch_id=0)
    assert not r1.skipped
    r2 = table.merge_batch(ev2, stream_id="s", epoch_id=1)
    assert not r2.skipped
    # replay of epoch 0 after 1 → fenced no-op
    r3 = table.merge_batch(ev1, stream_id="s", epoch_id=0)
    assert r3.skipped
    assert final_state(table)["u"][1] == "v2"


def test_bucket_pruning_only_touched_rewritten(spark, table):
    table.merge_batch(mk_events(
        spark, [(i, "insert", f"https://x/{i}", 100, f"v{i}") for i in range(50)]
    ))
    before = {b: [e["path"] for e in es] for b, es in table.manifest["files"].items()}
    r = table.merge_batch(mk_events(spark, [(100, "update", "https://x/7", 999, "new")]))
    assert len(r.touched_buckets) == 1
    after = {b: [e["path"] for e in es] for b, es in table.manifest["files"].items()}
    changed = [b for b in before if before[b] != after.get(b)]
    assert changed == [str(r.touched_buckets[0])]


def test_unset_nulls_semantics(spark, table):
    table.merge_batch(mk_events(spark, [(1, "insert", "u", 100, "orig")]))
    # update with null text/html → preserves old value under unset_nulls
    ev = spark.createDataFrame(
        [(2, "update", "u", ts(200), None, None, "fr")],
        mk_events(spark, []).schema,
    )
    table.merge_batch(ev, unset_nulls=True)
    row = table.read().collect()[0]
    assert row["text"] == "orig" and row["lang"] == "fr"
    assert row["warc_ts"] == ts(200).replace(tzinfo=None)
    # ...but a delete resets state: no resurrection
    table.merge_batch(mk_events(spark, [(3, "delete", "u", 300, None)]))
    ev2 = spark.createDataFrame(
        [(4, "insert", "u", ts(400), None, None, "de")],
        mk_events(spark, []).schema,
    )
    table.merge_batch(ev2, unset_nulls=True)
    row = table.read().collect()[0]
    assert row["text"] is None and row["lang"] == "de"


def test_schema_evolution_add_and_rename(spark, table):
    table.merge_batch(mk_events(spark, [(1, "insert", "u", 100, "v1")]))
    table.add_column("fetch_status", "int")
    assert table.read().collect()[0]["fetch_status"] is None
    table.rename_column("lang", "language")
    row = table.read().collect()[0]
    assert row["language"] == "en"
    # merge an event carrying the new column names
    ev = spark.createDataFrame(
        [(2, "update", "u", ts(200), b"<p>v2</p>", "v2", "de", 200)],
        T.StructType(list(mk_events(spark, []).schema.fields)
                     + [T.StructField("fetch_status", T.IntegerType())]),
    ).withColumnRenamed("lang", "language")
    table.merge_batch(ev)
    row = table.read().collect()[0]
    assert row["text"] == "v2" and row["fetch_status"] == 200 \
        and row["language"] == "de"


def test_metadata_only_commits_carry_no_lineage(spark, table):
    """A commit that writes no data (schema evolution, an empty fenced
    epoch) carries an empty lineage: ``lineage_rows()`` after it must
    not show the previous commit's rows as its own."""
    r = table.merge_batch(mk_events(spark, [(1, "insert", "u", 100, "v1")]))
    assert [ln["version"] for ln in table.lineage_rows()] == [r.version]
    for evolve in (lambda: table.add_column("fetch_status", "int"),
                   lambda: table.rename_column("fetch_status", "status"),
                   lambda: table.widen_column("status", "bigint"),
                   lambda: table.drop_column("status"),
                   lambda: table.merge_batch(mk_events(spark, []),
                                             stream_id="s", epoch_id=0)):
        v = table.version
        evolve()
        assert table.version == v + 1
        assert table.lineage_rows() == []
        assert LakeTable(spark, table.path).lineage_rows() == []
    # the lineage of the merge's own version is still there
    assert table.manifest_at(r.version)["lineage"]


def test_exists_needs_a_committed_table(spark, tmpdir_path):
    """``LakeTable.exists`` is true only once the first commit's
    ``LATEST`` pointer is there: a directory a crashed ``create`` left
    behind is not a table, and ``create`` over it succeeds."""
    path = os.path.join(tmpdir_path, "t")
    os.makedirs(os.path.join(path, "_manifests"))
    assert not LakeTable.exists(path)
    with pytest.raises(FileNotFoundError, match="not a lake table"):
        LakeTable(spark, path)
    t = LakeTable.create(spark, path, WEB_SCHEMA, EngineConfig(n_buckets=8))
    assert LakeTable.exists(path) and t.version == 1


def test_overwrite_bootstrap(spark, table):
    pages = spark.createDataFrame(
        [("u1", ts(1), b"<p>a</p>", "a", "en"),
         ("u2", ts(2), b"<p>b</p>", "b", "de")],
        WEB_SCHEMA,
    )
    table.overwrite(pages)
    assert sorted(final_state(table)) == ["u1", "u2"]
    cs = table.checksums().collect()
    assert sum(r["row_count"] for r in cs) == 2


def test_seed_and_repair_commits_carry_lineage_and_stats(spark, table):
    """Seeds (full overwrite) and repairs (bucket-scoped overwrite) go
    through the merge's commit tail: each bucket's manifest lineage
    (live_rows, checksum) equals checksums(), every new file entry has
    ts stats, and a scoped overwrite with zero rows still commits."""
    pages = spark.createDataFrame(
        [(f"u{i}", ts(i), b"<p>x</p>", f"t{i}", "en") for i in range(20)],
        WEB_SCHEMA)

    def lineage_matches_checksums(scope):
        lineage = {ln["_bucket"]: (ln["live_rows"], ln["checksum"])
                   for ln in table.lineage_rows()}
        state = {r["bucket"]: (r["row_count"], int(r["checksum"]))
                 for r in table.checksums().collect()
                 if r["bucket"] in scope}
        assert lineage == state
        for b in scope:
            for e in table.manifest["files"].get(str(b), []):
                assert e["ts_min"] <= e["ts_max"]

    table.overwrite(pages)
    lineage_matches_checksums(range(table.n_buckets))
    assert sum(ln["live_rows"] for ln in table.lineage_rows()) == 20

    buckets = sorted({r["b"] for r in pages.select(
        table.bucket_of("url").alias("b")).collect()})
    b0, b1 = buckets[:2]
    repl = pages.filter(table.bucket_of("url") == b0) \
        .withColumn("text", F.lit("repaired"))
    table.overwrite(repl, buckets=[b0, b1])
    lineage_matches_checksums([b0, b1])
    assert {ln["_bucket"] for ln in table.lineage_rows()} == {b0}
    assert str(b1) not in table.manifest["files"]

    v = table.version
    assert table.overwrite(pages.limit(0), buckets=[b0]) == v + 1
    assert str(b0) not in table.manifest["files"]
    assert table.lineage_rows() == []


COUNTER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("hits", T.LongType(), True),
])


def mk_incr(spark, rows):
    """rows: (seq, url, ts_s, hits_delta)"""
    data = [(seq, url, ts(t), d) for (seq, url, t, d) in rows]
    schema = T.StructType([
        T.StructField("seq", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("hits", T.LongType(), True),
    ])
    return spark.createDataFrame(data, schema)


def test_counter_merge_accumulates(spark, tmpdir_path):
    """Reference SIT/smoke/04_counters: counter columns accumulate via
    additive merge (UPDATE SET c = c + delta)."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "c"), COUNTER_SCHEMA,
        EngineConfig(n_buckets=8))
    t.merge_counter_batch(mk_incr(spark, [
        (0, "a", 0, 3), (1, "a", 1, 4), (2, "b", 2, 10)]))
    t.merge_counter_batch(mk_incr(spark, [
        (3, "a", 3, -2), (4, "c", 4, 1)]))
    got = {r["url"]: r["hits"] for r in t.read().collect()}
    assert got == {"a": 5, "b": 10, "c": 1}


def test_counter_merge_epoch_fence(spark, tmpdir_path):
    """Re-applying a counter epoch MUST be a no-op — increments are not
    idempotent (reference forces batchSize=1 for counters,
    schema/CqlTable.java:202-209; our fence is strictly stronger)."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "c"), COUNTER_SCHEMA,
        EngineConfig(n_buckets=8))
    batch = mk_incr(spark, [(0, "a", 0, 7)])
    t.merge_counter_batch(batch, stream_id="s", epoch_id=0)
    r = t.merge_counter_batch(batch, stream_id="s", epoch_id=0)
    assert r.skipped
    assert t.read().collect()[0]["hits"] == 7


def test_counter_watermark_refuses_legacy_fenced_stream(spark, tmpdir_path):
    """Upgrade safety: a stream loaded by a pre-watermark (fence-only)
    counter merge has an epoch fence but NO recorded seq watermark — its
    applied extent is unknown, so a watermark-mode re-invocation must
    apply NOTHING (skip_reason='legacy-fence') instead of double-adding
    every increment the current log shares with the original apply."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "c"), COUNTER_SCHEMA,
        EngineConfig(n_buckets=8))
    batch = mk_incr(spark, [(0, "a", 0, 7), (1, "b", 1, 2)])
    # the old fence-only path (no watermark recorded)
    t.merge_counter_batch(batch, stream_id="s", epoch_id=0)
    assert t.counter_watermark("s") is None
    # grown log, new release re-invokes in watermark mode
    grown = mk_incr(spark, [(0, "a", 0, 7), (1, "b", 1, 2),
                            (2, "a", 2, 5)])
    r = t.merge_counter_batch(grown, stream_id="s", watermark=True)
    assert r.skipped and r.skip_reason == "legacy-fence"
    got = {row["url"]: row["hits"] for row in t.read().collect()}
    assert got == {"a": 7, "b": 2}  # nothing double-added, tail untouched
    # and no watermark was invented from the current log
    assert t.counter_watermark("s") is None
    # a FRESH stream id still applies normally in watermark mode
    r2 = t.merge_counter_batch(grown, stream_id="s2", watermark=True)
    assert not r2.skipped and t.counter_watermark("s2") == 2


def test_counter_rejects_non_counter_columns(spark, tmpdir_path):
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "c"), WEB_SCHEMA,
        EngineConfig(n_buckets=8))
    with pytest.raises(ValueError, match="non-counter"):
        t.merge_counter_batch(
            mk_events(spark, [(0, "insert", "a", 0, "x")]),
            counter_cols=["html"])


# ------------------------------------------------- vacuum / compaction

def _disk_parquet_files(path):
    out = []
    for root, _d, files in os.walk(os.path.join(path, "data")):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def _manifest_versions_on_disk(path):
    d = os.path.join(path, "_manifests")
    return sorted(int(f[1:-5]) for f in os.listdir(d)
                  if f.startswith("v") and f.endswith(".json"))


def test_expire_versions_reclaims_disk_and_preserves_state(spark, table):
    """K epochs then expire: disk holds ONLY files the retained
    manifests reference, reads/checksums unchanged (VERDICT r2 #2)."""
    for e in range(5):
        table.merge_batch(mk_events(spark, [
            (10 * e + i, "update", f"https://x/{i % 7}", 100 + 10 * e + i,
             f"v{e}.{i}") for i in range(6)
        ]), stream_id="s", epoch_id=e)
    state = final_state(table)
    cs = {r["bucket"]: (r["row_count"], int(r["checksum"]))
          for r in table.checksums().collect()}
    n_files_before = len(_disk_parquet_files(table.path))

    stats = table.expire_versions(keep_last=2)
    assert stats["manifests_removed"] > 0
    assert stats["files_removed"] > 0
    assert _manifest_versions_on_disk(table.path) == table.history()
    assert len(table.history()) == 2

    # every file on disk is referenced by a retained manifest, and
    # every referenced file exists
    referenced = set()
    for v in table.history():
        for es in table.manifest_at(v)["files"].values():
            referenced.update(os.path.join(table.path, e["path"]) for e in es)
    on_disk = set(_disk_parquet_files(table.path))
    assert referenced <= on_disk
    assert len(on_disk) < n_files_before

    # reads and checksums still pass after vacuum (fresh handle too)
    t2 = LakeTable(spark, table.path)
    assert final_state(t2) == state
    assert {r["bucket"]: (r["row_count"], int(r["checksum"]))
            for r in t2.checksums().collect()} == cs
    # expire is idempotent
    again = table.expire_versions(keep_last=2)
    assert again["files_removed"] == 0 and again["manifests_removed"] == 0


def test_expire_never_drops_live_snapshot(spark, table):
    table.merge_batch(mk_events(spark, [(1, "insert", "u", 100, "a")]))
    table.expire_versions(keep_last=1)
    assert final_state(table)["u"][1] == "a"
    assert LakeTable(spark, table.path).read().count() == 1


def test_compact_single_file_per_bucket_same_state(spark, table):
    """Many partial-rewrite epochs fragment buckets; compact rewrites
    them one-file-per-bucket with identical LWW state, tombstones
    preserved, checksums equal (VERDICT r2 #2)."""
    # a big bucket splits into several files per write once it crosses
    # maxRecordsPerFile — the realistic fragmentation mode at scale
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "3")
    try:
        table.merge_batch(mk_events(spark, [
            (i, "insert", f"https://x/{i}", 100 + i, f"v{i}") for i in range(20)
        ]))
        table.merge_batch(mk_events(
            spark, [(100, "delete", "https://x/3", 500, None)]))
        for e in range(3):
            table.merge_batch(mk_events(spark, [
                (200 + 10 * e + i, "update", f"https://x/{i}",
                 600 + 10 * e + i, f"w{e}.{i}") for i in range(3)
            ]))
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    state = final_state(table)
    cs = {r["bucket"]: (r["row_count"], int(r["checksum"]))
          for r in table.checksums().collect()}
    frag = {b: len(es) for b, es in table.manifest["files"].items()}
    assert max(frag.values()) > 1  # fixture really is fragmented

    r = table.compact()
    assert r is not None
    after = {b: len(es) for b, es in table.manifest["files"].items()}
    assert all(n == 1 for n in after.values())
    assert final_state(table) == state
    assert {r2["bucket"]: (r2["row_count"], int(r2["checksum"]))
            for r2 in table.checksums().collect()} == cs
    # tombstone survived compaction: late update still loses
    table.merge_batch(mk_events(spark, [(300, "update", "https://x/3", 400, "late")]))
    assert "https://x/3" not in final_state(table)

    # compact + expire together: fully reclaimed, still correct
    table.expire_versions(keep_last=1)
    assert final_state(LakeTable(spark, table.path)) == final_state(table)
    # nothing further to compact
    assert table.compact() is None


def test_compact_migrates_old_schema_files(spark, table):
    """Compaction folds old-schema stragglers forward: files written
    before a rename/add are rewritten under the current schema ids."""
    table.merge_batch(mk_events(spark, [
        (i, "insert", f"https://x/{i}", 100 + i, f"v{i}") for i in range(10)
    ]))
    table.rename_column("lang", "language")
    table.add_column("fetch_status", "int")
    assert any(e["schema_version"] != table.schema_version
               for es in table.manifest["files"].values() for e in es)
    state = {r["url"]: (r["warc_ts"], r["text"], r["language"], r["fetch_status"])
             for r in table.read().collect()}
    table.compact()
    assert all(e["schema_version"] == table.schema_version
               for es in table.manifest["files"].values() for e in es)
    assert {r["url"]: (r["warc_ts"], r["text"], r["language"], r["fetch_status"])
            for r in table.read().collect()} == state


def test_lww_prereduce_equivalence(spark, tmpdir_path, monkeypatch):
    """The LWW pre-reduction (thin winner-key broadcast pre-filter, gated
    by lake.table._PREREDUCE_MAX_EVENTS) must be invisible semantically:
    same final state, same checksums as the unreduced window merge, on a
    batch with multi-event keys, deletes, exact duplicates, late events,
    and a null-seq event."""
    rows = [
        (1, "insert", "https://a/1", 100, "a1"),
        (2, "update", "https://a/1", 300, "a3"),     # winner for a/1
        (3, "update", "https://a/1", 200, "a2"),     # intra-batch loser
        (4, "insert", "https://b/2", 100, "b1"),
        (5, "delete", "https://b/2", 400, None),     # delete wins b/2
        (6, "update", "https://b/2", 250, "late"),   # loses to delete
        (7, "insert", "https://c/3", 100, "c1"),
        (7, "insert", "https://c/3", 100, "c1"),     # exact duplicate
        (8, "insert", "https://d/4", 100, "d1"),
        (9, "update", "https://d/4", 100, "d2"),     # same-ts higher-seq wins
    ]
    ev = mk_events(spark, rows)
    # null-seq event: must not be dropped by the winner join-back
    ev = ev.unionByName(mk_events(spark, [(0, "insert", "https://e/5", 100, "e1")])
                        .withColumn("seq", F.lit(None).cast("long")))

    from cassandra_data_migrator_spark.lake import table as table_mod

    states = {}
    for mode, max_ev in (("on", 32_000_000), ("off", 0)):
        monkeypatch.setattr(table_mod, "_PREREDUCE_MAX_EVENTS", max_ev)
        t = LakeTable.create(spark, os.path.join(tmpdir_path, f"t_{mode}"),
                             WEB_SCHEMA, EngineConfig(n_buckets=8))
        t.merge_batch(ev)
        # second epoch on an existing base: stored-wins-on-tie must hold
        t.merge_batch(mk_events(spark, [
            (9, "update", "https://d/4", 100, "dX"),  # ties stored → loses
            (20, "update", "https://a/1", 500, "a5"),
        ]))
        states[mode] = (
            final_state(t),
            {r["bucket"]: (r["row_count"], int(r["checksum"]))
             for r in t.checksums().collect()},
        )
    assert states["on"] == states["off"]
    st = states["on"][0]
    assert st["https://a/1"][1] == "a5"
    assert "https://b/2" not in st
    assert st["https://d/4"][1] == "d2"
    assert st["https://e/5"][1] == "e1"


def test_lww_prereduce_plan_is_broadcast(spark, tmpdir_path, monkeypatch):
    """The pre-reduction's join-back must carry the broadcast hint when
    the batch is under the force-broadcast bound, and must NOT when it
    is over it (an unbounded winner set may not be force-broadcast; AQE
    sizes it at runtime instead) — asserted on the REAL merge plan,
    captured via the finalize hook just before the write."""
    from cassandra_data_migrator_spark.lake import table as table_mod

    def merge_plan(name, events):
        t = LakeTable.create(spark, os.path.join(tmpdir_path, name),
                             WEB_SCHEMA, EngineConfig(n_buckets=8))
        captured = {}

        def grab(df):
            captured["df"] = df
            return df

        t.merge_batch(events, finalize=grab)
        qe = captured["df"]._jdf.queryExecution()
        return qe.optimizedPlan().toString(), qe.executedPlan().toString()

    ev = mk_events(spark, [
        (1, "insert", "https://a/1", 100, "a1"),
        (2, "update", "https://a/1", 300, "a3"),
    ])
    opt, phys = merge_plan("t_plan", ev)
    assert "strategy=broadcast" in opt      # the hint reached the join
    assert "BroadcastHashJoin" in phys      # and the planner honored it

    # over the bound: no forced hint on the join-back
    monkeypatch.setattr(table_mod,
                        "_PREREDUCE_FORCE_BROADCAST_MAX_EVENTS", 1)
    opt_big, _ = merge_plan("t_plan_big", ev)
    assert "strategy=broadcast" not in opt_big


def test_drop_column_metadata_only(spark, table):
    """Iceberg drop semantics: the column leaves the current schema
    without touching a file; time travel still shows it; re-adding the
    name gets a FRESH field id so old bytes never leak back."""
    table.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    v_before = table.version
    files_before = sorted(
        p["path"] for ps in table.manifest["files"].values() for p in ps)
    table.drop_column("lang")
    assert "lang" not in table.read().columns
    assert sorted(
        p["path"] for ps in table.manifest["files"].values() for p in ps
    ) == files_before                      # no rewrite
    # the pre-drop snapshot still carries the column with its value
    old = table.read_version(v_before)
    assert {r["url"]: r["lang"] for r in old.collect()} == {"a": "en"}
    # re-add: fresh id, reads NULL for old rows (no resurrection)
    table.add_column("lang", "string")
    assert [r["lang"] for r in table.read().collect()] == [None]
    # merges after the drop work against the narrowed schema
    table.merge_batch(mk_events(spark, [(2, "update", "a", 200, "a2")]))
    st = {r["url"]: (r["text"], r["lang"])
          for r in table.read().collect()}
    assert st == {"a": ("a2", "en")}
    # contract columns are protected
    with pytest.raises(ValueError, match="contract"):
        table.drop_column("url")
    with pytest.raises(ValueError, match="no column"):
        table.drop_column("nope")


def test_widen_column_lossless_in_place(spark, tmpdir_path):
    """Type widening: a metadata-only promotion; files written under
    the narrow type read back equal through the per-file cast, files
    written after carry the wide type, and narrowing is refused."""
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("hits", T.IntegerType(), True),
    ])
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "wt"),
                         schema, EngineConfig(n_buckets=4))
    ev = spark.createDataFrame(
        [(1, "insert", "a", ts(100), 7)],
        "seq long, op string, url string, warc_ts timestamp, hits int")
    t.merge_batch(ev)
    t.widen_column("hits", "bigint")
    assert dict(t.read().dtypes)["hits"] == "bigint"
    assert t.read().collect()[0]["hits"] == 7      # old file reads back
    big = spark.createDataFrame(
        [(2, "insert", "b", ts(100), 2**40)],
        "seq long, op string, url string, warc_ts timestamp, hits long")
    t.merge_batch(big)
    got = {r["url"]: r["hits"] for r in t.read().collect()}
    assert got == {"a": 7, "b": 2**40}
    # idempotent no-op on same type; refusal on narrowing/cross-family
    v = t.version
    t.widen_column("hits", "bigint")
    assert t.version == v
    with pytest.raises(ValueError, match="lossless"):
        t.widen_column("hits", "int")
    with pytest.raises(ValueError, match="lossless"):
        t.widen_column("url", "int")


def test_merge_casts_events_to_table_types(spark, tmpdir_path):
    """The table schema is the contract: event columns are cast to the
    registered types, so a narrower event column promotes losslessly
    and a wider-than-schema VALUE fails loudly (ANSI overflow) instead
    of union-coercing the merge frame and writing files whose physical
    type contradicts the schema (which would break later reads)."""
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("hits", T.IntegerType(), True),
    ])
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "cast_t"),
                         schema, EngineConfig(n_buckets=4))
    # narrow event (int) — exact type: fine
    t.merge_batch(spark.createDataFrame(
        [(1, "insert", "a", ts(100), 7)],
        "seq long, op string, url string, warc_ts timestamp, hits int"))
    # WIDER event type with an in-range value: cast is lossless, and
    # the written file's physical type stays int (readable)
    t.merge_batch(spark.createDataFrame(
        [(2, "insert", "b", ts(100), 9)],
        "seq long, op string, url string, warc_ts timestamp, hits long"))
    assert {r["url"]: r["hits"] for r in t.read().collect()} == \
        {"a": 7, "b": 9}
    assert dict(t.read().dtypes)["hits"] == "int"
    # out-of-range value for the registered type: loud failure, no
    # corrupt write
    with pytest.raises(Exception, match="(?i)overflow|cast"):
        t.merge_batch(spark.createDataFrame(
            [(3, "insert", "c", ts(100), 2 ** 40)],
            "seq long, op string, url string, warc_ts timestamp, "
            "hits long"))
    assert t.read().count() == 2                   # table unharmed


def test_overwrite_bucket_scoped(spark, table):
    """overwrite(buckets=...) swaps only the named buckets' files: a
    scoped bucket with no input rows becomes empty, other buckets keep
    their exact file lists, and out-of-scope input rows are dropped by
    the same bucket expression that defines the scope."""
    table.merge_batch(mk_events(
        spark, [(i, "insert", f"k{i}", 100, f"v{i}") for i in range(20)]))
    by_bucket = {}
    for r in table.read().withColumn(
            "_b", table.bucket_of("url")).select("url", "_b").collect():
        by_bucket.setdefault(r["_b"], []).append(r["url"])
    b0, b1 = sorted(by_bucket)[:2]
    pre_files = dict(table.manifest["files"])
    # replacement content for b0 only; b1 scoped too but given NO rows
    keep_urls = by_bucket[b0][:1]
    repl = table.read().filter(F.col("url").isin(keep_urls))
    table.overwrite(repl, buckets=[b0, b1])
    got = {r["url"] for r in table.read().collect()}
    want = {u for b, us in by_bucket.items() for u in us
            if b not in (b0, b1)} | set(keep_urls)
    assert got == want                       # b1 emptied, b0 replaced
    for b, entries in table.manifest["files"].items():
        if int(b) not in (b0, b1):
            assert entries == pre_files[b]   # untouched buckets intact
    # out-of-scope rows in the input are dropped, not misfiled: feeding
    # the FULL pre-overwrite snapshot back with only b0 in scope
    # restores b0's rows but leaves b1 empty and every other bucket's
    # file list untouched
    pre_files2 = dict(table.manifest["files"])
    table.overwrite(table.read_version(table.version - 1), buckets=[b0])
    got2 = {r["url"] for r in table.read().collect()}
    assert got2 == {u for b, us in by_bucket.items() for u in us
                    if b != b1}
    for b, entries in table.manifest["files"].items():
        if int(b) != b0:
            assert entries == pre_files2[b]


def test_bucketed_writes_with_fewer_tasks_than_buckets(spark, tmpdir_path):
    """A bucketed write runs min(touched buckets, cores) tasks, so with 8
    buckets on local[4] several buckets share a task. Each touched
    bucket must still get exactly one file per commit: one base file
    per CoW merge, one delta entry (``dv`` = the commit's version) per
    MoR merge, one file per bucket after ``compact`` with checksums
    unchanged; and an overwrite with an empty scope still commits."""
    cores = spark.sparkContext.defaultParallelism
    assert cores < 8
    inserts = mk_events(spark, [(i, "insert", f"k{i}", 100 + i, f"v{i}")
                                for i in range(40)])
    updates = mk_events(spark, [(100 + i, "update", f"k{i}", 200 + i,
                                 f"w{i}") for i in range(0, 40, 2)])

    cow = LakeTable.create(spark, os.path.join(tmpdir_path, "cow"),
                           WEB_SCHEMA, EngineConfig(n_buckets=8))
    cow.merge_batch(inserts)
    r = cow.merge_batch(updates)
    assert len(r.touched_buckets) > cores
    for b in r.touched_buckets:
        assert len(cow.manifest["files"][str(b)]) == 1

    mor = LakeTable.create(spark, os.path.join(tmpdir_path, "mor"),
                           WEB_SCHEMA,
                           EngineConfig(n_buckets=8, merge_mode="mor"))
    mor.merge_batch(inserts)
    before = {b: len(es) for b, es in mor.manifest["files"].items()}
    r = mor.merge_batch(updates)
    assert len(r.touched_buckets) > cores
    for b, entries in mor.manifest["files"].items():
        added = entries[before.get(b, 0):]
        if int(b) in r.touched_buckets:
            assert len(added) == 1, (b, entries)
            assert added[0]["delta"] and added[0]["dv"] == r.version
        else:
            assert added == []
    assert final_state(mor) == final_state(cow)

    cs = {r2["bucket"]: (r2["row_count"], int(r2["checksum"]))
          for r2 in mor.checksums().collect()}
    c = mor.compact()
    assert c is not None and len(c.touched_buckets) > cores
    assert all(len(es) == 1 and not es[0].get("delta")
               for es in mor.manifest["files"].values())
    assert {r2["bucket"]: (r2["row_count"], int(r2["checksum"]))
            for r2 in mor.checksums().collect()} == cs

    files, v = dict(cow.manifest["files"]), cow.version
    assert cow.overwrite(cow.read(), buckets=[]) == v + 1
    assert cow.manifest["files"] == files


def test_write_width_follows_static_cores_only(spark, tmpdir_path,
                                               monkeypatch):
    """With a fixed executor set a bucketed write is one task wave,
    min(touched buckets, cores) and never 0. Under dynamic allocation the
    cores registered when the write is planned undercount the cores it
    can use, so the width is the touched-bucket count."""
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"), WEB_SCHEMA,
                         EngineConfig(n_buckets=16))
    cores = spark.sparkContext.defaultParallelism
    assert cores < 16
    assert [t._write_partitions(n) for n in (0, 1, 16)] == [1, 1, cores]
    runtime_conf = type(spark.conf)
    real_get = runtime_conf.get

    def get(self, key, *default):
        if key == "spark.dynamicAllocation.enabled":
            return "true"
        return real_get(self, key, *default)

    monkeypatch.setattr(runtime_conf, "get", get)
    assert [t._write_partitions(n) for n in (0, 1, 16)] == [1, 1, 16]


def test_parse_type_is_cached(spark):
    """Each registered-type parse is a JVM round trip: a repeated type
    string returns the identical cached DataType."""
    from cassandra_data_migrator_spark.lake.table import _parse_type

    a = _parse_type("array<struct<k:string,v:bigint>>")
    assert _parse_type("array<struct<k:string,v:bigint>>") is a
    assert a == T.ArrayType(T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType())]))
