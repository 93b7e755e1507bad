"""Cascaded CDC: the checkpointed changelog consumer and the
replicate loop (streaming/changelog.py) — a replica table follows the
source's commit chain incrementally and converges to the same state.

Reference analog: the migrator re-runs the whole copy per refresh
(Migrate.java + trackRun.previousRunId); here the second hop consumes
only the delta. The LWW-critical case is the delete ordering: a
cascaded delete must carry the TOMBSTONE's (ts, seq), not the
pre-image's, or it loses against the row it removes.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.lake import LakeTable
from cassandra_data_migrator_spark.streaming.changelog import (
    ChangelogConsumer,
    changes_to_events,
    ensure_replica,
    replicate,
)

UTC = dt.timezone.utc

WEB_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

_EVENT_SCHEMA = T.StructType([
    T.StructField("seq", T.LongType(), False),
    T.StructField("op", T.StringType(), False),
    T.StructField("url", T.StringType(), True),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=s)


def mk_events(spark, rows):
    data = [
        (seq, op, url, ts(t),
         (f"<p>{body}</p>".encode() if body is not None else None),
         body, "en" if body is not None else None)
        for (seq, op, url, t, body) in rows
    ]
    return spark.createDataFrame(data, _EVENT_SCHEMA)


@pytest.fixture()
def paths(tmpdir_path):
    return (os.path.join(tmpdir_path, "src"),
            os.path.join(tmpdir_path, "dst"),
            os.path.join(tmpdir_path, "ckpt"))


@pytest.fixture()
def source(spark, paths):
    return LakeTable.create(spark, paths[0], WEB_SCHEMA,
                            EngineConfig(n_buckets=8))


def _state(df):
    return {r["url"]: (r["warc_ts"], r["text"]) for r in df.collect()}


def test_delete_carries_tombstone_ordering(spark, source):
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    v1 = source.version
    source.merge_batch(mk_events(spark, [(2, "delete", "a", 500, None)]))
    ch = source.changes_between(v1, with_ordering=True).collect()
    assert len(ch) == 1 and ch[0]["_change_type"] == "delete"
    # pre-image columns, tombstone ordering
    assert ch[0]["text"] == "a1"
    assert ch[0]["warc_ts"] == ts(100).replace(tzinfo=None)
    assert ch[0]["_change_ts"] == ts(500).replace(tzinfo=None)
    assert ch[0]["_change_seq"] == 2
    ev = changes_to_events(
        source.changes_between(v1, with_ordering=True), ts_col="warc_ts")
    row = ev.collect()[0]
    assert (row["op"], row["warc_ts"], row["seq"]) == (
        "delete", ts(500).replace(tzinfo=None), 2)


def test_changes_to_events_requires_ordering(spark, source):
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    with pytest.raises(ValueError, match="with_ordering"):
        changes_to_events(source.changes_between(1), ts_col="warc_ts")


def test_consumer_poll_commit_cycle(spark, source, paths):
    _, _, ckpt = paths
    c = ChangelogConsumer(source, ckpt)
    assert c.poll() is None                        # empty table: caught up
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    b = c.poll()
    assert (b.v_from, b.v_to) == (1, source.version)
    assert b.df.count() == 1
    # not committed yet → a fresh consumer re-polls the same range
    b2 = ChangelogConsumer(source, ckpt).poll()
    assert (b2.v_from, b2.v_to) == (b.v_from, b.v_to)
    c.commit(b.v_to)
    assert ChangelogConsumer(source, ckpt).poll() is None
    # another writer commits → the long-lived handle sees it via refresh
    LakeTable(spark, source.path).merge_batch(
        mk_events(spark, [(2, "update", "a", 200, "a2")]))
    b3 = c.poll()
    assert b3.v_from == b.v_to and b3.v_to == b3.v_from + 1
    assert [r["_change_type"] for r in b3.df.collect()] == [
        "update_postimage"]


def test_poll_max_versions_bounds_the_span(spark, source, paths):
    _, _, ckpt = paths
    for i in range(3):
        source.merge_batch(mk_events(
            spark, [(10 + i, "insert", f"u{i}", 100 + i, f"v{i}")]))
    c = ChangelogConsumer(source, ckpt)
    seen = []
    while (b := c.poll(max_versions=1)) is not None:
        seen.append((b.v_from, b.v_to, b.df.count()))
        c.commit(b.v_to)
    assert [s[1] - s[0] for s in seen] == [1, 1, 1]
    assert sum(s[2] for s in seen) == 3


def test_replicate_end_to_end_and_incremental(spark, source, paths):
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "a1"),
        (2, "insert", "b", 100, "b1"),
        (3, "insert", "c", 100, "c1"),
    ]))
    out = replicate(spark, source, dst, ckpt)
    replica = LakeTable(spark, dst)
    assert _state(replica.read()) == _state(source.read())
    assert out["position"] == source.version
    # grow the source: update + delete + re-insert across two commits
    source.merge_batch(mk_events(spark, [
        (4, "update", "a", 200, "a2"),
        (5, "delete", "b", 200, None),
    ]))
    source.merge_batch(mk_events(spark, [(6, "insert", "d", 300, "d1")]))
    out2 = replicate(spark, source, LakeTable(spark, dst), ckpt)
    assert [b["v_from"] for b in out2["batches"]][0] == out["position"]
    replica = LakeTable(spark, dst)
    assert _state(replica.read()) == _state(source.read())
    assert "b" not in _state(replica.read())
    # replica rejects an out-of-order late write for the deleted key,
    # exactly like the source would (tombstone ordering survived the hop)
    replica.merge_batch(mk_events(spark, [(7, "update", "b", 150, "late")]))
    assert "b" not in _state(LakeTable(spark, dst).read())


def test_replicate_crash_between_merge_and_commit(spark, source, paths):
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    # manual half-run: merge applied, offset commit "crashed"
    target = ensure_replica(spark, source, dst)
    c = ChangelogConsumer(source, ckpt)
    b = c.poll()
    target.merge_batch(changes_to_events(b.df, ts_col="warc_ts"),
                       stream_id="changelog", epoch_id=b.v_to)
    # rerun from the same checkpoint: same range → fenced skip, offset
    # advances, state converges
    out = replicate(spark, source, LakeTable(spark, dst), ckpt)
    assert out["batches"][0]["skipped"] is True
    assert out["position"] == source.version
    assert _state(LakeTable(spark, dst).read()) == _state(source.read())
    # wider-range variant: new source commit before the rerun → the
    # re-polled cumulative delta re-applies idempotently (not fenced)
    b2 = ChangelogConsumer(source, ckpt)
    source.merge_batch(mk_events(spark, [(2, "update", "a", 200, "a2")]))
    batch = b2.poll()
    LakeTable(spark, dst).merge_batch(
        changes_to_events(batch.df, ts_col="warc_ts"),
        stream_id="changelog", epoch_id=batch.v_to)     # crash again
    source.merge_batch(mk_events(spark, [(3, "insert", "e", 300, "e1")]))
    out2 = replicate(spark, source, LakeTable(spark, dst), ckpt)
    assert out2["batches"][-1]["skipped"] is False
    assert _state(LakeTable(spark, dst).read()) == _state(source.read())


def test_replicate_follows_schema_evolution(spark, source, paths):
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    replicate(spark, source, dst, ckpt)
    source.rename_column("lang", "language")
    source.add_column("fetch_status", "int")
    ev = spark.createDataFrame(
        [(2, "update", "a", ts(200), b"<p>a2</p>", "a2", "de", 200)],
        T.StructType(list(_EVENT_SCHEMA.fields)
                     + [T.StructField("fetch_status", T.IntegerType())]),
    ).withColumnRenamed("lang", "language")
    source.merge_batch(ev)
    replicate(spark, source, LakeTable(spark, dst), ckpt)
    replica = LakeTable(spark, dst)
    assert replica.read().columns == source.read().columns
    row = replica.read().collect()[0]
    assert (row["text"], row["language"], row["fetch_status"]) == (
        "a2", "de", 200)


def test_expired_position_raises_with_reseed_hint(spark, source, paths):
    from cassandra_data_migrator_spark.streaming.changelog import (
        ReplicaHop, replicate_many,
    )
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    source.merge_batch(mk_events(spark, [(2, "update", "a", 200, "a2")]))
    source.expire_versions(keep_last=1)
    c = ChangelogConsumer(source, ckpt)          # position 1 is gone
    with pytest.raises(LookupError, match="re-seed"):
        c.poll()
    # a changelog-bootstrap fan-out hop's delta read says the same
    with pytest.raises(LookupError, match="re-seed"):
        replicate_many(spark, source, [ReplicaHop(dst, ckpt + "_hop")])
    # seek to the earliest retained version unblocks (delta-only tail)
    c.seek(source.history()[0])
    assert c.poll() is None


def test_filtered_replica_out_of_predicate_winners_leave(
        spark, source, paths):
    """where= makes the replica exactly σ_pred(source state) at every
    caught-up position: changes whose post-image fails the predicate
    become deletes at the same (ts, seq), so a key whose winner moves
    OUT of the predicate disappears instead of going stale."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "keep-a"),
        (2, "insert", "b", 100, "drop-b"),
        (3, "insert", "c", 100, "keep-c"),
    ]))
    pred = "text LIKE 'keep-%'"
    replicate(spark, source, dst, ckpt, where=pred)
    assert set(_state(LakeTable(spark, dst).read())) == {"a", "c"}
    # a's winner moves OUT of the predicate; b's moves IN; c is deleted
    source.merge_batch(mk_events(spark, [
        (4, "update", "a", 200, "drop-a2"),
        (5, "update", "b", 200, "keep-b2"),
        (6, "delete", "c", 200, None),
    ]))
    replicate(spark, source, LakeTable(spark, dst), ckpt)
    st = _state(LakeTable(spark, dst).read())
    assert set(st) == {"b"} and st["b"][1] == "keep-b2"
    # the conversion delete carried a's post-image ordering: an older
    # in-predicate late write must NOT resurrect a
    LakeTable(spark, dst).merge_batch(
        mk_events(spark, [(7, "update", "a", 150, "keep-late")]))
    assert "a" not in _state(LakeTable(spark, dst).read())
    # NULL predicate result (text IS NULL post-image) counts as
    # non-match — update with null text leaves too
    source.merge_batch(mk_events(spark, [(8, "update", "b", 300, None)]))
    replicate(spark, source, LakeTable(spark, dst), ckpt)
    assert _state(LakeTable(spark, dst).read()) == {}


def test_projected_replica_drops_columns_and_follows_renames(
        spark, source, paths):
    """columns= projects the hop: the replica's schema keeps only the
    named data columns (+key/ts), its field registry reuses the
    SOURCE's ids so renames still follow by id, and source-side ADDs
    stay out (the projection is a fixed allowlist). The predicate may
    reference a column the projection drops."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "a1"),
        (2, "insert", "b", 100, "b1"),
    ]))
    replicate(spark, source, dst, ckpt,
              where="length(html) > 0", columns=["text"])
    replica = LakeTable(spark, dst)
    assert set(replica.read().columns) == {"url", "warc_ts", "text"}
    assert _state(replica.read()) == _state(
        source.read().select("url", "warc_ts", "text"))
    # source renames a KEPT column and adds a new one; the projected
    # replica follows the rename (field id) but not the add
    source.rename_column("text", "body")
    source.add_column("fetch_status", "int")
    ev = spark.createDataFrame(
        [(3, "update", "a", ts(200), b"<p>a2</p>", "a2", "en", 200)],
        T.StructType(list(_EVENT_SCHEMA.fields)
                     + [T.StructField("fetch_status", T.IntegerType())]),
    ).withColumnRenamed("text", "body")
    source.merge_batch(ev)
    replicate(spark, source, LakeTable(spark, dst), ckpt)
    replica = LakeTable(spark, dst)
    assert set(replica.read().columns) == {"url", "warc_ts", "body"}
    st = {r["url"]: r["body"] for r in replica.read().collect()}
    assert st == {"a": "a2", "b": "b1"}


def test_hop_config_pinned_in_checkpoint(spark, source, paths):
    """The filter/projection are part of the replica's identity: the
    first replicate pins them; a later call passing a DIFFERENT rule
    fails loudly, passing nothing reuses the pinned rule."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    replicate(spark, source, dst, ckpt, where="lang = 'en'")
    with pytest.raises(ValueError, match="pinned"):
        replicate(spark, source, LakeTable(spark, dst), ckpt,
                  where="lang = 'de'")
    with pytest.raises(ValueError, match="pinned"):
        replicate(spark, source, LakeTable(spark, dst), ckpt,
                  where="lang = 'en'", columns=["text"])
    out = replicate(spark, source, LakeTable(spark, dst), ckpt)
    assert out["position"] == source.version


def test_projection_unknown_column_rejected(spark, source, paths):
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    with pytest.raises(ValueError, match="projection"):
        replicate(spark, source, dst, ckpt, columns=["nope"])


def test_snapshot_bootstrap_seeds_then_tails(spark, source, paths):
    """bootstrap='snapshot' seeds the replica with σ_pred(snapshot) by
    bulk OVERWRITE (no changelog replay), commits the offset at the
    seeded version, and subsequent calls tail only the delta. Seeded
    rows (null _seq) must still lose LWW ties to real tail changes."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "keep-a"),
        (2, "insert", "b", 100, "drop-b"),
        (3, "insert", "c", 100, "keep-c"),
    ]))
    out = replicate(spark, source, dst, ckpt,
                    where="text LIKE 'keep-%'", columns=["text"],
                    bootstrap="snapshot")
    assert out["seeded_at_version"] == source.version
    assert out["batches"] == []          # nothing left to tail
    replica = LakeTable(spark, dst)
    assert set(replica.read().columns) == {"url", "warc_ts", "text"}
    assert set(_state(replica.read())) == {"a", "c"}
    # tail: a leaves the predicate, b enters, c is deleted — replica
    # must track the source exactly from the seeded position
    source.merge_batch(mk_events(spark, [
        (4, "update", "a", 200, "drop-a2"),
        (5, "update", "b", 200, "keep-b2"),
        (6, "delete", "c", 200, None),
    ]))
    out2 = replicate(spark, source, replica, ckpt, bootstrap="snapshot")
    assert "seeded_at_version" not in out2 and len(out2["batches"]) == 1
    st = _state(LakeTable(spark, dst).read())
    assert set(st) == {"b"} and st["b"][1] == "keep-b2"


def test_snapshot_bootstrap_equals_changelog_replay(spark, source, paths):
    """Both bootstrap modes converge to the same replica state on the
    same source — the seed is a pure cost optimisation."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "a1"),
        (2, "insert", "b", 100, "b1"),
        (3, "delete", "a", 200, None),
        (4, "update", "b", 300, "b2"),
    ]))
    replicate(spark, source, dst, ckpt, bootstrap="snapshot")
    dst2 = dst + "2"
    replicate(spark, source, dst2, ckpt + "2")   # changelog replay
    a = _state(LakeTable(spark, dst).read())
    b = _state(LakeTable(spark, dst2).read())
    assert a == b == {"b": (ts(300).replace(tzinfo=None), "b2")}


def test_snapshot_bootstrap_survives_expired_history(spark, source, paths):
    """When retention has expired the history's start, changelog
    bootstrap raises (it cannot know what it missed) but snapshot
    bootstrap works — and a retention window that later overtakes a
    LIVE cursor triggers an automatic re-seed instead of an error."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    source.merge_batch(mk_events(spark, [(2, "insert", "b", 150, "b1")]))
    source.expire_versions(keep_last=1)
    with pytest.raises(LookupError):
        replicate(spark, source, dst, ckpt)
    out = replicate(spark, source, dst, ckpt, bootstrap="snapshot")
    assert out["seeded_at_version"] == source.version
    assert set(_state(LakeTable(spark, dst).read())) == {"a", "b"}
    # cursor now live at V; retention overtakes it mid-stream
    source.merge_batch(mk_events(spark, [(3, "update", "a", 200, "a2")]))
    source.merge_batch(mk_events(spark, [(4, "delete", "b", 250, None)]))
    source.expire_versions(keep_last=1)
    with pytest.raises(LookupError):
        replicate(spark, source, LakeTable(spark, dst), ckpt)
    out2 = replicate(spark, source, LakeTable(spark, dst), ckpt,
                     bootstrap="snapshot")
    assert out2["seeded_at_version"] == source.version
    st = _state(LakeTable(spark, dst).read())
    assert set(st) == {"a"} and st["a"][1] == "a2"


def test_snapshot_seed_crash_before_offset_reseeds(spark, source, paths):
    """Crash window: overwrite done, offset commit missed. The next
    snapshot-bootstrap call re-seeds (idempotent full replace) and ends
    exact — keyed on committed_position being None, not on the replica
    having data."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        _seed_from_snapshot,
    )
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    replica = ensure_replica(spark, source, dst)
    consumer = ChangelogConsumer(source, ckpt)

    class _NoCommit:
        fs = consumer.fs

        def commit(self, v):   # the simulated crash point
            raise RuntimeError("crash before offset commit")

    with pytest.raises(RuntimeError):
        _seed_from_snapshot(source, replica, _NoCommit(), None)
    assert len(_state(LakeTable(spark, dst).read())) == 1   # data landed
    assert consumer.committed_position is None              # offset did not
    source.merge_batch(mk_events(spark, [(2, "update", "a", 200, "a2")]))
    out = replicate(spark, source, LakeTable(spark, dst), ckpt,
                    bootstrap="snapshot")
    assert out["seeded_at_version"] == source.version
    st = _state(LakeTable(spark, dst).read())
    assert st == {"a": (ts(200).replace(tzinfo=None), "a2")}


def test_replicate_many_fanout_converges_each_hop(spark, source, paths):
    """replicate_many: one changelog read serves N replicas — each hop
    still converges to exactly its own σ_pred / projection of source
    state, offsets advance per hop, and a second call no-ops."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        ReplicaHop, replicate_many,
    )
    base, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "keep-a"),
        (2, "insert", "b", 100, "drop-b"),
        (3, "insert", "c", 100, "keep-c"),
    ]))
    hops = [
        ReplicaHop(dst + "_en", ckpt + "_en",
                   where="text LIKE 'keep-%'", columns=["text"],
                   stream_id="en"),
        ReplicaHop(dst + "_all", ckpt + "_all", stream_id="all"),
    ]
    out = replicate_many(spark, source, hops)
    assert [h["position"] for h in out["hops"]] == [source.version] * 2
    assert set(_state(LakeTable(spark, dst + "_en").read())) == {"a", "c"}
    assert set(_state(LakeTable(spark, dst + "_all").read())) == {
        "a", "b", "c"}
    # second epoch: predicate flips + a delete, both hops track exactly
    source.merge_batch(mk_events(spark, [
        (4, "update", "a", 200, "drop-a2"),
        (5, "update", "b", 200, "keep-b2"),
        (6, "delete", "c", 200, None),
    ]))
    out2 = replicate_many(spark, source, [
        ReplicaHop(LakeTable(spark, dst + "_en"), ckpt + "_en",
                   stream_id="en"),
        ReplicaHop(LakeTable(spark, dst + "_all"), ckpt + "_all",
                   stream_id="all"),
    ])
    assert all(len(h["batches"]) == 1 for h in out2["hops"])
    assert set(_state(LakeTable(spark, dst + "_en").read())) == {"b"}
    assert set(_state(LakeTable(spark, dst + "_all").read())) == {"a", "b"}
    # caught up: a third call polls nothing
    out3 = replicate_many(spark, source, [
        ReplicaHop(LakeTable(spark, dst + "_en"), ckpt + "_en"),
        ReplicaHop(LakeTable(spark, dst + "_all"), ckpt + "_all"),
    ])
    assert all(h["batches"] == [] for h in out3["hops"])


def test_replicate_many_mixed_positions_and_seed(spark, source, paths):
    """Hops standing at different positions form separate delta groups
    but all reach the head in one call; a brand-new snapshot-bootstrap
    hop joins an established fan-out without history replay."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        ReplicaHop, replicate_many,
    )
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    # hop A follows from the start
    replicate_many(spark, source, [ReplicaHop(dst + "A", ckpt + "A",
                                              stream_id="A")])
    source.merge_batch(mk_events(spark, [
        (2, "insert", "b", 150, "b1"),
        (3, "update", "a", 200, "a2"),
    ]))
    # hop B arrives late, seeded from snapshot; A is behind the head
    out = replicate_many(spark, source, [
        ReplicaHop(LakeTable(spark, dst + "A"), ckpt + "A",
                   stream_id="A"),
        ReplicaHop(dst + "B", ckpt + "B", bootstrap="snapshot",
                   stream_id="B"),
    ])
    a, b = out["hops"]
    assert len(a["batches"]) == 1 and b["seeded_at_version"] is not None
    want = {"a": (ts(200).replace(tzinfo=None), "a2"),
            "b": (ts(150).replace(tzinfo=None), "b1")}
    assert _state(LakeTable(spark, dst + "A").read()) == want
    assert _state(LakeTable(spark, dst + "B").read()) == want


def test_replicate_many_rejects_shared_checkpoint_or_target(
        spark, source, paths):
    from cassandra_data_migrator_spark.streaming.changelog import (
        ReplicaHop, replicate_many,
    )
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    with pytest.raises(ValueError, match="share a checkpoint"):
        replicate_many(spark, source, [
            ReplicaHop(dst + "1", ckpt), ReplicaHop(dst + "2", ckpt)])
    with pytest.raises(ValueError, match="share a target"):
        replicate_many(spark, source, [
            ReplicaHop(dst, ckpt + "1"), ReplicaHop(dst, ckpt + "2")])


def test_replicate_many_checks_every_hop_before_any_side_effect(
        spark, source, paths):
    """A bad predicate on hop 2 fails the fan-out before hop 1 creates
    its replica, pins its rule or seeds anything."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        ReplicaHop, replicate_many,
    )
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    with pytest.raises(ValueError, match="analyze"):
        replicate_many(spark, source, [
            ReplicaHop(dst + "1", ckpt + "1", bootstrap="snapshot"),
            ReplicaHop(dst + "2", ckpt + "2", where="no_such_col = 1"),
        ])
    assert not os.path.exists(os.path.join(dst + "1", "_manifests",
                                           "LATEST"))
    assert not os.path.exists(os.path.join(ckpt + "1", "replication.json"))


def test_two_tier_cascade_composes(spark, source, paths):
    """A replica is itself a lake table, so it can be a changelog
    SOURCE: src → mid (filtered) → leaf (projected) composes, and the
    leaf converges to π(σ(src)) across epochs — including a key whose
    winner leaves the mid predicate (the mid emits the conversion
    delete as a regular change; the leaf must follow it out)."""
    _, dst, ckpt = paths
    mid, leaf = dst + "_mid", dst + "_leaf"
    ck1, ck2 = ckpt + "_1", ckpt + "_2"
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "keep-a"),
        (2, "insert", "b", 100, "drop-b"),
    ]))
    replicate(spark, source, mid, ck1, where="text LIKE 'keep-%'")
    replicate(spark, LakeTable(spark, mid), leaf, ck2,
              columns=["text"])
    lt = LakeTable(spark, leaf)
    assert set(lt.read().columns) == {"url", "warc_ts", "text"}
    assert set(_state(lt.read())) == {"a"}
    # epoch 2: a leaves the predicate, b enters
    source.merge_batch(mk_events(spark, [
        (3, "update", "a", 200, "drop-a2"),
        (4, "update", "b", 200, "keep-b2"),
    ]))
    replicate(spark, source, LakeTable(spark, mid), ck1)
    replicate(spark, LakeTable(spark, mid), LakeTable(spark, leaf), ck2)
    st = _state(LakeTable(spark, leaf).read())
    assert set(st) == {"b"} and st["b"][1] == "keep-b2"
    assert set(_state(LakeTable(spark, mid).read())) == {"b"}


def test_lagging_consumer_rename_between_v_to_and_head(
        spark, source, paths):
    """Schema follow must track the BATCH's v_to schema, not the source
    head: with max_versions=1 a consumer applies a pre-rename batch
    while the head already carries the new name. Following head first
    would rename the replica column before the batch — still under the
    old name — merges, silently NULLing it."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    replicate(spark, source, dst, ckpt)               # caught up at v2
    source.merge_batch(mk_events(spark, [(2, "update", "a", 200, "a2"),
                                         (3, "insert", "b", 200, "b1")]))
    source.rename_column("text", "body")              # head schema: body
    # bounded polls: the pre-rename data batch applies first, alone
    out = replicate(spark, source, LakeTable(spark, dst), ckpt,
                    max_versions=1)
    replica = LakeTable(spark, dst)
    assert out["batches"][0]["v_to"] == source.version - 1
    assert out["position"] == source.version
    # the replica as that batch left it: not renamed yet, values intact
    pre = replica.read_version(out["batches"][0]["target_version"])
    assert "text" in pre.columns
    st = {r["url"]: r["text"] for r in pre.collect()}
    assert st == {"a": "a2", "b": "b1"}
    # catching up consumed the DDL commit and followed the rename
    st = {r["url"]: r["body"] for r in replica.read().collect()}
    assert st == {"a": "a2", "b": "b1"}


def test_replicate_follows_widen_and_drop(spark, source, paths):
    """Source-side type widenings and column drops follow across the
    hop: the batch's values arrive in the widened type (merging them
    under the replica's narrower registry type would write files that
    contradict the replica schema), and a dropped column must leave the
    replica too (keeping it would NULL it on every subsequent upsert)."""
    _, dst, ckpt = paths
    source.add_column("hits", "int")
    ev1 = mk_events(spark, [(1, "insert", "a", 100, "a1")]) \
        .withColumn("hits", F.lit(7).cast("int"))
    source.merge_batch(ev1)
    replicate(spark, source, dst, ckpt)
    source.widen_column("hits", "bigint")
    source.drop_column("lang")
    big = spark.createDataFrame(
        [(2, "insert", "b", ts(200), b"<p>b1</p>", "b1", 2 ** 40)],
        "seq long, op string, url string, warc_ts timestamp, "
        "html binary, text string, hits long")
    source.merge_batch(big)
    replicate(spark, source, LakeTable(spark, dst), ckpt)
    replica = LakeTable(spark, dst)
    cols = dict(replica.read().dtypes)
    assert cols["hits"] == "bigint" and "lang" not in cols
    st = {r["url"]: (r["text"], r["hits"])
          for r in replica.read().collect()}
    assert st == {"a": ("a1", 7), "b": ("b1", 2 ** 40)}


def test_typo_first_call_does_not_poison_checkpoint(spark, source, paths):
    """The hop config pins only AFTER validation: a rejected first call
    (bad projection or a predicate that doesn't analyze) leaves the
    checkpoint clean, so the corrected retry works instead of being
    rejected as a mid-stream rule change."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    with pytest.raises(ValueError, match="projection"):
        replicate(spark, source, dst, ckpt, columns=["tekst"])
    with pytest.raises(ValueError, match="analyze"):
        replicate(spark, source, dst, ckpt, where="no_such_col > 1")
    out = replicate(spark, source, dst, ckpt, columns=["text"])
    assert out["position"] == source.version
    replica = LakeTable(spark, dst)
    assert "html" not in replica.read().columns
    assert {r["text"] for r in replica.read().collect()} == {"a1"}
    # ...and the SUCCESSFUL rule is now pinned
    with pytest.raises(ValueError, match="pinned"):
        replicate(spark, source, replica, ckpt, columns=["text", "html"])


def test_changes_to_events_rejects_colliding_data_columns(spark, tmpdir_path):
    """A table with a data column literally named 'seq' (or 'op') cannot
    use the default event-shape names — the lowering must fail loudly
    with the override spelled out, not emit duplicate columns that blow
    up downstream with an ambiguous-reference error."""
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("seq", T.LongType(), True),
    ])
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "tcol"),
                         schema, EngineConfig(n_buckets=4))
    ev = spark.createDataFrame(
        [(1, "insert", "a", ts(100), 5)],
        "_ev_seq long, op string, url string, warc_ts timestamp, seq long")
    t.merge_batch(ev, seq_col="_ev_seq")
    ch = t.changes_between(1, with_ordering=True)
    with pytest.raises(ValueError, match="op_col/seq_col"):
        changes_to_events(ch, ts_col="warc_ts")
    ev2 = changes_to_events(ch, ts_col="warc_ts", seq_col="_ev_seq")
    assert {r["url"]: (r["seq"], r["op"]) for r in ev2.collect()} == {
        "a": (5, "insert")}


def test_replicate_many_follows_widen_and_drop_per_group(
        spark, source, paths):
    """The fan-out loop shares the batch-pinned schema follow: each
    position group evolves its hops toward the GROUP's v_hi field list,
    so a full replica and a projected replica both track source-side
    widen/drop from one cached delta read."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        ReplicaHop,
        replicate_many,
    )
    base, dst, _ = paths
    source.add_column("hits", "int")
    ev = mk_events(spark, [(1, "insert", "a", 100, "a1"),
                           (2, "insert", "b", 100, "b1")]) \
        .withColumn("hits", F.lit(3).cast("int"))
    source.merge_batch(ev)
    hops = [ReplicaHop(target=f"{dst}_full", checkpoint=f"{base}_ck1"),
            ReplicaHop(target=f"{dst}_proj", checkpoint=f"{base}_ck2",
                       columns=["text", "hits"])]
    replicate_many(spark, source, hops)
    source.widen_column("hits", "bigint")
    source.drop_column("lang")
    big = spark.createDataFrame(
        [(3, "update", "a", ts(200), b"<p>a2</p>", "a2", 2 ** 40)],
        "seq long, op string, url string, warc_ts timestamp, "
        "html binary, text string, hits long")
    source.merge_batch(big)
    replicate_many(spark, source, hops)
    full = LakeTable(spark, f"{dst}_full")
    proj = LakeTable(spark, f"{dst}_proj")
    assert dict(full.read().dtypes)["hits"] == "bigint"
    assert dict(proj.read().dtypes)["hits"] == "bigint"
    assert "lang" not in full.read().columns
    assert {r["url"]: r["hits"] for r in full.read().collect()} == \
        {"a": 2 ** 40, "b": 3}
    assert {r["url"]: (r["text"], r["hits"])
            for r in proj.read().collect()} == \
        {"a": ("a2", 2 ** 40), "b": ("b1", 3)}
    assert "html" not in proj.read().columns


def test_verify_replica_checksums(spark, source, paths):
    """Cross-hop validation: per-bucket counts + checksums prove
    replica == σ_pred(source) with the source read at the consumer's
    committed position — exact even after the source moves ahead, and
    a corrupted replica is localized to its buckets."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        verify_replica,
    )
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "a1"), (2, "insert", "b", 100, "b1"),
        (3, "insert", "c", 100, "c1"), (4, "delete", "b", 200, None)]))
    replicate(spark, source, dst, ckpt)
    replica = LakeTable(spark, dst)
    ok = verify_replica(spark, source, replica, ckpt)
    assert ok["match"] and ok["mismatched_buckets"] == []
    assert ok["source_rows"] == ok["target_rows"] == 2
    # source moves ahead; verification at the OLD position still exact
    source.merge_batch(mk_events(spark, [(5, "update", "a", 300, "a2")]))
    ok2 = verify_replica(spark, source, replica, ckpt)
    assert ok2["match"] and ok2["lag_versions"] == 1
    # corrupt the replica out-of-band: mismatch localized, not global
    replica.merge_batch(mk_events(spark, [(9, "update", "c", 900, "cX")]))
    bad = verify_replica(spark, source, replica, ckpt)
    assert not bad["match"] and len(bad["mismatched_buckets"]) == 1
    mb = bad["mismatched_buckets"][0]
    assert mb["source_rows"] == mb["target_rows"] == 1  # checksum diff
    # catching up repairs nothing (LWW: ts 900 beats the source's 300)
    # — the verifier keeps reporting it, as it must
    replicate(spark, source, replica, ckpt)
    assert not verify_replica(spark, source, replica, ckpt)["match"]


def test_verify_replica_filtered_and_seeded(spark, source, paths):
    """The pinned predicate applies to the source side, and a
    snapshot-seeded replica (_seq NULL on every row) verifies equal —
    checksums hash (key, ts, data), never the internal seq."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        verify_replica,
    )
    base, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "keep"), (2, "insert", "b", 100, "drop"),
        (3, "insert", "c", 100, "keep")]))
    replicate(spark, source, dst, ckpt, where="text != 'drop'",
              bootstrap="snapshot")
    res = verify_replica(spark, source, LakeTable(spark, dst), ckpt)
    assert res["match"] and res["target_rows"] == 2
    assert res["where"] == "text != 'drop'"


def test_repair_replica_rebuilds_only_damaged_buckets(
        spark, source, paths):
    """Convergent autocorrect across the hop: out-of-band divergence —
    including a corrupt row whose HIGHER ts LWW would protect, which no
    changelog replay can fix — is repaired by rebuilding exactly the
    mismatched buckets at the committed position. The consumer offset
    does not move, untouched buckets keep their files, and the tail
    keeps applying afterwards."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        repair_replica,
        verify_replica,
    )
    _, dst, ckpt = paths
    source.merge_batch(mk_events(
        spark, [(i, "insert", f"u{i}", 100, f"t{i}") for i in range(24)]))
    replicate(spark, source, dst, ckpt)
    replica = LakeTable(spark, dst)
    # corrupt ONE key with an LWW-winning ts (900 > anything upcoming)
    replica.merge_batch(mk_events(spark, [(99, "update", "u3", 900, "BAD")]))
    pre_files = dict(replica.manifest["files"])
    res = repair_replica(spark, source, replica, ckpt)
    assert not res["verified"]["match"] and res["reverified"]["match"]
    assert len(res["repaired_buckets"]) == 1
    fixed_b = res["repaired_buckets"][0]
    # untouched buckets kept their exact file lists
    for b, entries in replica.manifest["files"].items():
        if int(b) != fixed_b:
            assert entries == pre_files[b]
    assert {r["text"] for r in replica.read()
            .filter(F.col("url") == "u3").collect()} == {"t3"}
    # offset unmoved: the tail continues from the same position
    pos_before = verify_replica(spark, source, replica, ckpt)["position"]
    source.merge_batch(mk_events(spark, [(200, "update", "u3", 300, "t3b")]))
    out = replicate(spark, source, replica, ckpt)
    assert out["batches"][0]["v_from"] == pos_before
    assert {r["text"] for r in replica.read()
            .filter(F.col("url") == "u3").collect()} == {"t3b"}
    assert verify_replica(spark, source, replica, ckpt)["match"]
    # a clean replica repairs to a no-op
    assert repair_replica(spark, source, replica, ckpt)[
        "repaired_buckets"] == []


def test_repair_replica_extra_key_and_filtered(spark, source, paths):
    """Repair also removes replica-only keys (corruption ADDED a row)
    and respects the pinned predicate — the rebuilt bucket is exactly
    σ_pred(source@position)."""
    from cassandra_data_migrator_spark.streaming.changelog import (
        repair_replica,
    )
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [
        (1, "insert", "a", 100, "keep"), (2, "insert", "b", 100, "drop"),
        (3, "insert", "c", 100, "keep")]))
    replicate(spark, source, dst, ckpt, where="text != 'drop'")
    replica = LakeTable(spark, dst)
    replica.merge_batch(mk_events(spark, [(9, "insert", "zz", 500, "GHOST")]))
    res = repair_replica(spark, source, replica, ckpt)
    assert not res["verified"]["match"] and res["reverified"]["match"]
    st = {r["url"] for r in replica.read().collect()}
    assert st == {"a", "c"}


def test_backfilling_replica_born_at_first_batch_schema(
        spark, source, paths):
    """A NEW replica backfilling history with bounded polls is created
    at its FIRST batch's schema, not the source head — otherwise the
    first poll would destructively downgrade it (drop later-added
    columns under a fresh id, or attempt a narrowing 'widen' and
    crash), wrecking the id alignment every later follow depends on."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "a", 100, "a1")]))
    source.add_column("hits", "int")
    ev = mk_events(spark, [(2, "insert", "b", 100, "b1")]) \
        .withColumn("hits", F.lit(5).cast("int"))
    source.merge_batch(ev)
    source.widen_column("hits", "bigint")
    big = spark.createDataFrame(
        [(3, "insert", "c", ts(100), b"<p>c1</p>", "c1", "en", 2 ** 40)],
        "seq long, op string, url string, warc_ts timestamp, "
        "html binary, text string, lang string, hits long")
    source.merge_batch(big)
    hits_id = next(f["id"] for f in source.current_fields()
                   if f["name"] == "hits")
    # backfill one version at a time from scratch: the replica is born
    # at v1's schema (no hits), follows add->widen in source order
    out = replicate(spark, source, dst, ckpt, max_versions=1)
    replica = LakeTable(spark, dst)
    assert len(out["batches"]) >= 3
    assert dict(replica.read().dtypes)["hits"] == "bigint"
    # the id alignment survived: hits has the SOURCE's field id
    assert next(f["id"] for f in replica.current_fields()
                if f["name"] == "hits") == hits_id
    st = {r["url"]: r["hits"] for r in replica.read().collect()}
    assert st == {"a": None, "b": 5, "c": 2 ** 40}
    # and a later source-side rename still follows by that id
    source.rename_column("hits", "clicks")
    replicate(spark, source, replica, ckpt)
    assert "clicks" in replica.read().columns


def test_rename_chain_follows_without_collision(spark, source, paths):
    """A rename chain consumed in one window (b->c then a->b) must not
    wedge the hop on a name collision: renames park on temp names
    first, so any permutation lands."""
    _, dst, ckpt = paths
    source.merge_batch(mk_events(spark, [(1, "insert", "k", 100, "v")]))
    replicate(spark, source, dst, ckpt)
    # consumed lagging: two renames forming a chain, then a swap-back
    source.rename_column("text", "text_old")
    source.rename_column("lang", "text")
    source.rename_column("text_old", "lang")      # full swap
    ev = mk_events(spark, [(2, "update", "k", 200, "v2")])
    source.merge_batch(ev.select(
        "seq", "op", "url", "warc_ts", "html",
        F.col("text").alias("lang"), F.col("lang").alias("text")))
    replicate(spark, source, LakeTable(spark, dst), ckpt)
    replica = LakeTable(spark, dst)
    src_rows = {(r["url"], r["text"], r["lang"])
                for r in source.read().select("url", "text", "lang")
                .collect()}
    dst_rows = {(r["url"], r["text"], r["lang"])
                for r in replica.read().select("url", "text", "lang")
                .collect()}
    assert src_rows == dst_rows
