"""Cascaded CDC: tail a lake table's own commit history as a change
stream and replay it into a downstream replica.

The reference migrator is a one-hop copier (``Migrate.java`` reads a
mutable Cassandra origin, writes a target); a downstream consumer in
that world re-reads the whole target per run (``spark.cdm.trackRun.
previousRunId`` reruns). Here the lake's manifest chain IS a changelog:
``LakeTable.changes_between`` already emits the row-level delta between
two commits with manifest-level bucket pruning, so a replica can follow
the table incrementally — the Delta-CDF / Iceberg-incremental-scan
pattern, expressed over this engine's own format.

Three pieces:

- :func:`changes_to_events` — lower a ``changes_between(...,
  with_ordering=True)`` frame into the engine's CDC event shape
  (op/ts/seq), so the delta is replayable through the SAME
  ``merge_batch`` LWW operator that built the source. Deletes are
  stamped with the TOMBSTONE's (ts, seq) — not the pre-image's — so a
  cascaded delete beats the row it removes (see the ordering-columns
  note on ``changes_between``).
- :class:`ChangelogConsumer` — a checkpointed cursor over the source's
  commit versions: ``poll()`` returns the next unconsumed delta,
  ``commit()`` durably advances the offset (atomic replace through the
  FS seam, same discipline as the manifest commit).
- :func:`replicate_many` — the one hop path: poll → follow the batch's
  schema → lower → ``merge_batch`` into each replica with
  ``epoch_id = v_to`` → commit the offset, for N replicas reading each
  source delta once (:class:`ReplicaHop` is one replica's spec);
  :func:`replicate` is its single-hop case. Exactly-once end-to-end
  comes from TWO independent guards: the replica's epoch fence
  suppresses a byte-identical replay of an already-applied range, and
  even a WIDER re-polled range (crash after merge, before offset
  commit, plus new source commits) re-applies cleanly because the LWW
  merge is idempotent — cumulative deltas of the same history converge
  to the same winners. ``where`` / ``columns`` make FILTERED /
  PROJECTED replicas (out-of-predicate winners become deletes, so the
  replica is exactly σ_pred of the source state; dropped columns never
  enter the hop's shuffle), both pinned in the checkpoint.

Scale shape: one poll reads only the buckets whose file lists differ
between the two manifests (no full-table scan on quiet tables), the
delta flows through merge_batch's single (bucket, key) shuffle with
LWW pre-reduction, and the offset state is O(1) JSON — no driver-side
row buffering anywhere.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.lake.fs import get_fs
from cassandra_data_migrator_spark.lake.table import (
    _BUCKET,
    LakeTable,
    bucket_checksums,
)

_ORDERING_COLS = ("_change_ts", "_change_seq")


@dataclass
class ChangeBatch:
    """One polled delta: the rows changed in ``(v_from, v_to]``."""

    df: DataFrame
    v_from: int
    v_to: int


def changes_to_events(
    changes: DataFrame,
    ts_col: str,
    op_col: str = "op",
    seq_col: str = "seq",
    change_col: str = "_change_type",
) -> DataFrame:
    """Lower a changelog frame into the merge_batch event shape.

    Input must carry the ordering columns (``with_ordering=True``):
    for upserts they equal the new winner's (ts, seq); for deletes the
    tombstone's. The event's ``ts_col``/``seq`` are taken from THOSE —
    using the delete pre-image's own (older) timestamp would make the
    cascaded delete lose LWW against the very row it must remove.
    """
    missing = [c for c in (*_ORDERING_COLS, change_col)
               if c not in changes.columns]
    if missing:
        raise ValueError(
            f"changelog frame lacks {missing}; produce it with "
            f"changes_between(..., with_ordering=True)")
    data_cols = [c for c in changes.columns
                 if c not in (change_col, ts_col, *_ORDERING_COLS)]
    clash = sorted({op_col, seq_col} & set(data_cols))
    if clash:
        raise ValueError(
            f"table has data columns named {clash}, which collide with "
            f"the event-shape columns; pass different op_col/seq_col "
            f"(merge_batch accepts the same overrides)")
    op = (
        F.when(F.col(change_col) == F.lit("delete"), F.lit("delete"))
        .when(F.col(change_col) == F.lit("insert"), F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    return changes.select(
        *[F.col(c) for c in data_cols],
        F.col("_change_ts").alias(ts_col),
        F.col("_change_seq").alias(seq_col),
        op.alias(op_col),
    )


class ChangelogConsumer:
    """A durable cursor over a lake table's commit chain.

    ``position`` is the last FULLY CONSUMED version (the replica state
    reflects everything up to and including it); ``poll()`` hands back
    the delta ``(position, v_to]`` and the caller advances with
    ``commit(v_to)`` once the delta is durably applied. The offset
    lives in ``<checkpoint>/offset.json``, written with the FS seam's
    atomic replace — a crash between apply and commit re-polls the same
    (or a wider) range, which the replica-side guards absorb (see
    module docstring).

    ``start_version`` defaults to the table's initial empty commit
    (version 1), so the first poll is a FULL bootstrap: every live row
    arrives as an ``insert``. If retention (``expire_versions``) has
    already dropped the start manifest, ``poll`` raises ``LookupError``
    — re-seed the replica from ``read_version(earliest retained)`` and
    ``seek(earliest)`` instead of silently missing rows.
    """

    def __init__(
        self,
        table: LakeTable,
        checkpoint: str,
        start_version: int = 1,
        fs: Any | None = None,
        create: bool = True,
    ):
        self.table = table
        self.checkpoint = checkpoint
        self.fs = fs if fs is not None else get_fs(checkpoint)
        if create:
            self.fs.makedirs(checkpoint)
        self._offset_path = os.path.join(checkpoint, "offset.json")
        self._start = int(start_version)

    @property
    def position(self) -> int:
        committed = self.committed_position
        return self._start if committed is None else committed

    @property
    def committed_position(self) -> int | None:
        """The durably committed offset, or None before the first
        ``commit`` — distinct from :attr:`position`, which falls back
        to ``start_version``. ``replicate(bootstrap="snapshot")`` keys
        its seed decision on THIS (a missing offset means the seed
        never completed, however far a crashed attempt got)."""
        if self.fs.exists(self._offset_path):
            return int(json.loads(
                self.fs.read_text(self._offset_path))["version"])
        return None

    def seek(self, version: int) -> None:
        """Force the cursor (bootstrap-after-expiry, replays)."""
        self.commit(int(version))

    def commit(self, v_to: int) -> None:
        self.fs.replace(self._offset_path, json.dumps(
            {"version": int(v_to), "table": self.table.path}))

    def poll(
        self,
        max_versions: int | None = None,
        with_ordering: bool = True,
    ) -> ChangeBatch | None:
        """The next unconsumed delta, or None when caught up.

        Refreshes the source handle first so commits from other writers
        are visible. ``max_versions`` bounds one batch's span (smaller
        replica epochs on a long-idle consumer); the delta itself is
        version-diff-based, so cost scales with touched buckets, not
        with the number of spanned commits.
        """
        self.table.refresh()
        pos = self.position
        v_to = self.table.version
        if max_versions is not None:
            v_to = min(v_to, pos + int(max_versions))
        if v_to <= pos:
            return None
        return ChangeBatch(
            df=_changes_since(self.table, pos, v_to, with_ordering),
            v_from=pos, v_to=v_to)


def _changes_since(table: LakeTable, pos: int, v_to: int,
                   with_ordering: bool = True) -> DataFrame:
    """``changes_between(pos, v_to)``; an expired ``pos`` raises a
    ``LookupError`` that spells out the re-seed recovery."""
    try:
        return table.changes_between(pos, v_to, with_ordering=with_ordering)
    except LookupError as e:
        raise LookupError(
            f"changelog position v{pos} of {table.path} has "
            f"been expired (retained: {table.history()}); "
            f"re-seed the replica from read_version(earliest) and "
            f"seek(earliest)") from e


def _fields_at(source: LakeTable, version: int) -> list[dict]:
    """The source's field list AS OF ``version`` — the schema a
    ``changes_between(..., version)`` frame actually carries. Following
    the HEAD schema instead would be wrong for a lagging consumer
    (``max_versions``): a column renamed between the batch's ``v_to``
    and head would be renamed on the replica before the batch — still
    carrying the old name — merges, silently NULLing it."""
    m = source.manifest_at(int(version))
    return m["schemas"][str(m["schema_version"])]


def _follow_schema(src_fields: list[dict], target: LakeTable,
                   allow_adds: bool = True) -> int:
    """Apply source-side schema evolution to the replica, toward the
    source field list ``src_fields`` (use :func:`_fields_at` of the
    batch being applied, NOT the source head — see there). Renames are
    matched by field id (a replica created by :func:`replicate` shares
    the source's id assignment — :func:`ensure_replica` seeds the
    registry with the source's own ids, so this holds for PROJECTED
    replicas too); source-side drops are followed (the change frames no
    longer carry the column, so keeping it would overwrite replica rows
    with NULL on every subsequent upsert — neither source state nor a
    consistent projection); lossless type widenings are followed (the
    batch's values arrive in the widened type; merging them under the
    replica's narrower registry type would record files whose physical
    type contradicts the replica schema); new fields are appended by
    name. ``allow_adds=False`` (projected replicas) skips adds only:
    the projection is a fixed allowlist, so columns added at the source
    stay out, but renames/drops/widenings of PROJECTED columns still
    follow. Returns the number of DDL commits made."""
    changed = 0
    src = {f["id"]: f for f in src_fields}
    tgt_by_id = {f["id"]: f for f in target.current_fields()}
    # drops first: frees names a later add (fresh id) may reuse
    for fid, tf in sorted(tgt_by_id.items()):
        if fid not in src and tf["name"] not in (
                target.key_col, target.ts_col, target.expires_col):
            target.drop_column(tf["name"])
            changed += 1
    tgt_by_id = {f["id"]: f for f in target.current_fields()}
    # renames in two phases when the window consumed a rename CHAIN
    # (b→c then a→b): renaming a→b directly would collide with the id
    # still holding 'b'; parking every colliding rename on a temp name
    # first makes any permutation safe (after the drops above, every
    # remaining target id exists in src, so a name collision is always
    # with another field that is itself being renamed away)
    renames = [(fid, tgt_by_id[fid]["name"], sf["name"])
               for fid, sf in sorted(src.items())
               if fid in tgt_by_id and tgt_by_id[fid]["name"] != sf["name"]]
    tgt_names_now = {f["name"] for f in target.current_fields()}
    if any(new in tgt_names_now - {old} for _, old, new in renames):
        for fid, old, _new in renames:
            target.rename_column(old, f"__cdm_mv_{fid}")
        for fid, _old, new in renames:
            target.rename_column(f"__cdm_mv_{fid}", new)
        changed += len(renames)
    else:
        for _fid, old, new in renames:
            target.rename_column(old, new)
            changed += 1
    tgt_by_id = {f["id"]: f for f in target.current_fields()}
    for fid, sf in sorted(src.items()):
        tf = tgt_by_id.get(fid)
        if tf is None or tf["type"] == sf["type"]:
            continue
        if (tf["type"].strip().lower(), sf["type"].strip().lower()) \
                in type(target)._WIDENINGS:
            target.widen_column(sf["name"], sf["type"])
            changed += 1
        # any other difference: an externally-managed replica whose
        # type is already ahead (or unrelated) — leave it; the id-based
        # read reconciliation casts at read, the documented fallback
    if not allow_adds:
        return changed
    tgt_names = {f["name"] for f in target.current_fields()}
    for fid, sf in sorted(src.items()):
        if fid not in tgt_by_id and sf["name"] not in tgt_names:
            target.add_column(sf["name"], sf["type"])
            changed += 1
    return changed


def ensure_replica(
    spark: SparkSession,
    source: LakeTable,
    target_path: str,
    columns: list[str] | None = None,
    fs: Any | None = None,
    at_version: int | None = None,
    merge_mode: str | None = None,
) -> LakeTable:
    """Open the replica at ``target_path``, creating it with the
    source's schema and layout config when absent. Bucket count/key/ts
    mirror the source so per-bucket reasoning (checksums, pruning)
    lines up across the hop.

    ``at_version`` pins WHICH source schema the replica is born with —
    pass the first batch's ``v_to`` (the schema that batch's frame
    carries). Creating at the source HEAD instead would put a
    backfilling replica AHEAD of its own batches: the first bounded
    poll would then try to follow the older batch schema and
    destructively downgrade (drop later-added columns, narrow widened
    ones). Defaults to the source's current version (correct for
    snapshot bootstrap, which seeds at head).

    ``merge_mode`` sets the replica's write strategy at CREATION time
    ("cow"/"mor"; default: inherit the source's). A replica applies a
    long sequence of small fenced epochs — exactly the workload where
    merge-on-read removes CoW's per-epoch bucket rewrites; run
    ``maintain --compact`` (or ``mor_compact_min_deltas``) on the
    replica to fold. An EXISTING replica keeps its own mode.

    ``columns`` keeps only the named data columns (the key, ts, and
    expires columns are always kept) — a PROJECTED replica, e.g. the
    text corpus without the raw ``html`` payload. The replica's field
    registry is seeded with the source's own field ids
    (``LakeTable.create(field_registry=...)``) so source-side renames
    keep following by id; fresh sequential ids would mis-align the
    moment a column is dropped."""
    fs = fs if fs is not None else get_fs(target_path)
    if LakeTable.exists(target_path, fs):
        return LakeTable(spark, target_path, fs=fs)
    if at_version is None:
        m = source.manifest
    else:
        m = source.manifest_at(int(at_version))
    cfg = m["config"]
    fields = json.loads(json.dumps(
        m["schemas"][str(m["schema_version"])]))
    if columns is not None:
        always = {cfg["key_col"], cfg["ts_col"], cfg.get("expires_col")}
        keep = set(columns) | (always - {None})
        unknown = keep - {f["name"] for f in fields}
        if unknown:
            raise ValueError(
                f"projection names columns the source lacks: "
                f"{sorted(unknown)}")
        fields = [f for f in fields if f["name"] in keep]
    from cassandra_data_migrator_spark.lake.table import _fields_to_schema
    return LakeTable.create(
        spark, target_path, _fields_to_schema(fields),
        EngineConfig(
            n_buckets=cfg["n_buckets"], key_col=cfg["key_col"],
            ts_col=cfg["ts_col"], expires_col=cfg.get("expires_col"),
            bucket_prefix_sep=cfg.get("bucket_prefix_sep"),
            # a replica applies many SMALL fenced delta epochs — the
            # merge-on-read sweet spot; default: inherit the source's
            # own write strategy, override per hop via merge_mode
            merge_mode=(merge_mode or cfg.get("merge_mode") or "cow")),
        fs=fs,
        field_registry=(fields, m["next_field_id"]))


def _load_hop_config(
    fs: Any, checkpoint: str,
    where: str | None, columns: list[str] | None,
) -> tuple[str | None, list[str] | None, bool]:
    """Resolve the hop's filter + projection against what the consumer
    checkpoint has pinned. The predicate and projection are part of the
    replica's IDENTITY — changing them mid-stream would leave the
    replica a mix of two different rules with no record of where the
    boundary lies — so the first successful ``replicate`` call pins
    them (:func:`_pin_hop_config`) and later calls must pass the same
    values (or nothing, which means "use what's pinned"). Returns
    ``(where, columns, already_pinned)``; the caller pins only AFTER
    the values are validated (replica created, predicate parsed) so a
    rejected first call does not poison the checkpoint."""
    path = os.path.join(checkpoint, "replication.json")
    if fs.exists(path):
        stored = json.loads(fs.read_text(path))
        for name, given, kept in (("where", where, stored.get("where")),
                                  ("columns", columns,
                                   stored.get("columns"))):
            if given is not None and given != kept:
                raise ValueError(
                    f"replication {name} changed mid-stream: checkpoint "
                    f"pinned {kept!r}, got {given!r}; a different rule "
                    f"needs a fresh replica + checkpoint")
        return stored.get("where"), stored.get("columns"), True
    return where, columns, False


def _pin_hop_config(
    fs: Any, checkpoint: str,
    where: str | None, columns: list[str] | None,
) -> None:
    fs.replace(os.path.join(checkpoint, "replication.json"),
               json.dumps({"where": where, "columns": columns}))


def _validate_where(spark: SparkSession, source: LakeTable,
                    where: str | None) -> None:
    """Fail fast on a malformed/mistyped predicate — analysis against
    an EMPTY frame with the source's schema (no I/O) — so the error
    surfaces before the hop config is pinned, not at the first merge
    with the typo already durable in the checkpoint."""
    if where is None:
        return
    try:
        spark.createDataFrame([], source.schema()).filter(F.expr(where))
    except Exception as e:
        raise ValueError(
            f"replication predicate {where!r} does not analyze against "
            f"the source schema: {e}") from e


def _seed_from_snapshot(
    source: LakeTable,
    target: LakeTable,
    consumer: ChangelogConsumer,
    where: str | None,
    allow_adds: bool = True,
) -> int:
    """OVERWRITE the replica with σ_where(source snapshot) at a pinned
    version, then commit the consumer's offset to that version.

    This is the 100-TB bootstrap path: replaying a long history through
    the changelog hop costs O(total changes ever made) — every
    intermediate winner shuffles through the replica's LWW merge — while
    a snapshot seed costs O(live rows), one bucket-aligned write with no
    LWW window at all (``overwrite`` stamps ``_seq = NULL``, which
    ``desc_nulls_last`` orders below any real change at equal ts, so the
    subsequent tail merges order correctly against seeded rows).

    Crash-safe by idempotence: the offset commits only AFTER the
    overwrite, so a crash in between leaves no offset and the next call
    re-seeds from a (possibly newer) snapshot — a full state replace
    either way. The version is pinned via ``manifest_at`` before the
    read, so a concurrent source commit cannot tear the seed."""
    source.refresh()
    # pin the version FIRST (a concurrent source commit between the
    # schema follow and the read must not tear the seed), then follow
    # the pinned version's schema — a re-seed may land after source-side
    # DDL the replica never saw (its changelog window expired wholesale)
    v = source.version
    _follow_schema(_fields_at(source, v), target, allow_adds=allow_adds)
    target.overwrite(_source_view(source, v, target, where))
    consumer.commit(v)
    return v


def _source_view(
    source: LakeTable, version: int, target: LakeTable, where: str | None,
    buckets: list[int] | None = None, with_bucket: bool = False,
) -> DataFrame:
    """σ_where(source @ version) projected to the replica's current
    columns: what the replica must hold at that position (the snapshot
    seed, the verified side, the repaired buckets). The filter runs
    BEFORE the projection — the predicate may use dropped columns.
    ``with_bucket`` keeps the internal bucket column."""
    snap = source.read_version(version, buckets=buckets,
                               include_internal=with_bucket)
    cols = [f["name"] for f in target.current_fields()]
    missing = [c for c in cols if c not in snap.columns]
    if missing:
        raise ValueError(
            f"replica columns {missing} do not exist in the source at "
            f"position v{version}: the replica's schema is ahead of (or "
            f"foreign to) the source snapshot — catch the hop up, or "
            f"re-create the replica via ensure_replica")
    if where is not None:
        snap = snap.filter(F.expr(where))
    return snap.select(*([_BUCKET] if with_bucket else []), *cols)


def _event_col_names(field_names: set[str]) -> tuple[str, str]:
    """op/seq column names for the hop's event frame that cannot
    collide with a data column literally named ``op`` or ``seq``."""
    op, seq = "op", "seq"
    while op in field_names:
        op = "_" + op
    while seq in field_names:
        seq = "_" + seq
    return op, seq


def _hop_events(
    events: DataFrame, target: LakeTable, where: str | None,
    op_col: str = "op", seq_col: str = "seq",
) -> DataFrame:
    """One hop's view of a lowered change batch: the filtered-replica
    predicate conversion (post-image fails — or NULLs — the predicate →
    DELETE at the change's own (ts, seq), so out-of-predicate winners
    leave instead of going stale), then projection to the replica's
    current columns so only kept columns enter the hop's shuffle."""
    if where is not None:
        events = events.withColumn(
            op_col,
            F.when((F.col(op_col) == F.lit("delete")) | F.expr(where),
                   F.col(op_col)).otherwise(F.lit("delete")))
    tgt_names = {f["name"] for f in target.current_fields()}
    return events.select(*[
        c for c in events.columns
        if c in tgt_names or c in (op_col, seq_col)])




@dataclass
class ReplicaHop:
    """One downstream replica of a source's changelog.

    ``target`` is the replica (a path is created from the source's
    schema when absent, see :func:`ensure_replica`; a ``LakeTable`` is
    used as given); ``checkpoint`` holds the hop's consumer offset.

    ``where`` makes a FILTERED replica: a SQL predicate over the
    change's post-image. A change whose post-image fails the predicate
    (or evaluates it to NULL) is converted into a DELETE at the same
    ``(ts, seq)`` — not merely dropped — so a key whose winner moves
    OUT of the predicate disappears from the replica instead of going
    stale. Invariant: the replica's live state is exactly
    ``σ_where(source live state)`` for every caught-up position (per
    key, only the hop's latest event can win, and it upserts iff the
    source's winner matches). The predicate may reference columns the
    projection drops (filter on ``html``, store only ``text``) — it is
    evaluated before the projection.

    ``columns`` makes a PROJECTED replica (see :func:`ensure_replica`);
    events are projected to the replica's current schema, so the hop's
    shuffle carries only kept columns. Both are pinned in the
    checkpoint on first use.

    ``bootstrap``: how a replica with NO committed offset gets its
    initial state.

    - ``"changelog"`` (default) — replay the source's history from its
      first retained commit; every live row arrives as an insert. Exact
      but O(total changes ever made); raises ``LookupError`` when
      retention has expired the history's start.
    - ``"snapshot"`` — seed by OVERWRITING the replica with
      σ_where(source snapshot) at a pinned version, commit the offset
      there, and tail the changelog from that point only. O(live rows),
      no LWW window, immune to expired history — the bulk-load-then-tail
      bootstrap a 100-TB table actually needs (the reference's analog:
      a full ``migrate`` run followed by incremental validation runs,
      ``PERF/testing.txt``). Snapshot mode also RE-seeds when a tail
      poll finds its position expired mid-stream (retention overtook a
      long-idle consumer) — a full state replace is always convergent,
      so the replica comes back exact rather than erroring.

    ``merge_mode`` is the replica's write strategy when the hop CREATES
    it (see :func:`ensure_replica`); ``stream_id`` names its epoch
    fence.
    """

    target: "LakeTable | str"
    checkpoint: str
    where: str | None = None
    columns: list[str] | None = None
    bootstrap: str = "changelog"
    stream_id: str = "changelog"
    merge_mode: str | None = None


def replicate_many(
    spark: SparkSession,
    source: LakeTable,
    hops: list[ReplicaHop],
    max_versions: int | None = None,
) -> dict[str, Any]:
    """Catch every hop's replica up to the source's current version,
    reading each version delta from the source ONCE.

    Each polled delta becomes one fenced merge epoch on the replica
    (``epoch_id = v_to``), then the hop's offset commits; the loop
    repeats until every consumer is caught up. ``max_versions`` bounds
    one epoch's version span. Rows per change type are NOT counted
    (counting would force an extra pass; use the replica's lineage).

    Consumers at the SAME position share one ``changes_between`` read:
    at fleet scale (one corpus table feeding a filtered replica per
    downstream team) N independent hops would be N full delta scans of
    the same bytes. With more than one hop in a group the lowered event
    frame is persisted, each hop applies only its own cheap tail
    (predicate conversion + projection + its replica's merge), and the
    frame is unpersisted when the group is done. Hops at different
    positions (a replica added later, or one that missed a round) form
    separate groups and converge to the same head within one call.

    Every hop's bootstrap mode, predicate and pinned rule are checked
    before any hop creates, pins or seeds anything. Failure isolation
    is deliberately NOT attempted after that: a hop's merge error
    aborts the call; already-committed hops are durable and a retry
    resumes every hop from its own offset.
    """
    ckpts = [h.checkpoint for h in hops]
    if len(set(ckpts)) != len(ckpts):
        raise ValueError(
            "hops share a checkpoint: each replica needs its own "
            "consumer offset (a shared one would skip deltas on "
            "whichever hop commits second)")
    tgts = [h.target if isinstance(h.target, str) else h.target.path
            for h in hops]
    if len(set(tgts)) != len(tgts):
        raise ValueError(
            "hops share a target table: two consumers merging into "
            "one replica would race their epoch fences")
    checked = []
    for hop in hops:
        if hop.bootstrap not in ("changelog", "snapshot"):
            raise ValueError(
                f"bootstrap must be 'changelog' or 'snapshot', "
                f"got {hop.bootstrap!r}")
        fs = get_fs(hop.checkpoint)
        where, columns, pinned = _load_hop_config(
            fs, hop.checkpoint, hop.where, hop.columns)
        if not pinned:
            _validate_where(spark, source, where)
        checked.append((hop, fs, where, columns, pinned))
    states: list[dict[str, Any]] = []
    for hop, fs, where, columns, pinned in checked:
        consumer = ChangelogConsumer(source, hop.checkpoint, fs=fs)
        target = hop.target
        if isinstance(target, str):
            # a NEW changelog-bootstrap replica is born with its FIRST
            # batch's schema (bounded polls backfill through history —
            # the head schema would be ahead of the frames); snapshot
            # bootstrap seeds at head, so head is right there
            source.refresh()
            first_v = source.version
            if hop.bootstrap == "changelog" and max_versions is not None:
                first_v = min(first_v,
                              consumer.position + int(max_versions))
            target = ensure_replica(spark, source, target,
                                    columns=columns,
                                    at_version=max(first_v, 1),
                                    merge_mode=hop.merge_mode)
        states.append({"hop": hop, "consumer": consumer, "target": target,
                       "where": where, "columns": columns,
                       "pinned": pinned, "batches": [], "seeded_at": None})
    for st in states:
        if not st["pinned"]:
            # pin only after every hop validated and every replica
            # exists: a typo'd first call must not poison the checkpoint
            _pin_hop_config(st["consumer"].fs, st["hop"].checkpoint,
                            st["where"], st["columns"])
        if st["hop"].bootstrap == "snapshot" \
                and st["consumer"].committed_position is None:
            st["seeded_at"] = _seed_from_snapshot(
                source, st["target"], st["consumer"], st["where"],
                allow_adds=st["columns"] is None)

    while True:
        source.refresh()
        head = source.version
        # group pending hops by their (from, to) window so one delta
        # read serves every consumer standing at the same position
        groups: dict[tuple[int, int], list[dict]] = {}
        for st in states:
            pos = st["consumer"].position
            v_hi = head if max_versions is None \
                else min(head, pos + int(max_versions))
            if v_hi > pos:
                groups.setdefault((pos, v_hi), []).append(st)
        if not groups:
            break
        for (pos, v_hi), group in sorted(groups.items()):
            try:
                changes = _changes_since(source, pos, v_hi)
            except LookupError:
                # expired window: snapshot hops re-seed (an overwrite
                # replaces all state, so the replica is exact at the new
                # position whatever was missed), others fail — per hop,
                # so one stale changelog consumer cannot sink the
                # snapshot-mode ones
                for st in group:
                    if st["hop"].bootstrap != "snapshot":
                        raise
                    st["seeded_at"] = _seed_from_snapshot(
                        source, st["target"], st["consumer"],
                        st["where"],
                        allow_adds=st["columns"] is None)
                continue
            # the delta frame is in v_hi's schema — follow THAT, and
            # take the ts column's name (renameable) from v_hi's config
            mt = source.manifest_at(v_hi)
            v_hi_fields = mt["schemas"][str(mt["schema_version"])]
            op_c, seq_c = _event_col_names(set(changes.columns))
            events = changes_to_events(
                changes, ts_col=mt["config"]["ts_col"],
                op_col=op_c, seq_col=seq_c)
            if len(group) > 1:
                events = events.persist()
            try:
                for st in group:
                    _follow_schema(v_hi_fields, st["target"],
                                   allow_adds=st["columns"] is None)
                    res = st["target"].merge_batch(
                        _hop_events(events, st["target"], st["where"],
                                    op_c, seq_c),
                        op_col=op_c, seq_col=seq_c,
                        stream_id=st["hop"].stream_id, epoch_id=v_hi)
                    st["consumer"].commit(v_hi)
                    st["batches"].append({
                        "v_from": pos, "v_to": v_hi,
                        "skipped": res.skipped,
                        "target_version": res.version,
                    })
            finally:
                if len(group) > 1:
                    events.unpersist()
    out_hops = []
    for st in states:
        h = {
            "target": st["target"].path,
            "position": st["consumer"].position,
            "batches": st["batches"],
            "target_version": st["target"].version,
        }
        if st["seeded_at"] is not None:
            h["seeded_at_version"] = st["seeded_at"]
        out_hops.append(h)
    return {"source": source.path, "hops": out_hops}


def replicate(
    spark: SparkSession,
    source: LakeTable,
    target: LakeTable | str,
    checkpoint: str,
    stream_id: str = "changelog",
    max_versions: int | None = None,
    where: str | None = None,
    columns: list[str] | None = None,
    bootstrap: str = "changelog",
    merge_mode: str | None = None,
) -> dict[str, Any]:
    """Catch one replica up to the source's current version: the
    single-hop case of :func:`replicate_many` (the options are the
    :class:`ReplicaHop` fields). Returns ``{"source", "target",
    "batches", "position", "target_version"}`` plus
    ``"seeded_at_version"`` when a snapshot seed ran."""
    hop = ReplicaHop(target, checkpoint, where=where, columns=columns,
                     bootstrap=bootstrap, stream_id=stream_id,
                     merge_mode=merge_mode)
    out = replicate_many(spark, source, [hop], max_versions=max_versions)
    return {"source": out["source"], **out["hops"][0]}


def verify_replica(
    spark: SparkSession,
    source: LakeTable,
    target: LakeTable,
    checkpoint: str,
    max_report_buckets: int = 64,
) -> dict[str, Any]:
    """The reference's validation semantics applied ACROSS the
    replication hop: prove ``replica == σ_pred(π_cols(source))`` with
    per-bucket row counts + order-insensitive checksums, one
    bucket-parallel scan per side.

    Race-free by time travel: the source side is read AT the
    consumer's committed position (``read_version``), so verification
    is exact even while the source keeps committing — no quiesce
    needed. At that position the replica's schema equals the source's
    (the hop follows the batch's v_to schema), so both sides hash the
    REPLICA's key/ts/data columns; the pinned ``where`` is applied to
    the source snapshot exactly as the filtered hop and the snapshot
    seed apply it. Checksums hash (key, ts, data) but not the internal
    seq — a snapshot-seeded replica (``_seq = NULL``) verifies equal
    to a changelog-replayed one, as it must.

    Scale shape: two bucket-pruned scans feeding two thin per-bucket
    aggregations (~24 B/row after the map-side combine) and one
    n_buckets-row join — no payload shuffle, no driver-side rows
    beyond the bucket summary. Reference analog: ``DiffJobSession``'s
    origin⟕target compare, collapsed from per-key lookups to
    per-bucket checksums (`job/DiffJobSession.java:109-167`).

    Raises ``LookupError`` when retention has expired the committed
    position's manifest (catch the replica up first, then verify).
    Returns a summary dict; ``match`` is the verdict,
    ``mismatched_buckets`` lists up to ``max_report_buckets`` of the
    differing buckets with both sides' counts and checksums.
    """
    if (source.n_buckets != target.n_buckets
            or source.key_col != target.key_col
            or source.bucket_prefix_sep != target.bucket_prefix_sep):
        raise ValueError(
            f"bucket layouts differ (source {source.n_buckets} × "
            f"{source.key_col!r} sep={source.bucket_prefix_sep!r}, "
            f"target {target.n_buckets} × {target.key_col!r} "
            f"sep={target.bucket_prefix_sep!r}): per-bucket compare "
            f"needs the mirrored layout ensure_replica creates")
    consumer = ChangelogConsumer(source, checkpoint, create=False)
    pos = consumer.committed_position
    if pos is None:
        raise ValueError(
            f"nothing committed at {checkpoint!r}: replicate first, "
            f"then verify")
    where, _columns, _pinned = _load_hop_config(
        consumer.fs, checkpoint, None, None)
    key, ts = target.key_col, target.ts_col
    cols = [key, ts, *(f["name"] for f in target.current_fields()
                       if f["name"] not in (key, ts))]
    src_sums = bucket_checksums(
        _source_view(source, pos, target, where, with_bucket=True), cols)
    dst_sums = bucket_checksums(target.read(include_internal=True), cols)
    j = (
        src_sums.alias("s").join(dst_sums.alias("t"), "bucket",
                                 "full_outer")
        .select(
            "bucket",
            F.col("s.row_count").alias("src_rows"),
            F.col("t.row_count").alias("dst_rows"),
            F.col("s.checksum").alias("src_sum"),
            F.col("t.checksum").alias("dst_sum"))
    )
    # ONE action: the joined summary is ≤ n_buckets rows, so collect it
    # whole and derive mismatches + totals driver-side — two separate
    # Spark actions would scan and checksum both tables twice
    rows = j.collect()
    bad = sorted(
        (r for r in rows
         if r["src_rows"] != r["dst_rows"] or r["src_sum"] != r["dst_sum"]),
        key=lambda r: r["bucket"])
    source.refresh()
    return {
        "position": pos,
        "source_head": source.version,
        "lag_versions": source.version - pos,
        "where": where,
        "buckets": len(rows),
        "source_rows": sum(r["src_rows"] or 0 for r in rows),
        "target_rows": sum(r["dst_rows"] or 0 for r in rows),
        "match": not bad,
        "mismatch_truncated": len(bad) > max_report_buckets,
        "mismatched_buckets": [
            {"bucket": r["bucket"],
             "source_rows": r["src_rows"], "target_rows": r["dst_rows"],
             "source_checksum": r["src_sum"],
             "target_checksum": r["dst_sum"]}
            for r in bad[:max_report_buckets]],
    }


def repair_replica(
    spark: SparkSession,
    source: LakeTable,
    target: LakeTable,
    checkpoint: str,
    verification: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Convergent autocorrect across the hop (the reference's
    ``validate --autocorrect`` analog, `job/DiffJobSession.java:236-258`
    collapsed to bucket granularity): verify, then rebuild ONLY the
    mismatched buckets as exact copies of σ_pred(π(source)) at the
    consumer's committed position, then re-verify.

    Bucket-targeted: the repair reads the source snapshot bucket-pruned
    to the mismatched buckets and swaps exactly those buckets' files on
    the replica (``LakeTable.overwrite(buckets=...)``) — cost scales
    with the damage, not the table. Repairing AT the committed position
    (not head) keeps the consumer's contract intact: the offset does
    not move, and the next poll applies the same ``(pos, head]`` delta
    it would have anyway. Rebuilt rows carry ``_seq = NULL`` (the seed
    contract), so those tail changes still win at equal ts. This fixes
    any out-of-band divergence — including corrupt rows whose ts LWW
    would protect, which a changelog replay can never fix.

    ``verification``: pass a fresh :func:`verify_replica` result to
    reuse it; otherwise one is computed. If its mismatch list was
    truncated, verification is re-run untruncated so no damaged bucket
    is missed. Returns ``{verified, repaired_buckets, reverified}``.
    """
    pre = verification if verification is not None else verify_replica(
        spark, source, target, checkpoint)
    if pre.get("mismatch_truncated"):
        pre = verify_replica(spark, source, target, checkpoint,
                             max_report_buckets=target.n_buckets)
    if pre["match"]:
        return {"verified": pre, "repaired_buckets": [],
                "reverified": pre}
    bad = sorted(mb["bucket"] for mb in pre["mismatched_buckets"])
    where, _columns, _pinned = _load_hop_config(
        get_fs(checkpoint), checkpoint, None, None)
    target.overwrite(
        _source_view(source, pre["position"], target, where, buckets=bad),
        buckets=bad)
    post = verify_replica(spark, source, target, checkpoint)
    return {"verified": pre, "repaired_buckets": bad,
            "reverified": post}
