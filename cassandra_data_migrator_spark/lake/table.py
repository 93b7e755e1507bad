"""Snapshot-manifest lake table ("mini-Iceberg") with copy-on-write MERGE.

No Iceberg/Delta jars ship in this environment, so the engine owns its
lake format: a parquet table partitioned into ``n_buckets`` hash buckets
of the key column, with JSON snapshot manifests and atomic commits.
This is not a loss — the north rule's epoch-fenced commit manifests,
per-partition lineage, and bucket-pruned copy-on-write MERGE are exactly
the pieces a lake format would otherwise hide, and here they are explicit
and testable.

Reference parity map:
- token ranges (``job/PartitionRange.java:23-51``, ``job/SplitPartitions.java:32-76``)
  → hash buckets ``pmod(xxhash64(url), N)``; one bucket = one unit of
  parallelism, pruning, lineage, and checksum.
- per-range run state (``cql/statement/TargetUpsertRunDetailsStatement.java:63-84``)
  → per-bucket lineage rows carried in each commit manifest.
- Cassandra's implicit last-writer-wins upsert with ``USING TIMESTAMP``
  (``cql/statement/TargetUpsertStatement.java:113-130``) → explicit LWW
  window dedup + merge keyed ``(url)`` ordered by ``(warc_ts, seq)``.
- UNSET-null bind-skip (``cql/statement/TargetInsertStatement.java:82-85``)
  → optional ``unset_nulls`` running last-non-null semantics.
- rerun idempotence (``README.md:117-126``) → epoch fence: re-merging an
  already-committed ``(stream_id, epoch_id)`` is a no-op.

Layout::

    table_dir/
      _manifests/v000000000001.json   # immutable snapshot manifests
      _manifests/LATEST               # current version (atomic os.replace)
      data/e000000000001/_pb=K/part-*.parquet   # per-commit data dirs

Scale notes (100 TB / 1000 executors):
- A MERGE reads and rewrites ONLY the buckets its source batch touches;
  bucket count is sized so one bucket ≈ a few GB (n_buckets ~ 16-64k).
- The driver handles bucket *ids* and file *paths* only — never rows.
- All row work is DataFrame-native: one shuffle per merge (the window),
  whole-stage-codegen'd hashing, parquet pushdown on bucket files.

Commit protocol (owned here; no other module names the layout above):
every commit derives its manifest from the one this handle loaded
(:meth:`LakeTable._successor_manifest`: version + 1, parent linked,
fence advanced, lineage reset) and publishes it with an exclusive
create of ``v<version>.json`` followed by the ``LATEST`` swing. A
second writer that already took that version makes the create fail
with :class:`CommitConflict`. ``merge_batch`` and
``merge_counter_batch`` retry their own lost race: reload the
winner's manifest, check the epoch fence again, recompute what
depends on the manifest (fold set, watermark) and write again, at
most ``_COMMIT_ATTEMPTS`` times, and sooner give up when two reloads
in a row find no newer version (a commit whose ``LATEST`` swing never
happened blocks every writer). LWW idempotence makes the re-apply
safe, and the fence turns a twin of the same ``(stream_id,
epoch_id)`` into a skip. A ``force_overwrite`` merge (autocorrect)
replaces the stored rows of its keys whatever their LWW order, so a
re-apply over a rival's newer rows would undo them: like compaction,
overwrite and schema changes it does not retry, and raises
:class:`CommitConflict`. A lost attempt's data files are orphans that
``expire_versions`` reclaims.
"""

from __future__ import annotations

import copy
import functools
import json
import os
import uuid
from collections.abc import Callable, Collection, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.functions.hashing import (
    bucket_expr,
    checksum_agg_expr,
    hash_safe_cols,
    row_checksum_expr,
)
from cassandra_data_migrator_spark.lake.fs import get_fs

# internal (non-evolvable) columns stored in every data file
_BUCKET = "_bucket"     # int   — hash bucket of the key
_DELETED = "_deleted"   # bool  — tombstone marker (delete events persist)
_SEQ = "_seq"           # long  — event seq of the winning writer (tie-break)
_CK = "_ck"             # long  — row checksum, precomputed at write time so
                        #         the lineage pass reads 3 thin columns
                        #         instead of re-scanning payloads
_PB = "_pb"             # partition-dir duplicate of _bucket (not read back)
_DV = "_dv"             # int — commit version of a row during LWW
                        #       resolution (read-time literal from the
                        #       manifest entry's "dv"; base files read as
                        #       0; a merge's batch rows carry its new
                        #       version; never stored)
INTERNAL_COLS = (_BUCKET, _DELETED, _SEQ)

# LWW pre-reduction gate: a batch of at most this many events is reduced
# to its per-key winners (the probe's winner versions, joined back)
# before the merge shuffle. Setting it to 0 selects the unreduced window
# merge, the reference path the equivalence tests compare against.
_PREREDUCE_MAX_EVENTS = 32_000_000
# Above this many events in a batch the winner set may be too large to
# force-broadcast (worst case one winner per event at ~40 B/row ≈ 64 MB
# at 1.6M — around the configured autoBroadcastJoinThreshold); past it
# the pre-reduction join-back is left unhinted for AQE to size.
_PREREDUCE_FORCE_BROADCAST_MAX_EVENTS = 1_500_000
# seq stand-in for a null seq inside the winner version struct
_NO_SEQ = -(2 ** 63)
# a merge that keeps losing the race for the next manifest version
# gives up (re-raising CommitConflict) after this many writes in all
_COMMIT_ATTEMPTS = 4
_MANIFESTS = "_manifests"


def _manifest_file(path: str, version: int) -> str:
    return os.path.join(path, _MANIFESTS, f"v{int(version):012d}.json")


def _latest_file(path: str) -> str:
    return os.path.join(path, _MANIFESTS, "LATEST")


def _epoch_key(stream_id: str | None, epoch_id: int | None) -> str | None:
    return f"{stream_id}/{epoch_id}" if stream_id is not None else None


def lww_version(ts, seq):
    """(ts, seq) LWW version as an orderable struct ``(_t, _s)``. A null
    seq coalesces to long-min, the rank the merge window gives it (seq
    desc nulls-last), so every comparison of versions ties the way the
    merge orders; a struct compared on a null field would evaluate to
    NULL and silently drop the row. (The sentinel conflates a literal
    seq of -2^63 with NULL, an accepted and contrived tie.)"""
    return F.struct(ts.alias("_t"),
                    F.coalesce(seq.cast("long"), F.lit(_NO_SEQ)).alias("_s"))


def _lww_winners(rows: DataFrame, key: str, ts: str) -> DataFrame:
    """THE LWW window over rows that carry ``_dv``, the commit version
    that stored them (base files 0, a merge's own batch its new
    version): one row per ``(_bucket, key)``, newest ``(ts, seq)``
    first, the older commit winning an exact tie, ``_dv`` dropped.
    Serves the MoR read resolution, every merge and
    :meth:`LakeTable.compact`. Rows clustered by ``_bucket`` already
    satisfy its distribution: a bucketed write adds no Exchange."""
    w = Window.partitionBy(_BUCKET, key).orderBy(
        F.col(ts).desc(), F.col(_SEQ).desc_nulls_last(), F.col(_DV).asc())
    return (rows.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn", _DV))


class CommitConflict(RuntimeError):
    """A concurrent writer committed the same manifest version."""


@dataclass
class MergeResult:
    epoch_key: str | None
    skipped: bool                   # True iff epoch fence suppressed the merge
    # why a skip happened, when the caller must distinguish: None (not
    # skipped / plain fence), "watermark" (no events past the seq
    # high-watermark), "legacy-fence" (watermark mode found a fenced
    # stream with NO recorded watermark — a pre-watermark load whose
    # applied extent is unknown, so nothing was applied; see
    # merge_counter_batch)
    skip_reason: str | None = None
    touched_buckets: list[int] = field(default_factory=list)
    counters: dict[str, int] = field(default_factory=dict)
    lineage: list[dict[str, Any]] = field(default_factory=list)
    version: int | None = None
    # commits this merge lost to another writer before the one it
    # returns (each followed by a reload and a fresh attempt)
    conflict_retries: int = 0


@dataclass
class Probe:
    """A change batch's per-(bucket, key) rollup, computed once by
    :meth:`LakeTable.probe` and shared by every consumer of the merge.

    ``perkey`` is persisted: one row per (status, bucket ``_b``, key
    ``_k``) with the key's winner version ``_w`` = max of
    :func:`lww_version`, its min/max seq (``mn``/``mx``) and its event
    count ``n``. Rows whose status is non-null are rejects: they are
    counted per status in ``rejects`` and kept out of everything else.
    Whoever asked for the probe unpersists it."""

    perkey: DataFrame
    touched: list[int]
    offsets: dict[int, dict]
    rejects: dict[str, int]
    status_col: str | None = None

    @property
    def events(self) -> int:
        return sum(o["events"] for o in self.offsets.values())

    def _merged(self) -> DataFrame:
        if self.status_col is None:
            return self.perkey
        return self.perkey.filter(F.col(self.status_col).isNull())

    def winners(self) -> DataFrame:
        """``(_k, _w)`` per merged key: the pre-reduction join-back input."""
        return self._merged().select("_k", "_w")

    def keys(self, name: str) -> DataFrame:
        """The merged keys (distinct by construction) as column ``name``."""
        return self._merged().select(F.col("_k").alias(name))

    def unpersist(self) -> None:
        self.perkey.unpersist()


def _schema_to_fields(schema: T.StructType, start_id: int = 1) -> list[dict]:
    return [
        {"id": start_id + i, "name": f.name, "type": f.dataType.simpleString(),
         "nullable": f.nullable}
        for i, f in enumerate(schema.fields)
    ]


def _fields_to_schema(fields: list[dict]) -> T.StructType:
    return T.StructType([
        T.StructField(f["name"], _parse_type(f["type"]), f.get("nullable", True))
        for f in fields
    ])


@functools.lru_cache(maxsize=None)
def _parse_type(s: str) -> T.DataType:
    """A registered type string as a DataType. Cached: each parse is a
    JVM ``fromDDL`` round trip, and every read, merge and commit
    re-parses the same few manifest type strings. Callers share the
    returned object and must not mutate it."""
    return T.StructType.fromDDL(f"`c` {s}").fields[0].dataType


def _is_abs(path: str) -> bool:
    """Absolute for manifest-entry purposes: a POSIX-absolute path OR a
    scheme'd URI (``s3://...``) — ``os.path.isabs`` alone is false for
    the latter, which would make a shallow clone of a scheme'd table
    double-join its inherited entries into garbage paths."""
    return os.path.isabs(path) or "://" in path


def _resolve_entry(table_path: str, entry: str) -> str:
    return entry if _is_abs(entry) else os.path.join(table_path, entry)


def watermark_tail_predicate(seq_col: str, wm: int) -> F.Column:
    """The counter high-watermark's incremental-tail filter:
    ``seq > wm``. Kept as a bare column comparison (the cast is a no-op
    on long event logs, erased by SimplifyCasts) so it reaches the
    parquet scan as a pushed ``GreaterThan`` row-group filter — a
    grown-log re-run reads only the tail's row groups, not the whole
    log (plan-asserted in tests/test_plans.py)."""
    return F.col(seq_col).cast("long") > F.lit(int(wm))


def _ts_bound_micros(v: Any) -> int | None:
    """A ts_between bound as epoch micros, the unit of both the
    manifest-stats compare and the row filter (ints pass through; naive
    datetimes are read as UTC — the pinned session timezone, matching
    how the stats were computed)."""
    import datetime as _dt

    if v is None:
        return None
    if isinstance(v, int):
        return v
    if v.tzinfo is None:
        v = v.replace(tzinfo=_dt.timezone.utc)
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (v - epoch) // _dt.timedelta(microseconds=1)


def _name_by_field_id(own_fields: list[dict], own_name: str,
                      out_fields: list[dict]) -> str:
    """Translate a column name from one schema-version's field list to
    another's through the stable field id (rename-safe)."""
    fid = next(f["id"] for f in own_fields if f["name"] == own_name)
    return next(f["name"] for f in out_fields if f["id"] == fid)


def bucket_checksums(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-bucket ``(bucket, row_count, checksum)`` of ``df``'s rows,
    hashing ``cols`` in order; ``df`` carries the internal bucket
    column."""
    return df.groupBy(F.col(_BUCKET).alias("bucket")).agg(
        F.count("*").alias("row_count"),
        checksum_agg_expr(*hash_safe_cols(df.schema, cols))
        .alias("checksum"))


def _internal_struct_fields() -> list[T.StructField]:
    return [
        T.StructField(_BUCKET, T.IntegerType(), False),
        T.StructField(_DELETED, T.BooleanType(), False),
        T.StructField(_SEQ, T.LongType(), True),
    ]


class LakeTable:
    """A bucket-partitioned parquet table with snapshot manifests."""

    def __init__(self, spark: SparkSession, path: str, fs: Any | None = None):
        self.spark = spark
        self.path = path
        # fs injection (tests / bespoke stores); default resolves by
        # URI scheme. The same handle serves every metadata op of this
        # table AND its pipelines' side tables (they use ``table.fs``).
        self.fs = fs if fs is not None else get_fs(path)
        self.manifest: dict[str, Any] = {}
        self.refresh()

    # ------------------------------------------------------------------ DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        config: EngineConfig | None = None,
        fs: Any | None = None,
        field_registry: tuple[list[dict], int] | None = None,
    ) -> "LakeTable":
        """Initialise an empty table (manifest v1, no data files).

        ``field_registry``: advanced — ``(fields, next_field_id)`` to
        seed the id-based schema registry from an UPSTREAM table
        instead of assigning fresh sequential ids. A cascaded replica
        (``streaming.changelog.ensure_replica``) uses this so its field
        ids equal the source's for every kept column — that identity is
        what lets source-side renames be followed by id even on a
        PROJECTED replica, where fresh sequential ids would silently
        mis-align (source id 3 = ``html`` vs replica id 3 = whatever
        came after the dropped column). When given, ``schema`` is
        ignored for the registry and derived from the fields.
        """
        config = config or EngineConfig()
        if config.merge_mode not in ("cow", "mor"):
            raise ValueError(
                f"merge_mode must be 'cow' or 'mor', got "
                f"{config.merge_mode!r}")
        if field_registry is not None:
            schema = _fields_to_schema(field_registry[0])
        if config.key_col not in schema.fieldNames():
            raise ValueError(f"key column {config.key_col!r} not in schema")
        if config.ts_col not in schema.fieldNames():
            raise ValueError(f"ts column {config.ts_col!r} not in schema")
        if config.expires_col and config.expires_col not in schema.fieldNames():
            raise ValueError(
                f"expires column {config.expires_col!r} not in schema")
        fs = fs if fs is not None else get_fs(path)
        if field_registry is not None:
            fields, next_id = field_registry
            fields = [dict(f) for f in fields]
        else:
            fields, next_id = _schema_to_fields(schema), len(schema) + 1
        manifest = {
            "version": 1,
            "parent": None,
            "epoch_key": None,
            "config": {
                "n_buckets": config.n_buckets,
                "key_col": config.key_col,
                "ts_col": config.ts_col,
                "expires_col": config.expires_col,
                "bucket_prefix_sep": config.bucket_prefix_sep,
                "merge_mode": config.merge_mode,
            },
            "schema_version": 1,
            "schemas": {"1": fields},
            "next_field_id": next_id,
            # bucket(str) -> list of {"path": rel, "schema_version": int}
            "files": {},
            # exactly-once fence: stream_id -> highest committed epoch id
            "epoch_fence": {},
            "lineage": [],
        }
        _first_commit(path, manifest, fs)
        return cls(spark, path, fs=fs)

    @staticmethod
    def exists(path: str, fs: Any | None = None) -> bool:
        """True when ``path`` holds a table: its ``LATEST`` pointer is
        there. A directory whose :meth:`create` stopped before the first
        commit is not a table, and ``create`` over it succeeds."""
        fs = fs if fs is not None else get_fs(path)
        return fs.exists(_latest_file(path))

    def refresh(self) -> None:
        """Re-read LATEST so this handle sees commits made by other
        writers (the changelog consumer's poll loop, a merge retrying a
        lost commit race, any long-lived handle racing a second
        process)."""
        if not LakeTable.exists(self.path, self.fs):
            raise FileNotFoundError(f"not a lake table: {self.path}")
        self.manifest = self.manifest_at(
            int(self.fs.read_text(_latest_file(self.path)).strip()))

    # ------------------------------------------------------------- metadata

    @property
    def n_buckets(self) -> int:
        return self.manifest["config"]["n_buckets"]

    @property
    def key_col(self) -> str:
        return self.manifest["config"]["key_col"]

    @property
    def ts_col(self) -> str:
        return self.manifest["config"]["ts_col"]

    @property
    def expires_col(self) -> str | None:
        return self.manifest["config"].get("expires_col")

    @property
    def bucket_prefix_sep(self) -> str | None:
        """Separator bounding the key prefix the bucket hash covers
        (``EngineConfig.bucket_prefix_sep``); None on legacy tables and
        plain-keyed tables — the hash then covers the whole key."""
        return self.manifest["config"].get("bucket_prefix_sep")

    def bucket_of(self, col: str | F.Column) -> F.Column:
        """THE bucket expression of this table — every writer-side
        bucket computation must route through here so stored ``_bucket``
        values, manifest pruning lists, and lineage rollups always
        agree. With ``bucket_prefix_sep`` set, hashes only the key's
        prefix before the first separator (surrogate → origin key);
        ``substring_index`` of a separator-free key is the key itself,
        so bare-key tombstones co-locate with their surrogates."""
        c = F.col(col) if isinstance(col, str) else col
        sep = self.bucket_prefix_sep
        if sep:
            c = F.substring_index(c.cast("string"), sep, 1)
        return bucket_expr(c, self.n_buckets)

    def _write_partitions(self, n_touched: int) -> int:
        """Width of every bucketed write's ``_bucket`` exchange: one
        task wave, ``min(touched buckets, cores)``, never 0. Hash
        partitioning still sends each bucket to exactly one task, and
        the write's per-task sort on the partition column then gives
        each bucket one file; a task beyond the core count, or on an
        empty partition, would only add its fixed launch cost (for an
        Arrow-UDF finalize, a Python worker round trip).

        Under dynamic allocation the cores registered when the write is
        planned are not the cores it can use (executors join while its
        tasks queue), so there the width is the touched-bucket count."""
        dynamic = self.spark.conf.get("spark.dynamicAllocation.enabled",
                                      "false").lower() == "true"
        cores = (n_touched if dynamic
                 else self.spark.sparkContext.defaultParallelism)
        return max(1, min(n_touched, cores))

    @property
    def merge_mode(self) -> str:
        """The table's merge mode ("cow" | "mor"); legacy manifests
        without the key are CoW."""
        return self.manifest["config"].get("merge_mode") or "cow"

    def delta_file_counts(self) -> dict[int, int]:
        """Per-bucket count of unfolded MoR delta files in the current
        snapshot (empty for pure-CoW tables) — the read-amplification
        gauge an operator watches to schedule ``compact()``."""
        out: dict[int, int] = {}
        for b, entries in self.manifest["files"].items():
            n = sum(1 for e in entries if e.get("delta"))
            if n:
                out[int(b)] = n
        return out

    @property
    def version(self) -> int:
        return self.manifest["version"]

    @property
    def schema_version(self) -> int:
        return self.manifest["schema_version"]

    def current_fields(self) -> list[dict]:
        return self.manifest["schemas"][str(self.schema_version)]

    def schema(self) -> T.StructType:
        return _fields_to_schema(self.current_fields())

    # ------------------------------------------------------------- reading

    def read(
        self,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        include_internal: bool = False,
        as_of: Any | None = None,
        ts_between: tuple[Any, Any] | None = None,
    ) -> DataFrame:
        """Current snapshot as a DataFrame; prunes to ``buckets`` if given.

        Files written under older schema versions are reconciled by
        column id: renamed columns pick up their current name, added
        columns surface as null (Iceberg-style id-based evolution —
        reference analog: the origin→target correspondingIndexes map,
        ``schema/CqlTable.java:408-428``).

        ``as_of`` (a datetime): when the table has an ``expires_col``
        configured, rows whose expiry is at or before ``as_of`` are
        filtered out — the read-side half of Cassandra TTL semantics
        (write side: :func:`operators.transforms.ttl_expiry`). Null
        expiry means the row never expires. The predicate is a plain
        Catalyst comparison, so it pushes down to the parquet scan.

        ``ts_between=(lo, hi)`` (datetimes; either side None for an
        open bound): keep rows whose event time lies in [lo, hi] — and,
        before any scan is planned, SKIP whole files whose manifest
        ``ts_min``/``ts_max`` stats (stamped at write time) cannot
        intersect the window: the time-scoped incremental-reader path
        over a huge table reads only the recent commits' files. File
        skipping is disabled per-bucket while the bucket carries
        unfolded MoR deltas (dropping a delta file could change which
        row WINS resolution, not just which rows match); the row-level
        predicate still applies after resolution, so results are always
        exactly filter-after-read.
        """
        return self._read_snapshot(
            self.manifest, buckets=buckets, include_deleted=include_deleted,
            include_internal=include_internal, as_of=as_of,
            ts_between=ts_between)

    def manifest_at(self, version: int) -> dict:
        """The committed manifest of ``version``, the one reader of a
        versioned manifest file; raises ``LookupError`` when that
        snapshot has been expired (``expire_versions``) or was never
        committed."""
        try:
            return json.loads(
                self.fs.read_text(_manifest_file(self.path, version)))
        except FileNotFoundError:
            raise LookupError(
                f"version {version} is not available on {self.path} "
                f"(expired by expire_versions, or never committed; "
                f"retained versions: {self.history()})") from None

    def read_version(
        self,
        version: int,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        include_internal: bool = False,
    ) -> DataFrame:
        """Time travel: the table exactly as of an earlier commit.

        The snapshot is read with ITS OWN schema (Iceberg semantics —
        a snapshot pins the schema id it was committed under), so a
        column renamed after ``version`` surfaces under its old name
        and columns added later are absent. Retention is governed by
        ``expire_versions(keep_last=...)``; reading an expired version
        raises ``LookupError`` rather than resurrecting partial state.

        Reference analog: the migrator has no lake-side history (a
        Cassandra origin is mutable in place); this is the Spark-lake
        feature that replaces its "re-run the copy to reproduce a past
        state" workflow.
        """
        return self._read_snapshot(
            self.manifest_at(version), buckets=buckets,
            include_deleted=include_deleted,
            include_internal=include_internal)

    def _read_snapshot(
        self,
        manifest: dict,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        include_internal: bool = False,
        as_of: Any | None = None,
        current: list[dict] | None = None,
        schemas: dict | None = None,
        ts_between: tuple[Any, Any] | None = None,
        resolve: bool = True,
    ) -> DataFrame:
        """Read any committed manifest. ``current``/``schemas`` override
        the field list the files are reconciled to (used by
        ``changes_between`` to align an old snapshot onto the newer
        snapshot's schema by column id).

        Merge-on-read resolution: when the selected buckets carry DELTA
        file entries (merge-on-read commits), the base and
        delta rows of each key are resolved to ONE stored winner here
        by :func:`_lww_winners` — the window every merge ranks with
        (ts desc, seq desc-nulls-last), with the delta's commit version
        (``dv``, base files = 0) as the tie-break so an exact duplicate
        replayed in a later delta loses to the earlier stored row.
        Pure-CoW snapshots skip the resolution entirely (no window node
        in the plan).

        ``resolve=False`` returns every stored row of the selected
        buckets UNRESOLVED, tombstones and internal columns included,
        with its ``_dv``: the input of a window that also ranks rows
        not yet stored (a merge's fold buckets, ``compact``)."""
        if schemas is None:
            schemas = manifest["schemas"]
        if current is None:
            current = schemas[str(manifest["schema_version"])]
        # group by (schema_version, delta-commit-version): each group is
        # one parquet scan; dv is attached as a literal column, so delta
        # files need no physical schema difference from base files.
        # Buckets WITHOUT unfolded deltas go in separate plain groups —
        # the resolution window below runs over the delta-carrying
        # buckets' rows ONLY, so one hot bucket's deltas never drag the
        # whole table through a shuffle+sort.
        plain_groups: dict[int, list[str]] = {}
        delta_groups: dict[tuple[int, int], list[str]] = {}
        sel = None if buckets is None else {int(b) for b in buckets}
        lo_us = hi_us = None
        if ts_between is not None:
            lo_us = _ts_bound_micros(ts_between[0])
            hi_us = _ts_bound_micros(ts_between[1])
        for b, entries in manifest["files"].items():
            if sel is not None and int(b) not in sel:
                continue
            bucket_has_delta = any(e.get("delta") for e in entries)
            # manifest-stats file skipping: only for buckets with no
            # unfolded deltas (a skipped delta could change the LWW
            # WINNER, not just the match set); entries without stats
            # are conservatively kept
            skippable = ts_between is not None and not bucket_has_delta
            for e in entries:
                if skippable and "ts_min" in e and (
                        (lo_us is not None and e["ts_max"] < lo_us)
                        or (hi_us is not None and e["ts_min"] > hi_us)):
                    continue
                path = _resolve_entry(self.path, e["path"])
                if bucket_has_delta or not resolve:
                    gk = (e["schema_version"], int(e.get("dv", 0)))
                    delta_groups.setdefault(gk, []).append(path)
                else:
                    plain_groups.setdefault(
                        e["schema_version"], []).append(path)
        out: DataFrame | None = None
        for sv, paths in sorted(plain_groups.items()):
            df = self._read_files_as_current(paths, sv, current,
                                             schemas=schemas)
            out = df if out is None else out.unionByName(df)
        if delta_groups:
            dpart: DataFrame | None = None
            for (sv, dv), paths in sorted(delta_groups.items()):
                df = self._read_files_as_current(
                    paths, sv, current, schemas=schemas) \
                    .withColumn(_DV, F.lit(dv))
                dpart = df if dpart is None else dpart.unionByName(df)
            if resolve:
                # LWW-resolve base ∪ deltas of the delta-carrying
                # buckets to one stored row per key. The key/ts columns
                # are located by FIELD ID in the output field list
                # (``current`` may carry renamed-forward names when
                # changes_between reconciles an old snapshot).
                own = schemas[str(manifest["schema_version"])]
                cfg = manifest["config"]
                dpart = _lww_winners(
                    dpart, _name_by_field_id(own, cfg["key_col"], current),
                    _name_by_field_id(own, cfg["ts_col"], current))
            out = dpart if out is None else out.unionByName(dpart)
        if out is None:
            dv = [] if resolve else [T.StructField(_DV, T.IntegerType())]
            out = self.spark.createDataFrame(
                [], T.StructType(list(_fields_to_schema(current).fields)
                                 + _internal_struct_fields() + dv)
            )
        if not resolve:
            return out
        if ts_between is not None:
            own = schemas[str(manifest["schema_version"])]
            ts_out = _name_by_field_id(own, manifest["config"]["ts_col"],
                                       current)
            # compared in the epoch-micros domain the file stats use, so
            # a naive bound means UTC here too, whatever the driver's TZ
            tsm = F.unix_micros(F.col(ts_out).cast("timestamp"))
            if lo_us is not None:
                out = out.filter(tsm >= F.lit(lo_us))
            if hi_us is not None:
                out = out.filter(tsm <= F.lit(hi_us))
        if not include_deleted:
            out = out.filter(~F.col(_DELETED))
        expires_col = manifest["config"].get("expires_col")
        if as_of is not None and expires_col is not None:
            ec = F.col(expires_col)
            # literal cast to the column's own type: timestamp_ntz
            # expiry columns stay ntz (no session-TZ coupling)
            etype = _fields_to_schema(current)[expires_col].dataType
            out = out.filter(ec.isNull() | (ec > F.lit(as_of).cast(etype)))
        if not include_internal:
            out = out.drop(*INTERNAL_COLS)
        return out

    def changes_between(
        self,
        v_from: int,
        v_to: int | None = None,
        change_col: str = "_change_type",
        with_ordering: bool = False,
    ) -> DataFrame:
        """Incremental changelog (CDC-out): the row-level changes between
        two committed snapshots, as a DataFrame in the ``v_to`` schema
        plus a ``change_col`` ∈ {'insert', 'update_postimage', 'delete'}.
        Insert/update rows carry the ``v_to`` image, delete rows the
        ``v_from`` pre-image. This is the downstream half of a CDC
        engine — the analog of an Iceberg incremental scan / Delta CDF
        read — letting consumers tail the lake table itself.

        Scale shape: buckets are copy-on-write, so a bucket untouched
        between the two versions has an IDENTICAL file list in both
        manifests and is pruned out here without scanning (driver-side
        manifest diff, no data I/O). Only changed buckets are read, and
        the two sides join on (bucket, key) — co-partitioned by
        construction, no broadcast needed, no full-table pass. A
        ``compact``/``overwrite`` between the versions rewrites files
        without changing rows; those buckets are scanned but emit no
        change rows (classification compares the stored LWW winner
        ``(ts, _seq)``, which a rewrite preserves).

        ``with_ordering=True`` appends ``_change_ts`` / ``_change_seq``
        — the LWW ordering of the change itself: for upserts the new
        winner's (ts, seq); for deletes the TOMBSTONE's, not the
        pre-image's. A downstream replica must merge on these (see
        ``streaming.changelog.changes_to_events``): applying a delete
        at the pre-image's older timestamp would lose against the very
        row it is supposed to remove.
        """
        v_to = self.version if v_to is None else int(v_to)
        v_from = int(v_from)
        if v_from > v_to:
            raise ValueError(f"v_from={v_from} is newer than v_to={v_to}")
        mt = self.manifest_at(v_to)
        cur = mt["schemas"][str(mt["schema_version"])]
        out_schema = T.StructType(
            list(_fields_to_schema(cur).fields)
            + [T.StructField(change_col, T.StringType(), False)]
            + ([T.StructField("_change_ts",
                              _fields_to_schema(cur)[self.ts_col].dataType),
                T.StructField("_change_seq", T.LongType())]
               if with_ordering else []))
        if v_from == v_to:
            return self.spark.createDataFrame([], out_schema)
        mf = self.manifest_at(v_from)
        changed = sorted(
            int(b) for b in set(mf["files"]) | set(mt["files"])
            if mf["files"].get(str(b)) != mt["files"].get(str(b)))
        if not changed:
            return self.spark.createDataFrame([], out_schema)
        # both sides reconciled (by column id) onto the v_to field list,
        # so renamed columns line up and later-added columns read null
        # on the old side; schemas accumulate monotonically, so mt's
        # registry covers every schema_version mf's files reference.
        old = self._read_snapshot(mf, buckets=changed, include_deleted=True,
                                  include_internal=True,
                                  current=cur, schemas=mt["schemas"]).alias("f")
        new = self._read_snapshot(mt, buckets=changed, include_deleted=True,
                                  include_internal=True).alias("t")
        key = self.key_col
        ts = self.ts_col
        j = old.join(
            new,
            on=[F.col(f"f.{_BUCKET}") == F.col(f"t.{_BUCKET}"),
                F.col(f"f.{key}") == F.col(f"t.{key}")],
            how="full_outer")
        # tombstones are stored rows (they carry delete LWW time); a key
        # is LIVE on a side iff present there and not tombstoned
        f_live = F.col(f"f.{key}").isNotNull() & ~F.col(f"f.{_DELETED}")
        t_live = F.col(f"t.{key}").isNotNull() & ~F.col(f"t.{_DELETED}")
        winner_moved = (
            ~F.col(f"f.{ts}").eqNullSafe(F.col(f"t.{ts}"))
            | ~F.col(f"f.{_SEQ}").eqNullSafe(F.col(f"t.{_SEQ}")))
        change = (
            F.when(~f_live & t_live, F.lit("insert"))
            .when(f_live & ~t_live, F.lit("delete"))
            .when(f_live & t_live & winner_moved,
                  F.lit("update_postimage")))
        is_delete = f_live & ~t_live
        cols = [
            F.when(is_delete, F.col(f"f.{f['name']}"))
            .otherwise(F.col(f"t.{f['name']}")).alias(f["name"])
            for f in cur
        ]
        extra = [F.col(change_col)]
        if with_ordering:
            # the change's own LWW ordering: the t-side stored row — the
            # new winner for upserts, the tombstone for deletes (the
            # t row always exists for a change; coalesce is belt-and-
            # braces for a hypothetical tombstone-GC'd side)
            extra += [
                F.coalesce(F.col(f"t.{ts}"), F.col(f"f.{ts}"))
                 .alias("_change_ts"),
                F.coalesce(F.col(f"t.{_SEQ}"), F.col(f"f.{_SEQ}"))
                 .alias("_change_seq"),
            ]
        return (j.withColumn(change_col, change)
                 .filter(F.col(change_col).isNotNull())
                 .select(*cols, *extra))

    def _read_files_as_current(
        self, paths: list[str], schema_version: int, current: list[dict],
        schemas: dict | None = None,
    ) -> DataFrame:
        old = (schemas or self.manifest["schemas"])[str(schema_version)]
        old_by_id = {f["id"]: f for f in old}
        physical = T.StructType(
            list(_fields_to_schema(old).fields) + _internal_struct_fields()
        )
        df = self.spark.read.schema(physical).parquet(*paths)
        cols = []
        for f in current:
            o = old_by_id.get(f["id"])
            if o is None:  # column added after these files were written
                cols.append(F.lit(None).cast(_parse_type(f["type"])).alias(f["name"]))
            else:          # possibly renamed and/or type-widened since
                cols.append(F.col(o["name"]).cast(_parse_type(f["type"])).alias(f["name"]))
        cols += [F.col(c) for c in INTERNAL_COLS]
        return df.select(*cols)

    # ------------------------------------------------------------- writing

    def _new_data_dir(self) -> tuple[str, str]:
        rel = f"data/e{self.version + 1:012d}_{uuid.uuid4().hex[:8]}"
        absdir = os.path.join(self.path, rel)
        return rel, absdir

    def _list_written_files(self, rel: str, absdir: str) -> dict[int, list[str]]:
        """Map bucket -> relative parquet paths under a freshly written dir."""
        out: dict[int, list[str]] = {}
        for entry in self.fs.listdir(absdir):
            if not entry.startswith(f"{_PB}="):
                continue
            b = int(entry.split("=", 1)[1])
            d = os.path.join(absdir, entry)
            for fn in self.fs.listdir(d):
                if fn.endswith(".parquet"):
                    out.setdefault(b, []).append(f"{rel}/{entry}/{fn}")
        return out

    def _commit(self, new_manifest: dict) -> None:
        _write_manifest(self.path, new_manifest, self.fs)
        self.manifest = new_manifest

    def _successor_manifest(self, stream_id: str | None = None,
                            epoch_id: int | None = None) -> dict:
        """THE draft of the next version, for every commit: a deep copy
        of the current manifest with the version bumped, the parent
        linked, the epoch key set, ``stream_id``'s fence advanced to
        ``epoch_id`` (never lowered) and an empty lineage; the caller
        adds what its commit changes."""
        m = copy.deepcopy({k: v for k, v in self.manifest.items()
                           if k != "lineage"})
        m.update(version=self.version + 1, parent=self.version,
                 epoch_key=_epoch_key(stream_id, epoch_id), lineage=[])
        if stream_id is not None and epoch_id is not None:
            m["epoch_fence"][stream_id] = max(
                epoch_id, m["epoch_fence"].get(stream_id, -1))
        return m

    def _fenced_skip(self, stream_id: str | None,
                     epoch_id: int | None) -> MergeResult | None:
        """The skipped result when ``(stream_id, epoch_id)`` is at or
        below the committed fence (an exactly-once replay), else None."""
        fence = self.manifest["epoch_fence"].get(stream_id)
        if fence is None or epoch_id is None or epoch_id > fence:
            return None
        return MergeResult(epoch_key=_epoch_key(stream_id, epoch_id),
                           skipped=True, version=self.version)

    def _retry_lost_race(
            self, attempt: Callable[[], MergeResult]) -> MergeResult:
        """Run ``attempt``, a merge that derives everything it commits
        from ``self.manifest`` (fence, fold set, watermark). When its
        commit loses the race for the next version, reload the winner's
        manifest and run it again, at most ``_COMMIT_ATTEMPTS`` times in
        all; the last loss re-raises. A reload that finds no newer
        version may catch a rival between its create and its ``LATEST``
        swing, so one is retried; the second in a row re-raises. The
        returned result counts the lost races in ``conflict_retries``."""
        retries = stalled = 0
        while True:
            try:
                result = attempt()
            except CommitConflict:
                retries += 1
                if retries == _COMMIT_ATTEMPTS:
                    raise
                lost_at = self.version
                self.refresh()
                stalled = stalled + 1 if self.version == lost_at else 0
                if stalled == 2:
                    raise
                continue
            result.conflict_retries = retries
            return result

    def _data_cols(self) -> list[str]:
        return [f["name"] for f in self.current_fields()
                if f["name"] not in (self.key_col, self.ts_col)]

    def overwrite(self, df: DataFrame,
                  buckets: list[int] | None = None) -> int:
        """Replace the table content (bootstrap / initial copy) with
        exactly the rows of ``df`` — no LWW window, rows stamped
        ``_seq = NULL`` so later real changes at equal ts still win.

        ``buckets`` scopes the replace to those buckets only (targeted
        repair — ``streaming.changelog.repair_replica``): their file
        lists are swapped for the new writes (a bucket with no input
        rows becomes empty), every other bucket's files are untouched,
        and input rows hashing OUTSIDE the scope are dropped with the
        same bucket expression the scope is defined by — the caller
        bucket-prunes its read, this guard just makes the contract
        unbreakable. Without ``buckets`` the scope is every bucket.

        The commit goes through the same tail as a merge, so seeds and
        repairs carry ``_ck``, per-bucket lineage and ts stats too.
        Input columns must match the current schema; key/ts must be
        non-null (caller quarantines — ``operators.filters``).
        """
        src = (
            df.select(*[f["name"] for f in self.current_fields()])
            .withColumn(_BUCKET, self.bucket_of(self.key_col))
            .withColumn(_DELETED, F.lit(False))
            .withColumn(_SEQ, F.lit(None).cast("long"))
        )
        if buckets is None:
            scope = list(range(self.n_buckets))
        else:
            scope = sorted({int(b) for b in buckets})
            src = src.filter(F.col(_BUCKET).isin(scope))
        return self._write_and_commit(
            src.repartition(self._write_partitions(len(scope)),
                            F.col(_BUCKET)), offsets={},
            touched=scope).version

    # ------------------------------------------------------------ the MERGE

    def merge_batch(
        self,
        source: DataFrame,
        op_col: str = "op",
        seq_col: str = "seq",
        stream_id: str | None = None,
        epoch_id: int | None = None,
        unset_nulls: bool = False,
        force_overwrite: bool = False,
        finalize: Any | None = None,
        probe: Probe | None = None,
        fold_min_deltas: int = 0,
    ) -> MergeResult:
        """LWW MERGE of a change batch into the table.

        Every merge is one plan: the batch rows and the stored rows of
        its FOLD buckets (only their manifest files are read) through
        one ``_bucket`` Exchange, which also serves the bucketed write,
        and one LWW window. A fold bucket is rewritten whole; any other
        touched bucket gets the batch winners appended as a delta. The
        table's ``merge_mode`` picks the fold set:

        - ``"cow"`` — copy-on-write: every touched bucket.
        - ``"mor"`` — merge-on-read: the buckets at ``fold_min_deltas``
          (below). The read path resolves deltas against base with the
          same LWW order (see ``_read_snapshot``). Same final state,
          write cost O(batch) instead of O(touched buckets), and
          ``finalize`` runs on batch winners only. ``force_overwrite``
          (autocorrect must beat equal-version stored rows, which the
          delta tie-break would keep) and ``unset_nulls`` (null columns
          inherit stored values) need the stored rows, so under them
          every touched bucket is folded, as in CoW.

        ``finalize``: optional ``DataFrame -> DataFrame`` applied to the
        merged WINNERS just before the write. This is where expensive
        derivations (e.g. the Arrow html→text extraction) belong: at K
        change events per key per epoch, running them pre-merge costs
        K× the work and ships the derived column through the shuffle;
        post-merge they run once per surviving row and the shuffle
        carries only raw inputs. The callable must preserve the table
        schema (it may fill columns, not add/remove them).

        ``probe``: this batch's :meth:`probe`, when the caller already
        ran it (over this batch, or over a frame it reaches by
        row-preserving steps plus a status filter). The merge then
        launches no probe job of its own; the caller unpersists it.

        ``fold_min_deltas`` (MoR delta merges; 0 = never): fold on
        write. Every bucket whose unfolded-delta depth, plus one if this
        batch touches it, reaches the threshold is folded IN THIS
        COMMIT instead of taking a delta that a second compaction pass
        would read back at once. The fold set comes from the manifest
        this merge commits against, so a conflict retry recomputes it.

        A commit lost to another writer is retried here (see the module
        docstring): the fence is checked again against the winner's
        manifest and the merge is planned and written again;
        ``MergeResult.conflict_retries`` counts the lost races. A
        ``force_overwrite`` merge is not retried: it would replace a
        rival's newer rows for its keys, so it raises
        :class:`CommitConflict`.

        Semantics (the engine's central operator — reference analogs
        S4/S5 upserts + J3 ``TargetUpsertStatement``, Cassandra LWW):

        - key = ``key_col``; version order = ``(ts_col, seq)``.
        - ``op`` ∈ {insert, update, delete}; deletes become persistent
          tombstones so a *late* update older than the delete loses,
          while a newer one wins (re-insert).
        - exact duplicate ``(key, ts, seq)`` of the stored winner → no
          change (idempotent replay).
        - ``unset_nulls=True``: null data columns in a newer event do
          not overwrite older non-null values (UNSET semantics,
          ``TargetInsertStatement.java:82-85``) — values never
          resurrect across a delete.
        - exactly-once: if ``(stream_id, epoch_id)`` is at or below the
          committed fence, the whole merge is a no-op.
        """
        own_probe = probe is None

        def attempt() -> MergeResult:
            nonlocal probe
            skipped = self._fenced_skip(stream_id, epoch_id)
            if skipped is not None:
                return skipped
            if probe is None:
                probe = self.probe(source, seq_col)
            if not probe.touched:
                return self._commit_empty_epoch(stream_id, epoch_id)
            hit = fold = set(probe.touched)
            if (self.merge_mode == "mor" and not force_overwrite
                    and not unset_nulls):
                depth = self.delta_file_counts()
                fold = {b for b in hit | set(depth) if fold_min_deltas
                        and depth.get(b, 0) + (b in hit) >= fold_min_deltas}
            merged = self._lww_merged(source, probe, op_col, seq_col,
                                      unset_nulls, force_overwrite,
                                      sorted(fold))
            if finalize is not None:
                merged = finalize(merged)
            return self._write_and_commit(
                merged, probe.offsets, sorted(hit | fold), stream_id,
                epoch_id, append=hit - fold)

        try:
            return (attempt() if force_overwrite
                    else self._retry_lost_race(attempt))
        finally:
            if own_probe and probe is not None:
                probe.unpersist()

    def _lww_merged(
        self, source: DataFrame, probe: Probe, op_col: str, seq_col: str,
        unset_nulls: bool, force_overwrite: bool, fold: Sequence[int],
    ) -> DataFrame:
        """The merge plan: the batch's LWW winners plus the merged state
        of the ``fold`` buckets, clustered by ``_bucket`` for the
        bucketed write — one Exchange and one LWW window for every
        merge (a CoW merge folds every touched bucket)."""
        schema_fields = self.current_fields()
        data_cols = self._data_cols()
        src = source
        # missing data columns in the batch → null (partial-row events)
        for f in schema_fields:
            if f["name"] not in src.columns:
                src = src.withColumn(f["name"],
                                     F.lit(None).cast(_parse_type(f["type"])))
        src = self._typed_source(src, seq_col, data_cols, op_col=op_col)

        n_events = probe.events
        if not unset_nulls and 0 < n_events <= _PREREDUCE_MAX_EVENTS:
            # LWW pre-reduction: drop intra-batch losers BEFORE the
            # payload shuffle. The probe's cached rollup already holds
            # the winning version per key; a broadcast join-back admits
            # only rows carrying that version. Rows that lose LWW within
            # the batch can never win against stored rows, so this is a
            # pure pre-filter: the window below sees identical winners,
            # ties (exact duplicate events) still collapse there, and
            # stored-row-wins-on-tie is untouched (base rows are never
            # pre-reduced). Cuts the fat-payload shuffle AND the window's
            # row buffering by the events-per-key factor — measured here
            # as the merge's dominant cost (UnsafeRow payload copies),
            # and on a real cluster it is the network shuffle itself.
            win = probe.winners()
            # null-safe on key and ts: a null-ts (or even null-key) event
            # must survive exactly as the window path would keep it
            cond = (
                F.col(self.key_col).eqNullSafe(F.col("_k"))
                & F.col(self.ts_col).eqNullSafe(F.col("_w._t"))
                & (F.coalesce(F.col(_SEQ), F.lit(_NO_SEQ))
                   == F.col("_w._s"))
            )
            # Force the broadcast only when the winner set is provably
            # small (its row count is bounded by the EVENT count). A
            # mostly-unique-key epoch near the prereduce gate would
            # have ~n_events winners — forcing F.broadcast there
            # bypasses autoBroadcastJoinThreshold and builds a multi-GB
            # hash relation on the driver and every executor. Past the
            # bound, leave the join unhinted: AQE sees the aggregated
            # side's ACTUAL runtime size and still broadcasts when it
            # is genuinely small (few distinct keys), else sort-merges
            # on the key — both strictly better than an OOM.
            if n_events <= _PREREDUCE_FORCE_BROADCAST_MAX_EVENTS:
                win = F.broadcast(win)
            src = src.join(win, cond, "inner").drop("_k", "_w")

        # The batch rows are the newest commit; one shuffle clusters them
        # by bucket with the fold buckets' stored rows, each carrying the
        # commit version that stored it. The window collapses exact
        # (key, ts, seq) replay copies the prereduction keeps (a delta
        # holds at most one row per key, as read resolution and
        # changes_between rely on) and brings each fold bucket out whole.
        rows = src.withColumn(_DV, F.lit(self.version + 1))
        if fold:
            # UNSET carries values from each key's RESOLVED stored row:
            # a superseded value must not fill a newer stored null
            stored = self._read_snapshot(
                self.manifest, buckets=list(fold), include_deleted=True,
                include_internal=True, resolve=unset_nulls)
            if unset_nulls:
                stored = stored.withColumn(_DV, F.lit(0))
            if force_overwrite:
                # autocorrect: the source IS the truth for its keys, so
                # their stored rows go regardless of LWW order (reference
                # re-upsert, DiffJobSession.java:255-258); the key set
                # comes from the probe's cache, not another source scan
                stored = stored.join(probe.keys(self.key_col),
                                     self.key_col, "left_anti")
            rows = rows.unionByName(stored)
        rows = rows.repartition(
            self._write_partitions(len({*probe.touched, *fold})),
            F.col(_BUCKET))

        if unset_nulls:
            # running last-non-null per delete-generation: an update's
            # null column means "leave previous value", but values never
            # resurrect across a tombstone. Ordered as the LWW window
            # reversed, so the stored row is last on an exact tie.
            order = (F.col(self.ts_col).asc(), F.col(_SEQ).asc_nulls_first(),
                     F.col(_DV).desc())
            upto = (Window.unboundedPreceding, 0)
            rows = rows.withColumn("_gen", F.sum(
                F.when(F.col(_DELETED), 1).otherwise(0)).over(
                Window.partitionBy(_BUCKET, self.key_col).orderBy(*order)
                .rowsBetween(*upto)))
            genw = Window.partitionBy(_BUCKET, self.key_col, "_gen") \
                .orderBy(*order).rowsBetween(*upto)
            for c in data_cols:
                rows = rows.withColumn(c, F.last(c, ignorenulls=True).over(genw))
            rows = rows.drop("_gen")
        return _lww_winners(rows, self.key_col, self.ts_col)

    def _commit_empty_epoch(self, stream_id: str | None,
                            epoch_id: int | None) -> MergeResult:
        """An epoch whose batch is empty (e.g. every row skipped or
        quarantined) still advances the fence with a metadata-only
        commit: otherwise a checkpoint redelivery of the same epoch
        would re-run its side effects (double-counted reject counters).
        """
        if stream_id is None or epoch_id is None:
            return MergeResult(epoch_key=_epoch_key(stream_id, epoch_id),
                               skipped=False, version=self.version)
        m = self._successor_manifest(stream_id, epoch_id)
        self._commit(m)
        return MergeResult(epoch_key=m["epoch_key"], skipped=False,
                           version=m["version"])

    def _typed_source(
        self, source: DataFrame, seq_col: str, data_cols: Sequence[str] = (),
        op_col: str | None = None, keep: Sequence[str] = (),
    ) -> DataFrame:
        """``source`` projected to the table's registered types: key,
        ts, ``data_cols``, ``_SEQ`` and ``_BUCKET``, plus ``_DELETED``
        from ``op_col`` and the ``keep`` columns as they are.

        The cast is a no-op (erased by SimplifyCasts) when the types
        already match, a lossless promotion for narrower events, and a
        LOUD ANSI overflow error for wider-than-schema values — without
        it, a wider event column union-coerces the whole merge frame and
        the written files' physical type contradicts the table schema,
        breaking every later read of the bucket."""
        typed = {f["name"]: _parse_type(f["type"])
                 for f in self.current_fields()}
        return source.select(
            F.col(self.key_col).cast(typed[self.key_col]),
            F.col(self.ts_col).cast(typed[self.ts_col]),
            *[F.col(c).cast(typed[c]).alias(c) for c in data_cols],
            # null-safe: an event with a null op is an upsert, never a
            # NULL tombstone flag that read()'s ~_deleted would drop
            *([F.col(op_col).eqNullSafe("delete").alias(_DELETED)]
              if op_col is not None else []),
            F.col(seq_col).cast("long").alias(_SEQ),
            *keep,
        ).withColumn(_BUCKET, self.bucket_of(self.key_col))

    def probe(self, source: DataFrame, seq_col: str = "seq",
              status_col: str | None = None) -> Probe:
        """THE probe of a change batch: one persisted per-(bucket, key)
        rollup over the batch's typed key/ts/seq columns (payloads are
        pruned), re-aggregated per bucket into the touched buckets and
        the lineage offsets ``(min_seq, max_seq, events)``. The same
        cache then serves the merge's pre-reduction join-back (the
        per-key winner version) and ``force_overwrite``'s key set, so
        the merge reads its source once more only in its write job.

        ``status_col`` names a column that is null on the rows the
        merge will receive and holds a reject label otherwise (the
        pipeline's skipped/quarantined tags): the labels are counted in
        ``Probe.rejects`` from the same job. The caller unpersists the
        returned probe."""
        status = [status_col] if status_col is not None else []
        src = self._typed_source(source, seq_col, keep=status)
        # clustered by bucket: the rollup's partitioning then already
        # satisfies the per-bucket re-aggregation below, which runs over
        # the cache with no second shuffle (one Spark job fewer per
        # probe than hashing on (bucket, key); the thin key/ts/seq rows
        # shuffle without a map-side combine)
        perkey = (
            src.repartition(F.col(_BUCKET))
            .groupBy(*status, F.col(_BUCKET).alias("_b"),
                     F.col(self.key_col).alias("_k"))
            .agg(F.max(lww_version(F.col(self.ts_col), F.col(_SEQ)))
                  .alias("_w"),
                 F.min(_SEQ).alias("mn"), F.max(_SEQ).alias("mx"),
                 F.count("*").alias("n"))
            .persist())
        offsets: dict[int, dict] = {}
        rejects: dict[str, int] = {}
        for r in (perkey.groupBy(*status, "_b")
                  .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"),
                       F.sum("n").alias("n"))
                  .collect()):
            label = r[status_col] if status_col is not None else None
            if label is None:
                offsets[r["_b"]] = {"min_seq": r["mn"], "max_seq": r["mx"],
                                    "events": int(r["n"])}
            else:
                rejects[label] = rejects.get(label, 0) + int(r["n"])
        return Probe(perkey, sorted(offsets), offsets, rejects, status_col)

    def _write_and_commit(
        self,
        merged: DataFrame,
        offsets: dict[int, dict],
        touched: list[int],
        stream_id: str | None = None,
        epoch_id: int | None = None,
        counter_watermark: tuple[str, int] | None = None,
        append: Collection[int] = (),
    ) -> MergeResult:
        """THE commit tail of every write (merges, compaction, seeds and
        repairs): bucketed write (no extra shuffle — ``merged`` is
        already clustered by ``_bucket``), per-bucket lineage/checksum
        rows, atomic manifest commit with the epoch fence advanced (and,
        for watermarked counter merges, the per-stream seq high-
        watermark recorded in the SAME atomic commit — the watermark can
        never run ahead of or behind the data it fences).

        ``touched`` is the write scope: each listed bucket's file list
        becomes this commit's files for it (the bucket leaves the
        manifest when it got no rows), except for the buckets in
        ``append`` (a merge-on-read delta): their new files are APPENDED
        to the bucket's entry list, flagged ``{"delta": true, "dv":
        <this commit's version>}``, and their lineage/checksum rows
        cover the DELTA rows this commit wrote (not the bucket's
        resolved state — the recomputing :meth:`checksums` is the
        state-level check). One commit can do both: an MoR merge folds
        some buckets and appends deltas to the others."""
        epoch_key = _epoch_key(stream_id, epoch_id)
        rel, absdir = self._new_data_dir()
        # already clustered by _bucket: the partitionBy(_PB) write
        # splits per-bucket dirs with no extra shuffle, and each
        # bucket still lands in exactly one file. The per-row checksum
        # is computed inline here (codegen'd xxhash64) and persisted as
        # a thin internal column.
        ck = F.when(~F.col(_DELETED),
                    row_checksum_expr(*hash_safe_cols(
                        merged.schema,
                        [self.key_col, self.ts_col, *self._data_cols()]))) \
             .otherwise(F.lit(0)).cast("long")
        written = merged.withColumn(_CK, ck).withColumn(_PB, F.col(_BUCKET))
        written.write.partitionBy(_PB).parquet(absdir)
        files = self._list_written_files(rel, absdir)

        # per-bucket lineage (row count, order-insensitive XOR checksum,
        # applied-event offsets — reference run_details analog), computed
        # from the files just written so the checksum covers what is
        # actually durable on disk. Reads ONLY (_bucket, _deleted, _ck):
        # a column-pruned parquet scan that never touches payloads —
        # the per-epoch lineage cost is O(rows) over 13 bytes/row, not
        # a full re-read. The scan takes the file list above and the
        # written types as an explicit schema, so it runs no footer-
        # inference job and lists no directory. A write of zero rows (a
        # scoped overwrite clearing its buckets) leaves no file: nothing
        # to scan.
        aggs = [
            F.sum(F.when(~F.col(_DELETED), 1).otherwise(0)).alias("live_rows"),
            F.count("*").alias("rows_with_tombstones"),
            F.bit_xor(F.col(_CK)).alias("checksum"),
        ]
        # per-bucket event-time range of THIS commit's files, as epoch
        # micros (session tz is pinned UTC; NTZ reinterprets losslessly)
        # — stamped on the manifest file entries so time-scoped reads
        # can skip whole files (Iceberg column-stats pruning). Widens
        # the lineage scan from 3 to 4 thin columns; still no payloads.
        with_ts_stats = next(
            f["type"] for f in self.current_fields()
            if f["name"] == self.ts_col) in ("timestamp", "timestamp_ntz")
        if with_ts_stats:
            tsm = F.unix_micros(F.col(self.ts_col).cast("timestamp"))
            aggs += [F.min(tsm).alias("_ts_min"),
                     F.max(tsm).alias("_ts_max")]
        thin_cols = [_BUCKET, _DELETED, _CK] + (
            [self.ts_col] if with_ts_stats else [])
        thin = T.StructType([written.schema[c] for c in thin_cols])
        paths = [os.path.join(self.path, p)
                 for ps in files.values() for p in ps]
        ts_stats: dict[int, tuple[int, int]] = {}
        lineage_rows = []
        summary = (self.spark.read.schema(thin).parquet(*paths)
                   .groupBy(F.col(_BUCKET)).agg(*aggs).collect()
                   if paths else [])
        for r in summary:
            d = r.asDict()
            if with_ts_stats:
                lo, hi = d.pop("_ts_min"), d.pop("_ts_max")
                if lo is not None and hi is not None:
                    ts_stats[d[_BUCKET]] = (int(lo), int(hi))
            if d.get("checksum") is not None:
                d["checksum"] = int(d["checksum"])
            off = offsets.get(d[_BUCKET], {})
            lineage_rows.append({
                **d,
                "min_seq": off.get("min_seq"),
                "max_seq": off.get("max_seq"),
                "events": off.get("events"),
                "epoch_key": epoch_key, "version": self.version + 1,
                **({"delta": True} if d[_BUCKET] in append else {}),
            })
        counters = {
            "events": int(sum(l.get("events") or 0 for l in lineage_rows)),
            "buckets": len(touched),
            "live_rows_touched": int(sum(l["live_rows"] for l in lineage_rows)),
        }

        m = self._successor_manifest(stream_id, epoch_id)
        for b in touched:
            stats = ts_stats.get(b)
            new_entries = [
                {"path": p, "schema_version": self.schema_version,
                 **({"delta": True, "dv": m["version"]}
                    if b in append else {}),
                 **({"ts_min": stats[0], "ts_max": stats[1]}
                    if stats is not None else {})}
                for p in files.get(b, [])
            ]
            if b in append:
                m["files"].setdefault(str(b), []).extend(new_entries)
            elif new_entries:
                m["files"][str(b)] = new_entries
            else:  # a replaced bucket left without rows holds no files
                m["files"].pop(str(b), None)
        if counter_watermark is not None:
            sid, new_wm = counter_watermark
            wms = m.setdefault("counter_watermarks", {})
            wms[sid] = max(int(new_wm), int(wms.get(sid, new_wm)))
        m["lineage"] = lineage_rows
        # monotone: has ANY commit ever written tombstone rows? Cheap
        # durable gate for readers that only need to consult deleted
        # rows when some exist (e.g. the explode delete-fanout guard) —
        # the per-commit lineage above covers only THIS commit's
        # buckets, so it cannot answer "ever" by itself. Compaction may
        # later purge tombstones; the flag stays conservatively true.
        m["ever_tombstones"] = bool(self.manifest.get("ever_tombstones")) \
            or any((ln["rows_with_tombstones"] or 0) > (ln["live_rows"] or 0)
                   for ln in lineage_rows)
        self._commit(m)
        return MergeResult(
            epoch_key=epoch_key, skipped=False, touched_buckets=touched,
            counters=counters, lineage=lineage_rows, version=m["version"],
        )

    # ------------------------------------------------- counter-table MERGE

    def counter_watermark(self, stream_id: str) -> int | None:
        """Highest event seq already applied to this counter stream
        (None before the first watermarked merge)."""
        return self.manifest.get("counter_watermarks", {}).get(stream_id)

    def merge_counter_batch(
        self,
        source: DataFrame,
        counter_cols: list[str] | None = None,
        seq_col: str = "seq",
        stream_id: str | None = None,
        epoch_id: int | None = None,
        watermark: bool = False,
    ) -> MergeResult:
        """Additive counter merge: ``stored = stored + Σ(deltas)`` per key.

        Reference analogs: the counter UPDATE path
        (``cql/statement/TargetUpdateStatement.java:42-144`` — ``SET
        counter = counter + ?`` with the delta computed origin−target)
        and its read-before-write lookup (J2,
        ``job/CopyJobSession.java:149-158``). The N async point lookups
        become one bucket-pruned union + sum aggregation; the epoch
        fence is what makes increments safe under at-least-once
        redelivery (re-applying a counter batch would corrupt values —
        Cassandra has the same non-idempotence caveat, which is why the
        reference forces batchSize=1 for counters,
        ``schema/CqlTable.java:202-209``).

        ``watermark=True`` (requires ``stream_id``) switches from the
        whole-run epoch fence to a per-stream SEQ HIGH-WATERMARK kept in
        the manifest (``counter_watermarks``), mirroring how the epoch
        fence already works: only events with ``seq >`` the stored
        watermark apply, the epoch id auto-advances past the fence, and
        the commit records the new ``max(seq)`` atomically with the
        data. A byte-identical replay filters to zero events and no-ops
        (``skipped=True``); a GROWN log applies exactly the new tail —
        the incremental-apply path a fence alone cannot offer. Events
        must carry a totally-ordered non-null ``seq`` (null seqs never
        satisfy ``seq > wm`` and are dropped once a watermark exists).

        Counter-table shape mirrors Cassandra's restriction: every
        non-key data column must be a counter (``counter_cols`` defaults
        to all data columns). ``ts_col`` tracks ``max`` event time per
        key. Same single-shuffle plan as ``merge_batch``: cluster by
        bucket, then a (bucket, key) aggregation that reuses the
        clustering. A lost commit race is retried as in ``merge_batch``,
        with the fence and the watermark read again from the winner's
        manifest, so a rival's apply of the same increments is never
        added twice.
        """
        if self.merge_mode == "mor":
            # counters are read-before-write (stored + Σdelta); a delta
            # append cannot express that and read-time LWW resolution
            # would pick one row instead of summing. CoW-only, loudly.
            raise ValueError(
                "counter merges are read-before-write and CoW-only; "
                "create counter tables with merge_mode='cow'")
        if watermark and stream_id is None:
            raise ValueError("watermark mode requires a stream_id")

        def attempt() -> MergeResult:
            src, eid, wm = source, epoch_id, None
            if watermark:
                wm = self.counter_watermark(stream_id)
                fence = self.manifest["epoch_fence"].get(stream_id)
                if wm is not None:
                    src = src.filter(watermark_tail_predicate(seq_col, wm))
                elif fence is not None:
                    # LEGACY-FENCE GUARD: this stream was loaded by a
                    # pre-watermark (fence-only) counter merge — the
                    # fence proves a prior apply happened but records
                    # nothing about its seq extent, so re-applying the
                    # current log would double-add every increment it
                    # shares with the original one. Refuse to guess:
                    # apply nothing, record nothing (inventing a
                    # watermark from the CURRENT log would wrongly bless
                    # any tail the old apply never saw). The convergent
                    # paths are `validate --counter --autocorrect`
                    # (origin−target deltas) or a fresh stream_id
                    # against an empty table.
                    return MergeResult(
                        epoch_key=_epoch_key(stream_id, fence),
                        skipped=True, skip_reason="legacy-fence",
                        version=self.version)
                # the fence stays monotone but never blocks a
                # watermarked merge — idempotence comes from the seq
                # filter itself
                eid = (-1 if fence is None else fence) + 1
            skipped = self._fenced_skip(stream_id, eid)
            if skipped is not None:
                return skipped

            data_cols = self._data_cols()
            cols = list(counter_cols or data_cols)
            extra = set(data_cols) - set(cols)
            if extra:
                raise ValueError(
                    f"counter table may only contain counter columns; "
                    f"non-counter data columns: {sorted(extra)}")

            # same schema-is-the-contract cast as merge_batch: no-op
            # when types match, loud ANSI overflow when a delta exceeds
            # the registered counter type
            typed = self._typed_source(src, seq_col, cols)
            # only the bucket-level result is used: counters never
            # pre-reduce
            probe = self.probe(src, seq_col)
            probe.unpersist()
            touched, offsets = probe.touched, probe.offsets
            if not touched:
                if watermark:
                    # nothing past the watermark: a byte-identical
                    # replay — true no-op, no empty-epoch commit (the
                    # watermark already proves this tail applied)
                    return MergeResult(epoch_key=_epoch_key(stream_id, eid),
                                       skipped=True, skip_reason="watermark",
                                       version=self.version)
                return self._commit_empty_epoch(stream_id, eid)
            wm_update = None
            if watermark:
                seqs = [o["max_seq"] for o in offsets.values()
                        if o.get("max_seq") is not None]
                if not seqs:
                    raise ValueError(
                        "watermark mode requires events with a non-null "
                        f"{seq_col!r} (the watermark IS the applied-seq "
                        "frontier)")
                wm_update = (stream_id, max(seqs) if wm is None
                             else max(max(seqs), wm))

            # stored rows contribute their current value as the base
            # term; tombstones previously written to a touched bucket
            # (by merge_batch on the same table) are carried through
            # UNCHANGED — the bucket rewrite must not discard them, or a
            # late pre-delete update replayed later via merge_batch
            # could resurrect the key.
            stored = self.read(buckets=touched, include_deleted=True,
                               include_internal=True)
            out_cols = [self.key_col, self.ts_col, *cols,
                        _BUCKET, _DELETED, _SEQ]
            tombstones = stored.filter(F.col(_DELETED)).select(*out_cols)
            base = stored.filter(~F.col(_DELETED)).select(typed.columns)
            merged = (
                base.unionByName(typed)
                .repartition(self._write_partitions(len(touched)),
                             F.col(_BUCKET))
                # grouping by (_bucket, key): the bucket clustering
                # satisfies the aggregation's required distribution →
                # local-only agg
                .groupBy(F.col(_BUCKET), F.col(self.key_col))
                .agg(*[F.sum(c).alias(c) for c in cols],
                     F.max(self.ts_col).alias(self.ts_col),
                     F.max(_SEQ).alias(_SEQ))
                .withColumn(_DELETED, F.lit(False))
                .select(*out_cols)
                .unionByName(tombstones)
            )
            return self._write_and_commit(
                merged, offsets, touched, stream_id, eid,
                counter_watermark=wm_update)

        return self._retry_lost_race(attempt)

    # ---------------------------------------------------- schema evolution

    def add_column(self, name: str, type_ddl: str) -> None:
        """Add a nullable column (new field id) — metadata-only commit."""
        if name in [f["name"] for f in self.current_fields()]:
            raise ValueError(f"column {name!r} exists")
        fid = self.manifest["next_field_id"]
        self._bump_schema(
            [*self.current_fields(),
             {"id": fid, "name": name, "type": type_ddl, "nullable": True}],
            next_field_id=fid + 1)

    def rename_column(self, old: str, new: str) -> None:
        """Rename a column keeping its field id — old files keep working."""
        names = [f["name"] for f in self.current_fields()]
        if old not in names:
            raise ValueError(f"no column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} exists")
        self._bump_schema(
            [{**f, "name": new} if f["name"] == old else f
             for f in self.current_fields()],
            config={k: new for k in ("key_col", "ts_col")
                    if self.manifest["config"][k] == old})

    def drop_column(self, name: str) -> None:
        """Drop a data column — metadata-only commit (Iceberg drop
        semantics): the field leaves the CURRENT field list, existing
        files keep their bytes, and the id-based read reconciliation
        simply stops selecting it. Time travel to a pre-drop version
        still shows the column (that snapshot pins its own schema);
        re-ADDING the same name later gets a FRESH field id, so old
        values never leak back into the new column. The key, ts, and
        expires columns cannot be dropped (the table's contract depends
        on them)."""
        fields = self.current_fields()
        if name not in [f["name"] for f in fields]:
            raise ValueError(f"no column {name!r}")
        protected = {self.key_col, self.ts_col, self.expires_col} - {None}
        if name in protected:
            raise ValueError(
                f"cannot drop {name!r}: key/ts/expiry columns are the "
                f"table's contract")
        self._bump_schema([f for f in fields if f["name"] != name])

    # safe widenings: every old value is exactly representable in the
    # new type, so files written before the change read back unchanged
    # through the reconciliation cast (Iceberg's type-promotion table)
    _WIDENINGS = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"), ("float", "double"),
        ("int", "double"), ("smallint", "double"), ("tinyint", "double"),
        ("date", "timestamp_ntz"),
    }

    def widen_column(self, name: str, new_type: str) -> None:
        """Widen a column's type in place — metadata-only commit. Only
        lossless promotions are allowed (``_WIDENINGS``); old files are
        reconciled by the existing per-file cast to the CURRENT type
        (``_read_files_as_current``), so no rewrite happens and every
        stored value reads back equal. Narrowing or cross-family casts
        are refused: they would silently corrupt history."""
        new_type = new_type.strip().lower()
        f = next((f for f in self.current_fields() if f["name"] == name),
                 None)
        if f is None:
            raise ValueError(f"no column {name!r}")
        old_type = f["type"].strip().lower()
        if old_type == new_type:
            return
        if (old_type, new_type) not in self._WIDENINGS:
            raise ValueError(
                f"refusing {old_type} -> {new_type} for {name!r}: not a "
                f"lossless widening ({sorted(self._WIDENINGS)})")
        self._bump_schema(
            [{**g, "type": new_type} if g is f else g
             for g in self.current_fields()])

    def _bump_schema(self, fields: list[dict], config: dict | None = None,
                     next_field_id: int | None = None) -> None:
        """Metadata-only commit of ``fields`` as the next schema version
        (with the given ``config`` entries and field-id counter); like
        every commit that writes no data, it carries an empty lineage."""
        m = self._successor_manifest()
        m["config"].update(config or {})
        if next_field_id is not None:
            m["next_field_id"] = next_field_id
        m["schema_version"] = self.schema_version + 1
        m["schemas"][str(m["schema_version"])] = fields
        self._commit(m)

    # ------------------------------------------------------------ utility

    def checksums(self) -> DataFrame:
        """Per-bucket ``(bucket, row_count, checksum)`` over live rows."""
        return bucket_checksums(
            self.read(include_internal=True),
            [self.key_col, self.ts_col, *self._data_cols()])

    def lineage_rows(self) -> list[dict]:
        return self.manifest.get("lineage", [])

    # --------------------------------------------------- maintenance
    # The reference never needed these — Cassandra compacts and expires
    # for you. This engine owns the lake format, so it owns the two
    # operational jobs a CoW table needs: snapshot expiry (bounded
    # storage) and small-file compaction (bounded file counts). Both are
    # metadata-plane driver work except the compaction rewrite itself,
    # which is a distributed bucket-pruned read+write like any merge.

    def expire_versions(self, keep_last: int = 1) -> dict[str, int]:
        """Delete manifests older than the newest ``keep_last`` and every
        data file no retained manifest references (vacuum).

        CoW merges rewrite each touched bucket into a new data dir per
        epoch; without expiry, storage grows with every commit forever.
        Retained manifests keep time travel over the recent window;
        everything else is GC'd. Safe under the single-writer
        assumption: readers of the CURRENT snapshot never touch expired
        files (the live manifest is always retained), and a concurrent
        reader pinned to an expired version is the same trade-off
        Iceberg's ``expireSnapshots`` makes.

        Driver cost is file *listing*, not data: one listdir pass over
        the data dirs (the same metadata plane the commit itself uses).
        Returns counts: ``{"manifests_removed", "files_removed",
        "files_kept"}``.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self.history()
        keep = set(versions[-keep_last:])
        keep.add(self.version)  # never expire the live snapshot
        referenced: set[str] = set()
        for v in sorted(keep):
            for entries in self.manifest_at(v)["files"].values():
                referenced.update(e["path"] for e in entries)

        def _is_referenced(d: str, pb: str, fn: str) -> bool:
            if f"data/{d}/{pb}/{fn}" in referenced:
                return True
            # Hadoop checksum sidecar (".<name>.crc") of a kept file
            if fn.startswith(".") and fn.endswith(".crc"):
                return f"data/{d}/{pb}/{fn[1:-4]}" in referenced
            return False

        files_removed = 0
        data_root = os.path.join(self.path, "data")
        for d in self.fs.listdir(data_root):
            sub = os.path.join(data_root, d)
            if not self.fs.isdir(sub):
                continue
            dir_live = False
            for pb in self.fs.listdir(sub):
                pbdir = os.path.join(sub, pb)
                if not self.fs.isdir(pbdir):
                    continue
                kept_any = False
                for fn in self.fs.listdir(pbdir):
                    if _is_referenced(d, pb, fn):
                        kept_any = True
                        continue
                    self.fs.delete(os.path.join(pbdir, fn))
                    files_removed += 1
                if kept_any:
                    dir_live = True
                else:
                    self.fs.rmdir(pbdir)
            if not dir_live:
                # whole commit dir expired: drop its write markers too
                for fn in self.fs.listdir(sub):
                    p = os.path.join(sub, fn)
                    if not self.fs.isdir(p):
                        self.fs.delete(p)
                self.fs.rmdir(sub)

        manifests_removed = 0
        for v in versions:
            if v not in keep:
                self.fs.delete(_manifest_file(self.path, v))
                manifests_removed += 1
        return {"manifests_removed": manifests_removed,
                "files_removed": files_removed,
                "files_kept": len(referenced)}

    def compact(self, buckets: list[int] | None = None,
                min_files: int = 2) -> MergeResult | None:
        """Rewrite fragmented buckets so each holds one file again.

        Every epoch's CoW write adds files only for *touched* buckets,
        but a long-lived table accumulates buckets whose file list grew
        via partial rewrites plus old-schema stragglers — and, on
        merge-on-read tables, per-epoch DELTA files. Compaction FOLDS
        deltas: the stored rows run unresolved through the bucketed
        write's own LWW window (:func:`_lww_winners`, the one every
        merge ranks with), so the rewritten bucket is one plain base
        file again after a single Exchange (delta-carrying buckets
        always qualify for selection regardless of file count).
        This is the MoR maintenance loop: merges stay O(batch), reads
        pay a bounded resolution window, compact amortizes it away.
        Compaction
        reads the selected buckets (tombstones included — they carry
        delete semantics for late events and MUST survive), rewrites
        them clustered one-file-per-bucket under the CURRENT schema, and
        commits a new snapshot. No row changes: same LWW state,
        checksums recomputed over identical values. Run
        :meth:`expire_versions` afterwards to reclaim the old files.

        ``buckets=None`` selects every bucket holding ≥ ``min_files``
        files (or any file on an old schema version). Returns the
        commit's MergeResult, or None if nothing qualified.
        """
        if buckets is None:
            buckets = [
                int(b) for b, entries in self.manifest["files"].items()
                if len(entries) >= min_files
                or any(e["schema_version"] != self.schema_version
                       for e in entries)
                or any(e.get("delta") for e in entries)
            ]
        buckets = sorted(set(int(b) for b in buckets))
        if not buckets:
            return None
        rows = self._read_snapshot(
            self.manifest, buckets=buckets, resolve=False).repartition(
            self._write_partitions(len(buckets)), F.col(_BUCKET))
        # nothing to resolve without deltas: a plain rewrite skips the sort
        if set(buckets) & self.delta_file_counts().keys():
            rows = _lww_winners(rows, self.key_col, self.ts_col)
        return self._write_and_commit(rows.drop(_DV), offsets={},
                                      touched=buckets)

    def clone_to(self, path: str, version: int | None = None,
                 fs: Any | None = None) -> "LakeTable":
        """Zero-copy (shallow) clone: a NEW table at ``path`` whose
        first manifest references this table's data files in place.

        The dev/test fork story for a large table — O(manifest) cost,
        no data movement. Inherited file entries carry ABSOLUTE paths
        (the read path's ``os.path.join(self.path, entry)`` returns an
        absolute entry unchanged), so:

        - reads resolve to the source's files;
        - the clone's own merges CoW-replace touched buckets with
          clone-local files — divergence is natural and the source is
          never written;
        - the clone's ``expire_versions`` only walks the CLONE's data
          dir, so it can never delete source files (safe by
          construction, not by bookkeeping);
        - the SOURCE's ``expire_versions``/``compact`` does not know
          about clones — vacuuming the source can break a shallow
          clone's inherited references. Same caveat as Delta shallow
          clones / Iceberg snapshot refs; run :meth:`localize` on the
          clone first when the source's retention is shorter than the
          clone's life.

        The schema registry (field ids) is copied, so the clone keeps
        id-based evolution over inherited files. The epoch fence and
        counter watermarks are RESET — a clone is a new stream domain
        (replaying an already-applied epoch into it is the idempotent
        LWW case, not a fence violation). Lineage starts empty; the
        clone's checksums recompute on its own first commit. Both
        tables must live on the same filesystem scheme.

        Reference analog: the migrator forks a dataset by re-running
        the whole copy (``Migrate.java``); this is the lake-native
        O(1)-data equivalent.
        """
        m = self.manifest_at(self.version if version is None
                             else int(version))
        fs = fs if fs is not None else get_fs(path)
        if LakeTable.exists(path, fs):
            raise ValueError(f"clone target {path!r} already exists")
        files = {
            b: [{**e, "path": _resolve_entry(self.path, e["path"])}
                for e in entries]
            for b, entries in m["files"].items()
        }
        new = {
            # the clone's history starts AT the source's version, not 1:
            # inherited MoR delta entries keep their source ``dv``
            # values, and the read-time tie-break (_DV asc = older
            # commit wins) is only correct if every NEW clone commit
            # gets a dv strictly greater than every inherited one.
            # Restarting at 1 would let a replayed duplicate in the
            # clone's first merges BEAT (or collide with) an inherited
            # stored row of the same (ts, seq).
            "version": m["version"],
            "parent": None,
            "cloned_from": {"table": self.path, "version": m["version"]},
            "config": json.loads(json.dumps(m["config"])),
            "schema_version": m["schema_version"],
            "schemas": json.loads(json.dumps(m["schemas"])),
            "next_field_id": m["next_field_id"],
            "files": files,
            "epoch_fence": {},
            "lineage": [],
            "ever_tombstones": bool(m.get("ever_tombstones")),
        }
        _first_commit(path, new, fs)
        return LakeTable(self.spark, path, fs=fs)

    def external_buckets(self) -> list[int]:
        """Buckets whose current file list still references files
        OUTSIDE this table's directory (inherited via :meth:`clone_to`
        and not yet rewritten by a merge or compaction)."""
        return sorted(
            int(b) for b, entries in self.manifest["files"].items()
            if any(_is_abs(e["path"]) for e in entries)
        )

    def localize(self) -> MergeResult | None:
        """Break a shallow clone's dependency on its source: compact
        exactly the buckets still referencing external files, rewriting
        them clone-locally (same rows, same LWW state). After this the
        source can be vacuumed or deleted without affecting the clone.
        Returns the compaction commit, or None when already local."""
        ext = self.external_buckets()
        if not ext:
            return None
        return self.compact(buckets=ext)

    def history(self) -> list[int]:
        d = os.path.join(self.path, _MANIFESTS)
        return sorted(
            int(fn[1:-5]) for fn in self.fs.listdir(d)
            if fn.startswith("v") and fn.endswith(".json")
        )


def _first_commit(path: str, manifest: dict, fs: Any) -> None:
    """Lay out a new table directory and commit its first manifest."""
    fs.makedirs(os.path.join(path, _MANIFESTS))
    fs.makedirs(os.path.join(path, "data"))
    _write_manifest(path, manifest, fs)


def _write_manifest(path: str, manifest: dict, fs: Any) -> None:
    """Two-step atomic commit through the FS seam: exclusive-create the
    immutable versioned manifest (conflict detector), then atomically
    swing the LATEST pointer."""
    try:
        fs.create_exclusive(_manifest_file(path, manifest["version"]),
                            json.dumps(manifest))
    except FileExistsError as e:
        raise CommitConflict(
            f"manifest v{manifest['version']} already exists at {path}"
        ) from e
    fs.replace(_latest_file(path), str(manifest["version"]))
