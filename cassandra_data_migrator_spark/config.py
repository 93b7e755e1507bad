"""Engine configuration.

Replaces the reference's ``spark.cdm.*`` property system
(``properties/KnownProperties.java``, ``properties/PropertyHelper.java``)
with a typed dataclass. Mapping of the load-bearing reference knobs:

- ``numParts`` (KnownProperties.java:177-178, default 5000 token ranges)
  → ``n_buckets``: the number of hash buckets the lake table is
  partitioned into. At 100 TB this is sized so one bucket ≈ a few GB
  (e.g. 16384); in tests it is small (8-32).
- ``batchSize`` / ``fetchSizeInRows`` (KnownProperties.java:179-191)
  → handled by Spark/parquet writer file sizing; no per-row batching.
- ``ratelimit`` (KnownProperties.java:181-184) → streaming trigger
  sizing (``maxFilesPerTrigger``), not a per-row limiter.
- writetime filter min/max (KnownProperties.java:239-240) →
  ``writetime_min``/``writetime_max``.
- null-PK replacement (KnownProperties.java:197) → ``null_ts_default``.
- guardrail colSizeInKB (feature/Guardrail.java:60-77) → ``guardrail_kb``.

Plan thresholds with one sensible value, such as the LWW pre-reduction
gate (``_PREREDUCE_MAX_EVENTS``), are module constants in
``lake/table.py``, not settable options.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass(frozen=True)
class EngineConfig:
    """All knobs for one CDC pipeline run."""

    # --- lake layout ----------------------------------------------------
    n_buckets: int = 32               # hash buckets on key column (ref numParts)
    key_col: str = "url"              # merge/partition key
    ts_col: str = "warc_ts"           # event-time / writetime (LWW order)
    seq_col: str = "seq"              # monotone tie-breaker within equal ts
    # When set, the bucket hash covers only the key's PREFIX up to the
    # first occurrence of this separator (the whole key when absent).
    # Exploded (surrogate-keyed) tables set it to the surrogate
    # separator so every surrogate of one origin key — and the key's
    # bare-key tombstone — lands in ONE bucket: the delete fan-out's
    # live-surrogate lookup and the key-tombstone guard then prune to
    # the delete keys' buckets instead of scanning the table. Skew
    # trade-off: one origin key with a huge map concentrates in one
    # bucket; transform-stage salting still levels the row work, and
    # the within-bucket merge window keys on the full surrogate.
    bucket_prefix_sep: str | None = None
    # How merge_batch persists a change batch:
    #   "cow" — copy-on-write: touched buckets are read, LWW-merged and
    #           rewritten whole. Read-optimal (a bucket is one plain
    #           parquet file list); write cost O(bucket bytes) per epoch.
    #   "mor" — merge-on-read: only the batch's per-key LWW winners are
    #           appended as DELTA files; reads resolve base ∪ deltas
    #           with the same LWW order; `compact()` folds deltas back
    #           into base files. Write cost O(batch bytes) per epoch —
    #           at 100 TB with small epochs this removes the dominant
    #           write amplification of CoW (rewriting multi-GB buckets
    #           to change a few rows), at the price of a read-side
    #           window until the next compaction.
    # (Iceberg v2 calls the same trade-off copy-on-write vs
    # merge-on-read; Hudi: COW vs MOR table types.)
    merge_mode: str = "cow"
    # Inline MoR maintenance for long-lived tails (pipeline and tracked
    # `migrate` merges): a merge folds every bucket whose unfolded delta
    # files, counting the one it would add, reach this many, in its own
    # write (0 = never — run `maintain --compact` out of band). A folded
    # bucket is rewritten as one base file in the same commit, so no
    # delta is written only to be read back by a second pass. Bounds the
    # read-side resolution depth below the threshold without an external
    # maintenance scheduler; the fold set is read off the manifest the
    # merge commits against (no data I/O) and only those buckets are
    # rewritten.
    mor_compact_min_deltas: int = 0

    # --- skew handling (north_rule: salted repartition) ------------------
    salt_buckets: int = 4             # sub-splits for hot keys inside a bucket

    # --- filters (ref OriginSelectStatement.java:104-131) ----------------
    writetime_min: datetime | None = None
    writetime_max: datetime | None = None
    skip_column: str | None = None    # column-value filter: skip row iff
    skip_value: str | None = None     # upper(trim(col)) == upper(value)
    column_skip_list: tuple[str, ...] = ()   # ref CqlTable.java:479-483
    # free-form SQL predicate ANDed into the origin scan — the analog of
    # spark.cdm.filter.cassandra.whereCondition
    # (ref feature/OriginFilterCondition.java:25-77); rows failing it are
    # counted as skipped, and as a Catalyst expr it pushes down to the scan
    origin_filter_condition: str | None = None
    # deterministic coverage sampling (ref job/SplitPartitions.java:66-68
    # coveragePercent): keep ~percent% of keys by portable key-hash —
    # reproducible across engines/runs, unlike rand()-based sampling
    sample_percent: float | None = None
    # partial-range slice (ref partition.min/max token bounds,
    # KnownProperties.java:226-227): process only keys whose portable
    # 48-bit hash lies in [token_min, token_max] — the rerun-a-failed-
    # slice workflow; a scan restriction, not a counted filter
    token_min: int | None = None
    token_max: int | None = None

    # --- TTL propagation (ref feature/WritetimeTTL.java:104-177) ---------
    expires_col: str | None = None    # column read() treats as row expiry

    # --- null-PK handling (ref CqlTable.java:375-400) --------------------
    null_ts_default: datetime | None = field(
        default=datetime(1970, 1, 1, tzinfo=timezone.utc)
    )

    # --- guardrail (ref feature/Guardrail.java:88-125) -------------------
    guardrail_kb: int = 0             # 0 = disabled; else flag rows with any
                                      # column payload > guardrail_kb KB

    # --- streaming -------------------------------------------------------
    max_files_per_trigger: int = 16   # trigger sizing (replaces ratelimit)
