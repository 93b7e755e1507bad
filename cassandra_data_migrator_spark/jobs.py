"""spark-submit job entry points — the reference's three job classes as
CLI subcommands over the lake engine, driven by the same ``spark.cdm.*``
property surface.

Reference analogs:

- ``Migrate``        → ``migrate``   (``README.md:52-66``,
  ``job/Migrate.scala``): event-log replay into the lake table, batch
  or streaming, optionally as a tracked (resumable) run.
- ``DiffData``       → ``validate``  (``README.md:96-116``,
  ``job/DiffData.scala``): origin-truth vs target full-outer diff with
  optional autocorrect (re-upsert of MISSING/MISMATCH; never deletes).
- ``GuardrailCheck`` → ``guardrail`` (``README.md:139-147``,
  ``job/GuardrailCheck.scala``): scan-only large-column audit.

Launch exactly like the reference, swapping the JAR for this package::

    spark-submit --py-files cdm_spark.zip \\
      --conf spark.cdm.perfops.numParts=64 \\
      -m cassandra_data_migrator_spark migrate \\
      --log /data/event_log --table /lake/web_pages \\
      --properties-file cdm.properties

Properties: every supported ``spark.cdm.*`` key
(``properties/KnownProperties.java``) is read from ``--properties-file``
lines and ``--conf K=V`` args and mapped onto :class:`EngineConfig`.
Connection/driver keys that configure Cassandra clusters
(``spark.cdm.connect.*``, keyspaceTable names, rate limiters,
consistency levels) have no analog here — the origin is an event-log
path and the target a lake-table path — so an existing reference
properties file can be passed AS-IS: those keys produce a warning, not
an error. Unknown ``spark.cdm.*`` keys fail loudly, same contract as
the reference's property validation (``PropertyHelper.java``).

Every job prints ONE JSON line of totals (the ``cdm-assert.sh``
contract, ``SIT/cdm-assert.sh:25-33``) and exits non-zero on failure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import replace
from datetime import datetime, timezone
from functools import partial
from typing import Any

from pyspark.sql import SparkSession

from cassandra_data_migrator_spark.config import EngineConfig

# ---------------------------------------------------------------------------
# spark.cdm.* property surface
# ---------------------------------------------------------------------------

def _us(v: str) -> datetime:
    # Cassandra writetimes are epoch MICROseconds
    # (KnownProperties.java:239-240)
    return datetime.fromtimestamp(int(v) / 1e6, tz=timezone.utc)


def _ms(v: str) -> datetime:
    # missing-ts replacement is epoch MILLIseconds
    # (CqlTable.java:385-386: Instant.ofEpochMilli)
    return datetime.fromtimestamp(int(v) / 1e3, tz=timezone.utc)


def _bool(v: str) -> bool:
    return v.strip().lower() in ("true", "1", "yes")


def _csv(v: str) -> tuple[str, ...]:
    return tuple(x.strip() for x in v.split(",") if x.strip())


# spark.cdm key → EngineConfig field + parser (KnownProperties.java)
_CONFIG_KEYS: dict[str, tuple[str, Any]] = {
    "spark.cdm.perfops.numParts": ("n_buckets", int),
    "spark.cdm.filter.java.writetime.min": ("writetime_min", _us),
    "spark.cdm.filter.java.writetime.max": ("writetime_max", _us),
    "spark.cdm.filter.java.column.name": ("skip_column", str),
    "spark.cdm.filter.java.column.value": ("skip_value", str),
    "spark.cdm.filter.java.token.percent": ("sample_percent", float),
    "spark.cdm.filter.cassandra.whereCondition":
        ("origin_filter_condition", str),
    "spark.cdm.filter.cassandra.partition.min": ("token_min", int),
    "spark.cdm.filter.cassandra.partition.max": ("token_max", int),
    "spark.cdm.schema.origin.column.skip": ("column_skip_list", _csv),
    "spark.cdm.feature.guardrail.colSizeInKB": ("guardrail_kb", int),
    "spark.cdm.transform.missing.key.ts.replace.value":
        ("null_ts_default", _ms),
    # engine-native lake knobs (no reference analog — Cassandra
    # rewrites in place; the lake choice is Iceberg CoW vs MoR)
    "spark.cdm.lake.mergeMode": ("merge_mode", str),
    "spark.cdm.lake.autoCompactDeltas": ("mor_compact_min_deltas", int),
}

# spark.cdm keys that drive job behavior, not EngineConfig
_JOB_KEYS: dict[str, tuple[str, Any]] = {
    "spark.cdm.trackRun": ("track_run", _bool),
    "spark.cdm.trackRun.runId": ("run_id", str),
    "spark.cdm.trackRun.previousRunId": ("previous_run_id", str),
    "spark.cdm.trackRun.autoRerun": ("auto_rerun", _bool),
    "spark.cdm.trackRun.rerunMultiplier": ("rerun_multiplier", int),
    "spark.cdm.autocorrect.missing": ("autocorrect_missing", _bool),
    "spark.cdm.autocorrect.mismatch": ("autocorrect_mismatch", _bool),
    # counter-table safety gate: autocorrect of MISSING rows on a
    # counter table is refused unless this opts in ("inserting" a
    # counter is an increment, so a mistaken correction double-counts
    # — DiffJobSession.java:207-212)
    "spark.cdm.autocorrect.missing.counter":
        ("autocorrect_missing_counter", _bool),
}

# reference keys with NO analog in this engine (Cassandra cluster
# connectivity / driver tuning) — accepted with a warning so a
# reference cdm.properties file works unchanged. Every feature /
# transform / writetime-ttl key wires through operators/features.py
# (FEATURE_PROPERTY_KEYS); anything else under spark.cdm.* that is
# neither wired nor listed here raises, same contract as the
# reference's property validation (PropertyHelper.java).
_INAPPLICABLE_PREFIXES = (
    "spark.cdm.connect.",
    "spark.cdm.perfops.ratelimit",
    "spark.cdm.perfops.batchSize",
    "spark.cdm.perfops.fetchSizeInRows",
    "spark.cdm.perfops.consistency.",
    "spark.cdm.perfops.printStatsAfter",
    "spark.cdm.perfops.printStatsPerPart",
    "spark.cdm.schema.origin.keyspaceTable",
    "spark.cdm.schema.target.keyspaceTable",
)


def _parse_property_line(line: str) -> tuple[str, str] | None:
    """One java-properties line → (key, value).

    The reference's shipped files use BOTH separators —
    ``key=value`` and ``key    value`` (java.util.Properties allows
    either; every ``SIT/*/migrate.properties`` uses whitespace) — so a
    reference file must parse AS-IS with both.
    """
    line = line.strip()
    if not line or line.startswith(("#", "!")):
        return None
    k, sep, v = line.partition("=")
    if sep and " " not in k.strip() and "\t" not in k.strip():
        return k.strip(), v.strip()
    parts = line.split(None, 1)
    return parts[0], (parts[1].strip() if len(parts) > 1 else "")


def parse_properties(conf: list[str], properties_file: str | None
                     ) -> dict[str, str]:
    """Java-properties lines + ``--conf K=V`` pairs (later wins)."""
    props: dict[str, str] = {}
    if properties_file:
        # a --properties-file is a spark-submit DRIVER-LOCAL input (the
        # reference reads its cdm.properties the same way) — not lake
        # metadata, so it does not go through the FS seam
        with open(properties_file) as f:  # noqa: seam-exempt (CLI input)
            for line in f:
                kv = _parse_property_line(line)
                if kv is not None:
                    props[kv[0]] = kv[1]
    for pair in conf or []:
        k, _, v = pair.partition("=")
        props[k.strip()] = v.strip()
    return props


def apply_properties(base: EngineConfig, props: dict[str, str]
                     ) -> tuple[EngineConfig, dict[str, Any], list[str]]:
    """Map ``spark.cdm.*`` keys onto (EngineConfig, job options,
    warnings). Unknown spark.cdm keys raise (reference property
    validation contract); non-cdm keys are ignored (they belong to
    Spark itself)."""
    from cassandra_data_migrator_spark.operators.features import (
        FEATURE_PROPERTY_KEYS,
    )

    overrides: dict[str, Any] = {}
    job: dict[str, Any] = {}
    warnings: list[str] = []
    for k, v in props.items():
        if not k.startswith("spark.cdm."):
            continue
        if k in _CONFIG_KEYS:
            field_name, parse = _CONFIG_KEYS[k]
            overrides[field_name] = parse(v)
        elif k in _JOB_KEYS:
            name, parse = _JOB_KEYS[k]
            job[name] = parse(v)
        elif k in FEATURE_PROPERTY_KEYS:
            # rename / constantColumns / explodeMap / extractJson —
            # compiled into one Catalyst transform chain by
            # operators.features.build_featureset
            job.setdefault("features", {})[k] = v
        elif any(k.startswith(p) for p in _INAPPLICABLE_PREFIXES):
            if k.startswith("spark.cdm.perfops.ratelimit"):
                # the reference rate-limits per worker to protect the
                # clusters; the engine's pacing knobs are epoch-sized
                warnings.append(
                    f"ignoring {k} (no Cassandra cluster to protect "
                    "here — pace the stream with --trigger-interval "
                    "and the file-source maxFilesPerTrigger instead)")
            else:
                warnings.append(
                    f"ignoring {k} (configures a Cassandra cluster / "
                    "driver feature; this engine reads an event-log "
                    "path and writes a lake-table path)")
        else:
            raise ValueError(f"unknown spark.cdm property: {k}")
    return replace(base, **overrides), job, warnings


# ---------------------------------------------------------------------------
# jobs
# ---------------------------------------------------------------------------

_WEB_DDL = ("url string, warc_ts timestamp, html binary, "
            "text string, lang string")


def _session(args) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from cassandra_data_migrator_spark.session import get_spark
    return get_spark("cdm_job", master=args.master,
                     shuffle_partitions=args.shuffle_partitions)


def _open_or_create(spark, args, cfg, schema=None):
    from pyspark.sql import types as T

    from cassandra_data_migrator_spark.lake import LakeTable
    if LakeTable.exists(args.table):
        return LakeTable(spark, args.table)
    schema = schema if schema is not None \
        else T.StructType.fromDDL(args.schema)
    return LakeTable.create(spark, args.table, schema, cfg)


def _cfg(args) -> tuple[EngineConfig, dict[str, Any], list[str]]:
    base = EngineConfig(key_col=args.key_col, ts_col=args.ts_col,
                        seq_col=args.seq_col)
    if getattr(args, "merge_mode", None):
        base = replace(base, merge_mode=args.merge_mode)
    if getattr(args, "auto_compact_deltas", None):
        base = replace(base,
                       mor_compact_min_deltas=args.auto_compact_deltas)
    props = parse_properties(args.conf, args.properties_file)
    return apply_properties(base, props)


def _redact_cols(args) -> tuple[str, ...]:
    """Columns named by ``--redact-pii`` (bare flag → the derived
    ``text`` column)."""
    raw = getattr(args, "redact_pii", None)
    if not raw:
        return ()
    return tuple(c.strip() for c in raw.split(",") if c.strip())


def _featureset(args, job):
    """Compile the feature properties (if any) plus the event-schema
    choice for this invocation."""
    from pyspark.sql import types as T

    from cassandra_data_migrator_spark.operators.features import (
        build_featureset,
    )
    feat = build_featureset(job.get("features", {}))
    ev_schema: Any = "default"
    if getattr(args, "event_schema", None):
        ev_schema = None if args.event_schema == "infer" \
            else T.StructType.fromDDL(args.event_schema)
    elif feat and feat.needs_origin_inference:
        # a feature migration's origin shape is scenario-specific
        # (map columns to explode, json columns to extract, extra
        # writetime/TTL columns, codec-mismatched types) — infer it;
        # pure value transforms (custom writetime/TTL) keep the
        # default web shape
        ev_schema = None
    return feat, ev_schema


def _read_events(spark, args, cfg, ev_schema):
    """The job's event log. ``ev_schema`` is ``"default"`` (the web
    ``EVENT_SCHEMA``), ``None`` (inferred) or an explicit StructType —
    :func:`_featureset`'s choice."""
    from cassandra_data_migrator_spark.sources import read_event_log
    from cassandra_data_migrator_spark.sources.event_log import EVENT_SCHEMA
    return read_event_log(
        spark, args.log,
        schema=(EVENT_SCHEMA if ev_schema == "default" else ev_schema),
        fmt=args.log_format, ts_col=cfg.ts_col, seq_col=cfg.seq_col)


def _event_chain(args, cfg, feat, target_schema=None):
    """THE event→target chain, shared by every ``migrate`` mode and by
    ``validate``'s origin leg — so anything that changes a row's key,
    values or LWW version runs identically on both legs of the compare
    (the reference runs its featureset on both legs,
    ``DiffJobSession.java:243-330``). Stages, in order:

    1. ``--counter``: delete events are dropped — an additive merge has
       no sound reading of a delete (its null counters would no-op but
       its ts would bump the max, and any non-null values would be
       ADDED), and a counter cell cannot be tombstoned additively
       (``schema/CqlTable.java:202-209``);
    2. ``--canonicalize-urls``: cosmetic URL variants (host case,
       default ports, www, fragments, tracking params, param order)
       collapse into ONE merge key before any feature chain, so
       variants of a page LWW-resolve instead of fragmenting
       (``functions/urls.py``);
    3. the feature chain (writetime/TTL, rename, explode, extract-json,
       constants);
    4. once ``target_schema`` is known: codec reconciliation and null-
       constant typing (the reference's bind-time dispatch), then the
       automatic positional struct mapping
       (``CqlConversion.java:290-326``) when the target has struct
       columns at all — the web tables have none, and a non-None chain
       would needlessly turn off the streaming pipeline's combined
       row-preserving probe.

    Every stage is a Catalyst projection or filter. Returns None when no
    stage applies."""
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.operators import transforms as TR

    stages = []
    if args.counter:
        stages.append(lambda df: df.filter(~F.col("op").eqNullSafe("delete"))
                      if "op" in df.columns else df)
    if getattr(args, "canonicalize_urls", False):
        from cassandra_data_migrator_spark.functions.urls import (
            canonical_url_expr,
        )
        stages.append(lambda df: df.withColumn(
            cfg.key_col, canonical_url_expr(cfg.key_col)))
    if feat:
        stages.append(lambda df: feat.transform(
            df, origin_key=cfg.key_col,
            keep_cols=("op", cfg.seq_col, cfg.ts_col), ts_col=cfg.ts_col))
    if target_schema is not None:
        if feat:
            stages.append(lambda df: feat.codec_stage(df, target_schema))
        if any(TR._struct_involved(f.dataType)
               for f in target_schema.fields):
            stages.append(
                lambda df: TR.auto_map_structs(df, target_schema))
    if not stages:
        return None

    def chain(df):
        for stage in stages:
            df = stage(df)
        return df
    return chain


def _explode_origin_truth(feat, cfg, ev):
    """Origin truth for an EXPLODED target: per-surrogate LWW, not
    per-origin-key, over the chained events (:func:`_event_chain`).

    The migration merges each (key, map-entry) surrogate independently
    — entries evolve independently, and an update whose map no longer
    contains an entry does NOT delete that entry's row — so a
    per-origin-key window (keep only the latest event, then explode)
    would report every older entry still correctly present in the
    target as ``extra_target``. Truth here: per-surrogate winner among
    the exploded update events, killed when a whole-key delete is
    NEWER than the winner — matching the merge's delete fan-out plus
    its durable key-level tombstones (:func:`_explode_delete_fanout`),
    batching-independently."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.lake.table import lww_version

    key_col = feat.target_key_col(cfg.key_col)
    okey = feat.rename.get(cfg.key_col, cfg.key_col)
    mk = feat.explode[1]

    is_del = F.col("op").eqNullSafe("delete") & F.col(mk).isNull()
    upd = ev.filter(~is_del)
    dels = ev.filter(is_del)

    w = Window.partitionBy(key_col).orderBy(
        F.col(cfg.ts_col).desc(), F.col(cfg.seq_col).desc())
    win = (upd.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1).drop("_rn"))

    version = lww_version(F.col(cfg.ts_col), F.col(cfg.seq_col))
    dmax = dels.groupBy(okey).agg(F.max(version).alias("_d"))
    origin = (win.join(dmax, on=okey, how="left")
              .filter(F.col("_d").isNull() | (version > F.col("_d")))
              .drop("_d", "op", cfg.seq_col))
    return origin, key_col


def _require_event_schema(ev_schema, log_format: str) -> None:
    """Schema inference + JSON logs don't mix (inference would mistype
    base64 binary columns); fail cleanly up front instead of a raw
    ValueError mid-read — shared by migrate and validate."""
    if ev_schema is None and log_format in ("json", "debezium"):
        print(f"error: --log-format {log_format} cannot infer the event "
              "schema — pass an explicit --event-schema DDL",
              file=sys.stderr)
        raise SystemExit(2)


def _explode_delete_fanout(feat, table, cfg):
    """Delete fan-out for exploded tables.

    A CDC delete addresses the ORIGIN key; the exploded target is keyed
    per (key, map-entry) surrogate, so the tombstone must cover every
    surrogate the key currently owns — the ones live in the target
    plus the ones this very batch is introducing (an insert+delete of
    the same key inside one epoch must still converge to deleted). The
    feature chain hands each delete through as one placeholder row
    (null explode key, ``operators/features.py``); this stage replaces
    it with per-surrogate tombstones via a broadcast semi-join of the
    deleted keys against a two-column projection of the live table,
    with the delete's own (ts, seq) so LWW still orders late updates
    against the tombstone per surrogate. Exploded tables bucket on the
    surrogate's ORIGIN-KEY prefix (``bucket_prefix_sep``), so every
    surrogate a key owns lives in the buckets of its bare key — the
    lookup prunes to the delete keys' buckets instead of scanning the
    table (legacy full-surrogate-bucketed tables fall back to the
    unpruned scan, disclosed loudly).

    The placeholder itself ALSO merges, as a durable KEY-LEVEL
    tombstone (its surrogate is the bare key — real surrogates always
    contain the unit separator, so no collision), and every later
    batch guards its arriving entries against stored key tombstones.
    That closes the ordering edge a fan-out alone leaves open: a
    surrogate first introduced in a LATER batch with a timestamp older
    than the key's delete stays deleted, whatever the epoch batching
    was — the same durable-tombstone determinism the non-exploded
    merge already has.

    Cost shape (100×-scale audit): delete-free tables skip the guard
    entirely via the manifest's tombstone counters (driver-side, no
    job); when tombstones exist, the guard scan is bucket-pruned to
    the batch's KEY buckets and column-pruned to (key, surrogate, ts,
    _deleted, _seq), with the `_deleted` predicate pushed to parquet —
    never a payload read. Per-entry LWW semantics otherwise: an update
    whose map no longer contains an entry does NOT delete that entry's
    surrogate row; only an explicit delete op clears the key."""
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.lake.table import (
        _DELETED,
        _SEQ,
        lww_version,
    )
    from cassandra_data_migrator_spark.operators.features import (
        SURROGATE_KEY_COL,
    )

    key = feat.rename.get(cfg.key_col, cfg.key_col)
    mk = feat.explode[1]

    def stage(df):
        if "op" not in df.columns:
            return df
        # null-safe: op=NULL rows are ordinary upserts, not deletes
        is_placeholder = (F.col("op").eqNullSafe("delete")
                          & F.col(mk).isNull())
        dels = df.filter(is_placeholder)
        rest = df.filter(~is_placeholder)

        if table.manifest.get("ever_tombstones"):
            # guard arriving entries against stored KEY tombstones:
            # entries older than the key's delete never resurrect.
            # Key tombstones live in the buckets of the BARE key's
            # STRING form — a placeholder's surrogate is concat_ws over
            # the key cast to string — so the pruning hash must cast the
            # same way (a raw-typed hash of a non-string key would read
            # the wrong buckets and silently miss every tombstone).
            # table.bucket_of covers both layouts: prefix-bucketed
            # tables hash the origin-key prefix (identical to the bare
            # key string), legacy tables hash the full surrogate (a
            # bare key IS its own surrogate).
            kb = [r["b"] for r in rest.select(
                table.bucket_of(F.col(key).cast("string")).alias("b"))
                .distinct().collect()]
            # no broadcast hint: the tombstone set is bounded by the
            # table's deleted-key HISTORY, not by the batch — let AQE
            # broadcast only when the runtime size is actually small
            # (same rationale as the merge's gated prereduce join)
            tomb = (table.read(buckets=kb, include_deleted=True,
                               include_internal=True)
                    .filter(F.col(_DELETED)
                            & (F.col(SURROGATE_KEY_COL)
                               == F.col(key).cast("string")))
                    .select(F.col(key).alias("_tk"),
                            lww_version(F.col(cfg.ts_col),
                                        F.col(_SEQ)).alias("_tv")))
            rest = (rest.join(tomb, rest[key] == tomb["_tk"], "left")
                    .filter(F.col("_tk").isNull()
                            | (lww_version(F.col(cfg.ts_col),
                                           F.col(cfg.seq_col))
                               > F.col("_tv")))
                    .drop("_tk", "_tv"))

        if dels.isEmpty():
            # the common delete-free batch: nothing else to do
            return rest
        del_keys = dels.select(key).distinct()
        if table.bucket_prefix_sep:
            # prune the live-surrogate lookup to the delete keys'
            # buckets: prefix bucketing puts all of a key's surrogates
            # where its bare key hashes, so the bucket list (≤
            # min(n_deletes, n_buckets) ids, a tiny driver-side
            # collect) covers every surrogate the fan-out must clear
            db = [r["b"] for r in del_keys.select(
                table.bucket_of(F.col(key).cast("string")).alias("b"))
                .distinct().collect()]
            live_scan = table.read(buckets=db)
        else:
            # legacy layout (bucketed on the full surrogate): a deleted
            # key's surrogate buckets are unknowable up front — full
            # (column-pruned) scan, delete-carrying batches only
            live_scan = table.read()
        live = (live_scan
                .select(F.col(key), F.col(SURROGATE_KEY_COL))
                .join(F.broadcast(del_keys), key, "left_semi"))
        batch_surr = (rest.select(F.col(key), F.col(SURROGATE_KEY_COL))
                      .join(F.broadcast(del_keys), key, "left_semi"))
        targets = live.unionByName(batch_surr).distinct()
        fanned = (dels.select(key, cfg.ts_col, "op", cfg.seq_col)
                  .join(targets, on=key, how="inner"))
        # placeholders ride along: they merge as durable key-level
        # tombstones the guard above consults in later batches
        return (rest.unionByName(fanned, allowMissingColumns=True)
                .unionByName(dels, allowMissingColumns=True))

    return stage


def cmd_migrate(args, spark) -> dict[str, Any]:
    from pyspark.sql import types as T

    from cassandra_data_migrator_spark.streaming import (
        CdcPipeline,
        finalize_stream_run,
        finalize_tracked_run,
    )
    from cassandra_data_migrator_spark.streaming.pipeline import (
        finalize_winners,
    )
    from cassandra_data_migrator_spark.streaming.trackrun import (
        BatchRunTracker,
    )
    from cassandra_data_migrator_spark.operators.features import (
        SURROGATE_SEP,
    )

    import uuid

    cfg, job, warnings = _cfg(args)
    for w in warnings:
        print(f"WARN: {w}", file=sys.stderr)
    feat, ev_schema = _featureset(args, job)
    redact_cols = _redact_cols(args)
    table_cfg = cfg
    schema_override = None
    if args.counter:
        # the web DDL's html/text columns are not counters — a counter
        # table's shape must come from the events themselves...
        if args.schema == _WEB_DDL:
            args.schema = "infer"
        # ...and so must the EVENT shape, regardless of any explicit
        # --schema: reading counter events with the web EVENT_SCHEMA
        # would misread every column
        if ev_schema == "default":
            ev_schema = None
    _require_event_schema(ev_schema, args.log_format)
    if feat:
        if feat.reshapes:
            # the TARGET is keyed on the feature chain's output key
            # (the renamed key column, or the explode-widened
            # surrogate). Exploded tables bucket on the surrogate's
            # origin-key PREFIX so delete fan-out and the key-tombstone
            # guard stay bucket-prunable (the separator is the
            # surrogate's own unit separator; plain keys never contain
            # it, so non-explode renames are unaffected).
            table_cfg = replace(
                cfg, key_col=feat.target_key_col(cfg.key_col),
                bucket_prefix_sep=(SURROGATE_SEP if feat.explode
                                   is not None else None))
        if feat.adds_expiry:
            # TTL properties materialize expires_at; read() filters
            # expired rows when asked (EngineConfig.expires_col)
            table_cfg = replace(table_cfg,
                                expires_col=feat.EXPIRES_COL)
        if args.schema == _WEB_DDL and feat.needs_origin_inference:
            # these features reshape the target (or imply a non-web
            # origin shape); an untouched default web DDL cannot be
            # what the user meant (its key column may not even survive
            # the rename) — infer from the feature chain
            args.schema = "infer"
    if args.schema == "infer":
        # target schema = the transformed event shape minus the
        # engine's op/seq bookkeeping columns (the reference derives
        # the target shape from the target table's own DDL; with no
        # DDL given, the feature chain IS the shape)
        sample = _read_events(spark, args, cfg, ev_schema)
        chain = _event_chain(args, cfg, feat)
        if chain is not None:
            sample = chain(sample)
        drop = {"op", cfg.seq_col}
        schema_override = T.StructType(
            [f for f in sample.schema.fields if f.name not in drop])
    if feat and feat.adds_expiry:
        # explicit-DDL targets grow the expiry column (the infer path
        # already carries it — the transform added it to the sample)
        base = schema_override if schema_override is not None \
            else T.StructType.fromDDL(args.schema)
        if feat.EXPIRES_COL not in base.names:
            base = T.StructType(list(base.fields) + [
                T.StructField(feat.EXPIRES_COL, T.TimestampType(), True)])
        schema_override = base
    table = _open_or_create(spark, args, table_cfg, schema=schema_override)
    if feat and feat.adds_expiry \
            and table.expires_col != feat.EXPIRES_COL:
        # the table pre-exists without expiry support — refuse loudly
        # instead of writing TTLs read() will never honor
        print("error: TTL properties require a table whose expiry "
              f"column is {feat.EXPIRES_COL!r} (this table has "
              f"expires_col={table.expires_col!r}); recreate the table "
              "or drop the TTL properties", file=sys.stderr)
        raise SystemExit(2)
    transform = _event_chain(args, cfg, feat, table.schema())
    if feat.explode is not None:
        # delete fan-out: the feature chain keeps CDC deletes as one
        # placeholder row each (null explode key); expand them here —
        # where the live table is known — into per-surrogate tombstones
        chain, fan = transform, _explode_delete_fanout(feat, table, cfg)
        transform = lambda df: fan(chain(df))  # noqa: E731

    if args.streaming:
        if any(k.startswith(("track_run", "previous_run_id", "auto_rerun",
                             "rerun_multiplier", "run_id")) for k in job):
            # known keys, but tracked runs are a BATCH mode — say so
            # instead of silently running untracked
            print("WARN: spark.cdm.trackRun* properties are ignored in "
                  "--streaming mode (checkpoint + epoch fence provide "
                  "the resume semantics there)", file=sys.stderr)
        if ev_schema is None:
            # the file stream source needs a declared schema upfront
            print("error: --streaming with feature properties requires "
                  "an explicit --event-schema DDL (file streams cannot "
                  "infer)", file=sys.stderr)
            raise SystemExit(2)
        stream_id = args.stream_id or "migrate"
        pipe = CdcPipeline(
            spark, table, cfg, stream_id=stream_id, transform=transform,
            event_schema=None if ev_schema == "default" else ev_schema,
            redact_cols=redact_cols)
        pipe.run_stream(args.log, args.checkpoint,
                        available_now=not args.continuous,
                        processing_time=args.trigger_interval,
                        log_format=args.log_format,
                        ).awaitTermination()
        return {"job": "migrate", "mode": "stream",
                "stream_id": stream_id, **finalize_stream_run(pipe)}

    events = _read_events(spark, args, cfg, ev_schema)

    if args.counter:
        # counter-table migration (reference S5: UPDATE SET c = c + ?,
        # TargetUpdateStatement.java:42-144). Increments are NOT
        # idempotent, so unlike the regular batch mode the stream id
        # defaults to a STABLE value and applies through a per-stream
        # SEQ HIGH-WATERMARK: a re-invocation applies only events past
        # the recorded max(seq) — a byte-identical replay no-ops, a
        # grown log applies exactly its new tail — never a silent
        # double-add (the reason the reference forces batchSize=1 and
        # warns against counter re-runs, schema/CqlTable.java:202-209).
        from pyspark.sql import functions as F

        from cassandra_data_migrator_spark.operators.filters import (
            split_predicates,
        )
        if job.get("track_run") or job.get("previous_run_id") \
                or job.get("auto_rerun"):
            print("WARN: spark.cdm.trackRun* properties are ignored for "
                  "counter tables — per-group re-merges would double-"
                  "apply increments (same caveat as the reference, "
                  "schema/CqlTable.java:202-209)", file=sys.stderr)
        out, keep, valid_keys = split_predicates(events, cfg)
        ev = out.filter(keep & valid_keys)
        n_deletes = 0
        if "op" in ev.columns:
            # the chain drops counter deletes (_event_chain, stage 1);
            # count them here so they are dropped loudly
            n_deletes = ev.filter(
                F.col("op").eqNullSafe("delete")).count()
            if n_deletes:
                print(f"WARN: --counter ignoring {n_deletes} delete "
                      "events — deletes are unsupported for counter "
                      "tables (increments are not idempotent and a "
                      "counter cell cannot be tombstoned additively)",
                      file=sys.stderr)
        if transform is not None:
            ev = transform(ev)
        stream_id = args.stream_id or "migrate-counter"
        # seq high-watermark per stream (mirrors the epoch fence): a
        # byte-identical replay filters to zero events and no-ops; a
        # GROWN log applies exactly the new tail incrementally. The
        # convergent repair path for anything else (out-of-order
        # backfill, partial loss) is `validate --counter --autocorrect`
        # (origin−target deltas).
        result = table.merge_counter_batch(
            ev, seq_col=cfg.seq_col, stream_id=stream_id, watermark=True)
        out_json = {"job": "migrate", "mode": "counter",
                    "stream_id": stream_id,
                    "events_applied": int((result.counters or {})
                                          .get("events", 0)),
                    "buckets": int((result.counters or {})
                                   .get("buckets", 0))}
        wm = table.counter_watermark(stream_id)
        if wm is not None:
            out_json["seq_watermark"] = int(wm)
        if n_deletes:
            out_json["deletes_ignored"] = int(n_deletes)
        if result.skipped:
            out_json["fenced"] = True
            if result.skip_reason == "legacy-fence":
                out_json["legacy_fence"] = True
                print("WARN: stream "
                      f"{stream_id!r} was loaded by a pre-watermark "
                      "release (epoch fence present, no seq watermark); "
                      "nothing was applied — re-applying the log could "
                      "double-add shared increments. Converge with "
                      "`validate --counter --autocorrect`, or use a "
                      "fresh --stream-id against an empty table.",
                      file=sys.stderr)
        return out_json

    if job.get("track_run") or job.get("previous_run_id") \
            or job.get("auto_rerun"):
        # a NEW tracked run gets a unique id (the reference generates
        # one per run, TargetUpsertRunDetailsStatement) — a constant
        # default would make a second migration into the same table a
        # fenced no-op that reports the FIRST run's totals as success
        if job.get("previous_run_id") and job.get("run_id") \
                and job["previous_run_id"] != job["run_id"]:
            print("WARN: resuming records progress under "
                  "trackRun.previousRunId (PASS rows and the fence are "
                  f"keyed by the run being resumed); runId "
                  f"{job['run_id']!r} is ignored", file=sys.stderr)
        run_id = job.get("previous_run_id") or job.get("run_id") \
            or f"run-{uuid.uuid4().hex[:12]}"
        tracker = BatchRunTracker(spark, table, n_groups=args.n_groups)
        # parity with the pipeline path: the SAME filter/quarantine
        # stage (writetime window, skip-column, WHERE, sampling,
        # null-ts default, null-key quarantine) runs before the merges,
        # and the same winner-side transforms (text extraction, lang
        # normalization) run after — so batch, streaming, and tracked
        # migrations of one log converge to one state
        from pyspark.sql import functions as F

        from cassandra_data_migrator_spark.operators.filters import (
            split_predicates,
        )
        out, keep, valid_keys = split_predicates(events, cfg)
        # the pipeline path counts its rejects per epoch; the tracked
        # path must too (reference SKIPPED counter parity,
        # job/JobCounter.java:36) — one thin agg over the predicates
        rej = out.agg(
            F.sum(F.when(valid_keys & ~keep, 1).otherwise(0)).alias("s"),
            F.sum(F.when(~valid_keys, 1).otherwise(0)).alias("q"),
        ).collect()[0]
        n_skip, n_quar = int(rej["s"] or 0), int(rej["q"] or 0)
        events = out.filter(keep & valid_keys)
        if transform is not None:
            events = transform(events)
        merge_kw = {"finalize": partial(finalize_winners,
                                        redact_cols=redact_cols),
                    "seq_col": cfg.seq_col,
                    "fold_min_deltas": cfg.mor_compact_min_deltas}
        if job.get("previous_run_id") or job.get("auto_rerun"):
            tracker.resume(events, run_id,
                           rerun_multiplier=job.get("rerun_multiplier", 1),
                           **merge_kw)
        else:
            tracker.run(events, run_id, **merge_kw)
        return {"job": "migrate", "mode": "tracked", "run_id": run_id,
                **finalize_tracked_run(tracker, run_id, skipped=n_skip,
                                       quarantined=n_quar)}

    # one stream id per INVOCATION by default: re-running the CLI on a
    # grown log must apply the new events, not hit the previous
    # invocation's epoch fence and report ITS totals as success. The
    # LWW merge is idempotent, so replaying already-applied events
    # converges. Pass --stream-id to opt into cross-invocation fencing
    # (e.g. an at-least-once scheduler re-launching the same job).
    stream_id = args.stream_id or f"migrate-{uuid.uuid4().hex[:12]}"
    pipe = CdcPipeline(spark, table, cfg, stream_id=stream_id,
                       transform=transform, redact_cols=redact_cols)
    result = pipe.run_batch(events)
    out = {"job": "migrate", "mode": "batch", "stream_id": stream_id,
           **finalize_stream_run(pipe)}
    if result.skipped:
        # explicit --stream-id replay hit the fence: nothing applied
        # THIS invocation; the totals below are the stream's history
        out["fenced"] = True
    return out


def cmd_validate(args, spark) -> dict[str, Any]:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.lake import LakeTable
    from cassandra_data_migrator_spark.operators import diff as DIFF
    from cassandra_data_migrator_spark.operators.filters import (
        split_predicates,
    )
    from cassandra_data_migrator_spark.streaming.pipeline import (
        finalize_winners,
    )

    cfg, job, warnings = _cfg(args)
    for w in warnings:
        print(f"WARN: {w}", file=sys.stderr)
    feat, ev_schema = _featureset(args, job)
    if args.counter and ev_schema == "default":
        # counter events are not web events — infer, same as migrate
        ev_schema = None
    _require_event_schema(ev_schema, args.log_format)
    table = LakeTable(spark, args.table)

    # origin truth: the state the migration's merge reaches from the
    # event log (the reference's origin read,
    # OriginSelectByPartitionRangeStatement). The SAME configured
    # filters the migration applied run on this leg too — the
    # reference's DiffData origin select carries the writetime/WHERE
    # filters (OriginSelectByPartitionRangeStatement.java:61), so a
    # filtered migration validates against equally-filtered truth
    # instead of reporting the excluded rows as MISSING (and, with
    # autocorrect, re-inserting them). Then the migration's own event
    # chain, and only then LWW by the target key: the truth orders
    # exactly the rows the merge ordered.
    ev, keep, valid_keys = split_predicates(
        _read_events(spark, args, cfg, ev_schema), cfg)
    ev = ev.filter(keep & valid_keys)
    chain = _event_chain(args, cfg, feat, table.schema())
    if chain is not None:
        ev = chain(ev)

    if args.counter:
        return _validate_counter(args, cfg, job, feat, table, ev)

    if feat.explode is not None:
        # exploded targets need per-SURROGATE truth, not per-origin-key
        origin, key_col = _explode_origin_truth(feat, cfg, ev)
    else:
        key_col = feat.target_key_col(cfg.key_col)
        w = Window.partitionBy(key_col).orderBy(
            F.col(cfg.ts_col).desc(), F.col(cfg.seq_col).desc())
        origin = (ev.withColumn("_rn", F.row_number().over(w))
                  .filter((F.col("_rn") == 1)
                          & ~F.col("op").eqNullSafe("delete"))
                  .drop("_rn", "op", cfg.seq_col))
    # the migration ran the winner-side stage (text from html, lang
    # normalization, redaction) on every stored row; origin truth runs
    # the same stage, or every row it touches reports MISMATCH
    redact_cols = _redact_cols(args)
    origin = finalize_winners(origin, redact_cols)

    target = table.read()
    compare = [c for c in target.columns
               if c in origin.columns and c != key_col]
    # the diff is consumed up to three times (counters, --report,
    # autocorrect pick) — cache it so the origin LWW window + full-
    # outer join run once, not per consumer
    d = DIFF.diff_tables(origin.select(key_col, *compare), target,
                         key_cols=(key_col,), compare_cols=compare
                         ).persist()
    try:
        totals = DIFF.diff_counters(d)

        if args.report:
            # persist the non-valid rows (the reference logs each
            # MISSING/MISMATCH row, DiffJobSession.java:166-180; a
            # parquet report is the lake-native equivalent a repair
            # pipeline can consume)
            (d.filter(F.col(DIFF.DIFF_STATUS) != "valid")
             .write.mode("overwrite").parquet(args.report))

        out = {"job": "validate", **totals}
        allowed = []
        if job.get("autocorrect_missing"):
            allowed.append("missing_target")
        if job.get("autocorrect_mismatch"):
            allowed.append("mismatch")
        if allowed:
            picked = d.filter(F.col(DIFF.DIFF_STATUS).isin(allowed))
            # corrected rows take the SAME winner-side derivations the
            # migration applied (text extraction, lang normalization) —
            # without the finalize, a force_overwrite re-upsert of
            # origin rows (which carry no text column) would null out
            # the extracted text the migration wrote
            _, corrected = DIFF.autocorrect(
                table, origin.select(key_col, *compare), picked,
                key_cols=(key_col,),
                finalize=partial(finalize_winners, redact_cols=redact_cols))
            out.update(corrected)
    finally:
        d.unpersist()
    return out


def _validate_counter(args, cfg, job, feat, table, ev) -> dict[str, Any]:
    """Counter-table validation: origin truth is the per-key SUM of the
    chained events' deltas (a from-scratch replay of
    ``merge_counter_batch``'s additive semantics, deletes dropped the
    way migrate drops them), not an LWW window. Corrections are applied as
    increments of ``origin − target`` — the reference's counter bind
    (``cql/statement/TargetUpdateStatement.java:42-144``) — and
    correcting MISSING rows additionally requires the
    ``spark.cdm.autocorrect.missing.counter`` opt-in
    (``DiffJobSession.java:207-212``: a counter "insert" is an
    increment, so a mistaken correction double-counts)."""
    import uuid

    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.operators import diff as DIFF

    key_col = feat.target_key_col(cfg.key_col)
    counter_cols = [f.name for f in table.schema().fields
                    if f.name not in (key_col, cfg.ts_col)]
    origin = (ev.groupBy(F.col(key_col))
              .agg(*[F.sum(c).alias(c) for c in counter_cols],
                   F.max(cfg.ts_col).alias(cfg.ts_col)))

    target = table.read()
    compare = [c for c in target.columns
               if c in origin.columns and c != key_col]
    d = DIFF.diff_tables(origin.select(key_col, *compare), target,
                         key_cols=(key_col,), compare_cols=compare
                         ).persist()
    try:
        totals = DIFF.diff_counters(d)
        if args.report:
            (d.filter(F.col(DIFF.DIFF_STATUS) != "valid")
             .write.mode("overwrite").parquet(args.report))

        out = {"job": "validate", "mode": "counter", **totals}
        allowed = []
        if job.get("autocorrect_missing"):
            if job.get("autocorrect_missing_counter"):
                allowed.append("missing_target")
            else:
                print("WARN: autocorrect.missing is set but this is a "
                      "counter table and autocorrect.missing.counter is "
                      "not — skipping MISSING corrections "
                      "(DiffJobSession.java:207-212)", file=sys.stderr)
        if job.get("autocorrect_mismatch"):
            allowed.append("mismatch")
        if allowed:
            bad_keys = (d.filter(F.col(DIFF.DIFF_STATUS).isin(allowed))
                        .select(key_col))
            t = target.select(
                F.col(key_col),
                *[F.col(c).alias(f"_t_{c}") for c in counter_cols])
            deltas = (
                origin.join(bad_keys, on=key_col, how="inner")
                .join(t, on=key_col, how="left")
                .select(
                    F.col(key_col), F.col(cfg.ts_col),
                    *[(F.col(c) - F.coalesce(F.col(f"_t_{c}"), F.lit(0)))
                      .alias(c) for c in counter_cols],
                    F.lit(0).cast("long").alias("_fix_seq"))
            )
            res = table.merge_counter_batch(
                deltas, counter_cols=counter_cols, seq_col="_fix_seq",
                stream_id=f"validate-fix-{uuid.uuid4().hex[:12]}",
                epoch_id=0)
            out["corrected"] = int((res.counters or {}).get("events", 0))
    finally:
        d.unpersist()
    return out


def cmd_runs(args, spark) -> dict[str, Any]:
    """Operational read of the run-state side tables — the engine's
    ``SELECT * FROM cdm_run_info / cdm_run_details`` equivalent
    (``TargetUpsertRunDetailsStatement.java:63-84``): run-level rollups,
    per-group PASS rows, and per-epoch counters as one JSON document a
    dashboard or assert script can consume."""
    from cassandra_data_migrator_spark.lake import LakeTable
    from cassandra_data_migrator_spark.streaming import runstate

    table = LakeTable(spark, args.table)
    out: dict[str, Any] = {"job": "runs", "version": table.version}
    for key, name, order in (
            ("run_info", "run_info", ("run_id",)),
            ("run_details", "run_details", ("run_id", "grp", "sub")),
            ("epochs", "counters", ("stream_id", "epoch_id"))):
        out[key] = [r.asDict() for r in
                    runstate.read(spark, table, name).orderBy(*order)
                    .collect()]
    # timestamps/None are already JSON-safe here (all-long schemas)
    return out


def cmd_maintain(args, spark) -> dict[str, Any]:
    """Table maintenance: compaction then snapshot expiry — the
    operational pair a long-lived CoW table needs (Cassandra compacts
    for itself; this engine owns its lake format, so it owns this).
    Compact first so expiry can reclaim the pre-compaction files."""
    from cassandra_data_migrator_spark.lake import LakeTable

    table = LakeTable(spark, args.table)
    out: dict[str, Any] = {"job": "maintain", "version": table.version}
    if args.compact:
        res = table.compact(min_files=args.min_files)
        out["compacted"] = bool(res is not None and not res.skipped)
        table = LakeTable(spark, args.table)   # re-read post-commit
    out.update(table.expire_versions(keep_last=args.keep_last))
    out["version"] = table.version
    return out


def cmd_describe(args, spark) -> dict[str, Any]:
    """Manifest-only table introspection: everything an operator asks
    before touching a lake table, answered without scanning a byte of
    data (the manifest is the metadata plane — same cost model as the
    commit itself). Reference analog: the migrator prints its run
    config + counters; a lake-format engine owns its format, so it
    owns the describe surface too."""
    from cassandra_data_migrator_spark.lake import LakeTable

    table = LakeTable(spark, args.table)
    m = table.manifest
    per_bucket = [len(v) for v in m["files"].values()]
    ext = table.external_buckets()
    out: dict[str, Any] = {
        "job": "describe",
        "table": args.table,
        "version": table.version,
        "retained_versions": table.history(),
        "schema_version": table.schema_version,
        "schema": {f["name"]: f["type"] for f in table.current_fields()},
        "config": m["config"],
        "buckets_with_files": len(per_bucket),
        "files_total": sum(per_bucket),
        "files_max_per_bucket": max(per_bucket, default=0),
        "fragmented_buckets": sum(1 for n in per_bucket if n >= 2),
        "external_buckets": len(ext),
        "merge_mode": table.merge_mode,
        # MoR read-amplification gauge: buckets still carrying unfolded
        # delta files (maintain --compact folds them)
        "delta_buckets": len(dc := table.delta_file_counts()),
        "delta_files_total": sum(dc.values()),
        "epoch_fence": m.get("epoch_fence", {}),
        "counter_watermarks": m.get("counter_watermarks", {}),
        "ever_tombstones": bool(m.get("ever_tombstones")),
    }
    if m.get("cloned_from"):
        out["cloned_from"] = m["cloned_from"]
    if args.lineage:
        out["lineage"] = table.lineage_rows()
    return out


def cmd_clone(args, spark) -> dict[str, Any]:
    """Zero-copy fork of a lake table (``LakeTable.clone_to``): the
    clone's first manifest references the source's data files in
    place — O(manifest), no data movement. ``--localize`` immediately
    rewrites the inherited buckets clone-locally so the source can be
    vacuumed or deleted afterwards (otherwise the source's own
    retention can break the shallow clone — the documented
    Delta-shallow-clone caveat)."""
    from cassandra_data_migrator_spark.lake import LakeTable

    table = LakeTable(spark, args.table)
    try:
        clone = table.clone_to(args.to, version=args.version)
    except (ValueError, LookupError) as e:
        raise SystemExit(f"error: {e}") from e
    out: dict[str, Any] = {
        "job": "clone", "source": args.table, "target": args.to,
        "cloned_version": clone.manifest["cloned_from"]["version"],
        "external_buckets": len(clone.external_buckets()),
    }
    if args.localize:
        clone.localize()
        out["external_buckets"] = len(clone.external_buckets())
        out["localized"] = True
    return out


def cmd_evolve(args, spark) -> dict[str, Any]:
    """Schema evolution as an operational command: add a nullable
    column / rename a column through the id-based schema registry
    (``lake/table.py add_column/rename_column`` — the Iceberg-style
    field-id mapping the merge and reads resolve old files through).
    The reference handles renamed columns at migration time via
    ``spark.cdm.schema.origin.column.names.to.target``
    (``KnownProperties.java:112``); a live lake table also needs the
    in-place half, which Cassandra would do with ALTER TABLE."""
    from cassandra_data_migrator_spark.lake import LakeTable

    table = LakeTable(spark, args.table)
    out: dict[str, Any] = {"job": "evolve",
                           "schema_version_before": table.schema_version}
    did: list[str] = []
    for spec in args.add or []:
        name, sep, ddl = spec.partition(":")
        if not sep:
            print(f"error: --add wants name:type, got {spec!r}",
                  file=sys.stderr)
            raise SystemExit(2)
        table.add_column(name.strip(), ddl.strip())
        did.append(f"add {name.strip()}")
    for spec in args.rename or []:
        old, sep, new = spec.partition(":")
        if not sep:
            print(f"error: --rename wants old:new, got {spec!r}",
                  file=sys.stderr)
            raise SystemExit(2)
        table.rename_column(old.strip(), new.strip())
        did.append(f"rename {old.strip()}->{new.strip()}")
    for spec in args.widen or []:
        name, sep, ddl = spec.partition(":")
        if not sep:
            print(f"error: --widen wants name:type, got {spec!r}",
                  file=sys.stderr)
            raise SystemExit(2)
        try:
            table.widen_column(name.strip(), ddl.strip())
        except ValueError as e:
            raise SystemExit(f"error: {e}") from e
        did.append(f"widen {name.strip()}:{ddl.strip()}")
    for name in args.drop or []:
        try:
            table.drop_column(name.strip())
        except ValueError as e:
            raise SystemExit(f"error: {e}") from e
        did.append(f"drop {name.strip()}")
    out["applied"] = did
    out["schema_version"] = table.schema_version
    out["columns"] = [f["name"] for f in table.current_fields()]
    return out


def cmd_guardrail(args, spark) -> dict[str, Any]:
    from cassandra_data_migrator_spark.lake import LakeTable
    from cassandra_data_migrator_spark.streaming.guardjob import (
        run_guardrail_check,
    )

    cfg, _job, warnings = _cfg(args)
    for w in warnings:
        print(f"WARN: {w}", file=sys.stderr)
    table = LakeTable(spark, args.table)
    kb = cfg.guardrail_kb or args.col_size_kb
    report = run_guardrail_check(
        table.read(), col_size_kb=kb, key_col=cfg.key_col,
        n_buckets=cfg.n_buckets, table=table, run_id=args.run_id)
    return {"job": "guardrail", "col_size_kb": kb, **report.totals}


def cmd_dedup(args, spark) -> dict[str, Any]:
    """End-to-end near-duplicate removal over a document corpus — the
    training-data pipeline's terminal dedup job, composing the
    dedup-family operators into one CLI surface: pair generation
    (minhash-LSH verified | simhash hamming | exact content hash |
    embedding-cosine LSH verified) → distributed connected components →
    survivor keep-list → deduped corpus write.

    Scale shape: candidates are LSH/segment-bucket bounded, connected
    components shuffles only thin ``(id, label)`` rows, and the final
    drop is a left-anti join of the corpus against the bounded
    non-survivor id set — the document payload itself is never
    shuffled (scan → anti-join → write).
    """
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.lake import LakeTable
    from cassandra_data_migrator_spark.operators import dedup as D

    # a lake-table input (the CDC-ingested corpus — the usual pipeline
    # shape) must be read through its manifest: a raw parquet read of
    # the directory would include superseded file versions and
    # tombstone rows
    try:
        df = LakeTable(spark, args.input).read()
    except FileNotFoundError:
        df = spark.read.parquet(args.input)
    n_in = df.count()
    out: dict[str, Any] = {"job": "dedup", "method": args.method,
                           "input_rows": n_in}
    if args.method == "exact":
        if args.pairs_out or args.clusters_out:
            print("WARN: --pairs-out/--clusters-out are not produced by "
                  "--method exact (content-hash grouping emits no pair "
                  "frame)", file=sys.stderr)
        reps = D.exact_dedup(df, args.id_col, args.text_col)
        kept_df = df.join(reps.select(args.id_col), args.id_col,
                          "left_semi")
    elif args.method == "online":
        # order-sensitive first-wins dedup: keep a doc iff no
        # strictly-earlier doc (by --order-col) shares an LSH band
        # bucket — the one-shot form of the streaming incremental rule
        # (streaming.dedupstream), same keep-set for any batching
        if args.pairs_out or args.clusters_out:
            print("WARN: --pairs-out/--clusters-out are not produced by "
                  "--method online (the first-wins rule emits no pair "
                  "frame — bucket openers survive directly)",
                  file=sys.stderr)
        kept_df = D.online_dedup_keep(
            df, args.id_col, args.text_col,
            seq_col=args.order_col or args.id_col,
            num_hashes=args.num_hashes, band_size=args.band_size,
            shingle_n=args.shingle_n)
    else:
        if args.method == "minhash":
            pairs = D.minhash_dedup_pairs(
                df, args.id_col, args.text_col,
                num_hashes=args.num_hashes, band_size=args.band_size,
                shingle_n=args.shingle_n,
                threshold=args.threshold
                if args.threshold is not None else 0.8,
                max_bucket_size=args.max_bucket_size)
        elif args.method == "cosine":
            # the vector-space family member: embedding-cosine near-dup
            # pairs (hyperplane-LSH self-join + exact verify) feeding
            # the same pairs → clusters → survivor terminal. The plane
            # count is sized from the corpus so bucket occupancy stays
            # constant at any scale (ann_params); dim comes from the
            # data itself — one row's vector length, not a config knob
            # that could silently disagree with it.
            from cassandra_data_migrator_spark.operators.similarity import (
                cosine_near_dup,
            )
            # sample dim from the first NON-NULL, NON-EMPTY vector — a
            # single bad row (null/empty embedding) must not abort or
            # mis-size the hyperplanes for an otherwise-valid corpus
            first = df.filter(
                F.col(args.vec_col).isNotNull()
                & (F.size(F.col(args.vec_col)) > 0)
            ).select(F.size(F.col(args.vec_col)).alias("d")).first()
            if first is None:
                raise SystemExit(
                    f"--method cosine requires a non-empty array column "
                    f"{args.vec_col!r} (no row has one)")
            pairs = cosine_near_dup(
                df, threshold=args.threshold
                if args.threshold is not None else 0.9,
                id_col=args.id_col, vec_col=args.vec_col,
                dim=int(first["d"]), n_tables=args.n_tables,
                corpus_size=n_in,
                max_bucket_size=args.max_bucket_size)
        else:
            pairs = D.simhash_dup_pairs(
                df, args.id_col, args.text_col, bits=args.bits,
                max_hamming=args.max_hamming,
                max_bucket_size=args.max_bucket_size)
        pairs = pairs.persist()
        out["dup_pairs"] = pairs.count()
        cc = D.connected_components(pairs, max_iter=args.max_iter)
        cc = cc.persist()
        out["dup_clusters"] = cc.filter(F.col("keep")).count()
        if args.pairs_out:
            pairs.write.mode("overwrite").parquet(args.pairs_out)
        if args.clusters_out:
            cc.write.mode("overwrite").parquet(args.clusters_out)
        # the shared dedup terminal: byte-priced explicit broadcast of
        # the drop set (see operators.dedup.apply_keep_list for why the
        # gate is bytes, not rows)
        kept_df = D.apply_keep_list(df, cc, args.id_col)
        # cc's labels are localCheckpoint-truncated, so the pair chain
        # is not replayed by the write below
        pairs.unpersist()
    kept_df.write.mode("overwrite").parquet(args.output)
    n_kept = spark.read.parquet(args.output).count()
    out.update({"kept_rows": n_kept, "dropped_rows": n_in - n_kept,
                "output": args.output})
    return out


def cmd_curate(args, spark) -> dict[str, Any]:
    """Corpus curation terminal (`textstats.curate_corpus` as a job):
    language gate → quality floor → repetition ceiling → exact-dup
    removal over a document corpus (lake table or raw parquet),
    writing the curated corpus, per-reason drop counts, and optionally
    the full per-document audit frame.

    Scale shape: the audit frame is computed NARROW (id + signals —
    the text payload prunes out of its one fingerprint-window shuffle,
    see PLANS.md), and the corpus itself is filtered by a byte-priced
    anti-join against the drop-id set (`dedup._anti_join_drop_ids`,
    same terminal as the dedup job) — document payloads are never
    shuffled: scan → anti-join → write.
    """
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.lake import LakeTable
    from cassandra_data_migrator_spark.operators.dedup import (
        _anti_join_drop_ids,
    )
    from cassandra_data_migrator_spark.operators.textstats import (
        curate_corpus,
    )

    try:
        df = LakeTable(spark, args.input).read()
    except FileNotFoundError:
        df = spark.read.parquet(args.input)
    n_in = df.count()
    langs = tuple(x.strip() for x in args.langs.split(",") if x.strip())
    if not langs:
        raise SystemExit("--langs must name at least one language tag")
    audit = curate_corpus(
        df.select(args.id_col, args.text_col), args.id_col,
        args.text_col, langs=langs,
        min_quality_bp=args.min_quality_bp,
        max_dup_2gram_bp=args.max_dup_2gram_bp,
    ).select(args.id_col, "lang_pred", "quality_bp", "dup_2gram_bp",
             "fingerprint", "reject_reason", "keep").persist()
    reasons = {
        (r["reject_reason"] or "kept"): r["n"]
        for r in audit.groupBy("reject_reason")
                      .agg(F.count(F.lit(1)).alias("n")).collect()}
    if args.audit_out:
        audit.write.mode("overwrite").parquet(args.audit_out)
    drop = audit.filter(~F.col("keep")).select(args.id_col)
    kept_df = _anti_join_drop_ids(df, drop, args.id_col)
    kept_df.write.mode("overwrite").parquet(args.output)
    n_kept = spark.read.parquet(args.output).count()
    audit.unpersist()
    return {"job": "curate", "input_rows": n_in, "kept_rows": n_kept,
            "dropped_rows": n_in - n_kept, "reasons": reasons,
            "output": args.output}


def _replica_hops(args) -> tuple[list, str]:
    """The ``changes`` replication hops — the ``--fanout`` spec's, or
    the one ``--replicate-to`` hop — and the bootstrap hint an expired
    changelog window prints in that mode."""
    from cassandra_data_migrator_spark.streaming.changelog import ReplicaHop

    if args.fanout and args.replicate_to:
        raise SystemExit(
            "error: --fanout and --replicate-to are exclusive "
            "(--fanout's spec names each replica)")
    if args.fanout:
        # spec: a JSON list of hops — [{"target": path, "checkpoint":
        # path, "where"?: sql, "columns"?: [..], "bootstrap"?: mode,
        # "stream_id"?: id}, ...]. A driver-local file, like
        # --properties-file.
        with open(args.fanout) as f:  # noqa: seam-exempt (CLI input)
            spec = json.load(f)
        try:
            hops = [ReplicaHop(
                target=h["target"], checkpoint=h["checkpoint"],
                where=h.get("where"), columns=h.get("columns"),
                bootstrap=h.get("bootstrap", "changelog"),
                stream_id=h.get("stream_id", "changelog"),
            ) for h in spec]
        except (KeyError, TypeError) as e:
            raise SystemExit(
                f"error: bad --fanout spec (each hop needs target + "
                f"checkpoint): {e}") from e
        return hops, ("\"bootstrap\": \"snapshot\" in the hop spec "
                      "seeds from the current state without the expired "
                      "history")
    if not args.checkpoint:
        raise SystemExit("error: --replicate-to requires --checkpoint")
    return [ReplicaHop(
        target=args.replicate_to, checkpoint=args.checkpoint,
        where=args.where,
        columns=([c.strip() for c in args.columns.split(",")
                  if c.strip()] if args.columns else None),
        bootstrap=args.bootstrap, stream_id=args.stream_id,
        merge_mode=args.replica_merge_mode,
    )], ("--bootstrap snapshot seeds a fresh replica from the current "
         "state (and re-seeds a live one) without the expired history")


def cmd_changes(args, spark) -> dict[str, Any]:
    """Cascaded CDC terminal: export a lake table's changelog between
    two versions, or replicate it into a downstream lake table through
    the checkpointed consumer (streaming/changelog.py).

    The reference's second-hop story is "re-run the whole copy"
    (``trackRun.previousRunId``); this consumes only the version delta,
    bucket-pruned by the manifest file diff."""
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.lake import LakeTable
    from cassandra_data_migrator_spark.streaming.changelog import (
        replicate_many,
    )

    table = LakeTable(spark, args.table)
    out: dict[str, Any] = {"job": "changes", "table": args.table,
                           "version": table.version}
    if args.verify:
        # cross-hop validation: replica == σ_pred(π_cols(source)),
        # proven by per-bucket counts + checksums with the source read
        # AT the consumer's committed position (race-free, no quiesce)
        if not args.checkpoint or not args.replicate_to:
            raise SystemExit(
                "error: --verify requires --checkpoint and "
                "--replicate-to (the replica to verify)")
        from cassandra_data_migrator_spark.streaming.changelog import (
            repair_replica,
            verify_replica,
        )
        try:
            replica = LakeTable(spark, args.replicate_to)
            res = verify_replica(spark, table, replica, args.checkpoint)
            if not res["match"] and args.autocorrect:
                rep = repair_replica(spark, table, replica,
                                     args.checkpoint, verification=res)
                res = rep["reverified"]
                out["repaired_buckets"] = rep["repaired_buckets"]
        except (ValueError, LookupError, FileNotFoundError) as e:
            raise SystemExit(f"error: {e}") from e
        out.update(res)
        out["target"] = args.replicate_to
        if not res["match"]:
            # a failed verification is the command's headline outcome:
            # make it visible to `&&`-gated pipelines, distinct from
            # config errors (rc 1/2)
            out["_rc"] = 3
        return out
    if args.status:
        # pure introspection: offset JSON + manifest reads, no Spark
        # jobs, nothing applied — the "how far behind is this replica"
        # question an operator asks before touching anything
        if not args.checkpoint:
            raise SystemExit("error: --status requires --checkpoint")
        from cassandra_data_migrator_spark.lake.fs import get_fs
        from cassandra_data_migrator_spark.streaming.changelog import (
            ChangelogConsumer,
            _load_hop_config,
        )
        ck_fs = get_fs(args.checkpoint)
        if not (ck_fs.isdir(args.checkpoint)
                or ck_fs.exists(os.path.join(args.checkpoint,
                                             "offset.json"))):
            # introspection must not instantiate state: a typo'd path
            # would otherwise report a plausible fresh-consumer status
            raise SystemExit(
                f"error: no such checkpoint: {args.checkpoint}")
        consumer = ChangelogConsumer(table, args.checkpoint,
                                     create=False)
        committed = consumer.committed_position
        where, columns, pinned = _load_hop_config(
            consumer.fs, args.checkpoint, None, None)
        retained = table.history()
        out.update({
            "checkpoint": args.checkpoint,
            "committed_position": committed,
            "position": consumer.position,
            "head": table.version,
            "lag_versions": table.version - consumer.position,
            "pinned": pinned,
            "where": where,
            "columns": columns,
            # a position below the earliest retained manifest means the
            # next poll raises (or snapshot-mode re-seeds)
            "position_expired": bool(retained)
            and consumer.position < retained[0],
        })
        return out

    def _merge_poll(acc: dict | None, res: dict) -> dict:
        # --follow makes many polls; the report must carry EVERY poll's
        # applied ranges and any seed version, not just the last one's
        # (the last poll of a caught-up tail is typically empty)
        if acc is None:
            return res
        by_tgt = {h["target"]: h for h in acc["hops"]}
        for h in res["hops"]:
            prev = by_tgt.get(h["target"])
            if prev is not None:
                h["batches"] = prev["batches"] + h["batches"]
                if "seeded_at_version" not in h \
                        and "seeded_at_version" in prev:
                    h["seeded_at_version"] = prev["seeded_at_version"]
        return res
    if args.fanout or args.replicate_to:
        hops, hint = _replica_hops(args)
        polls = 0
        res = None
        while True:
            try:
                res = _merge_poll(res, replicate_many(
                    spark, table, hops, max_versions=args.max_versions))
            except ValueError as e:
                # pinned-rule conflict / bad projection: config error
                raise SystemExit(f"error: {e}") from e
            except LookupError as e:
                # expired changelog window: operational error with the
                # recovery spelled out, not a traceback
                raise SystemExit(f"error: {e}\nhint: {hint}") from e
            polls += 1
            if not args.follow or (args.max_polls is not None
                                   and polls >= args.max_polls):
                break
            time.sleep(args.poll_interval)
        if args.replicate_to:
            res = {"source": res["source"], **res["hops"][0]}
        out.update(res)
        out["polls"] = polls
        return out
    if args.from_version is None:
        raise SystemExit("error: need --from-version (export mode) or "
                         "--replicate-to (replication mode)")
    ch = table.changes_between(
        args.from_version, args.to_version,
        with_ordering=args.ordering or args.as_events)
    if args.as_events:
        # interop loop: the changelog re-encoded in the engine's own
        # EVENT-LOG format (op/ts/seq + data columns, seq-range chunked
        # segments), so a plain `migrate` run — here or on another
        # deployment — ingests a lake table's delta exactly like a
        # binlog tail. Deletes carry the tombstone's (ts, seq), so the
        # downstream LWW replay orders them correctly.
        from cassandra_data_migrator_spark.sources.event_log import (
            write_event_log,
        )
        from cassandra_data_migrator_spark.streaming.changelog import (
            changes_to_events,
        )
        if not args.output:
            raise SystemExit("error: --as-events requires --output")
        ev = changes_to_events(ch, ts_col=table.ts_col)
        files = write_event_log(ev, args.output, n_chunks=args.chunks,
                                fmt=args.log_format)
        out["output"] = args.output
        out["segments"] = len(files)
        out["format"] = args.log_format
        out["v_from"] = args.from_version
        out["v_to"] = (args.to_version if args.to_version is not None
                       else table.version)
        return out
    if args.output:
        ch.write.mode("overwrite").parquet(args.output)
        out["output"] = args.output
    counts = {r["_change_type"]: r["n"] for r in
              ch.groupBy("_change_type").agg(F.count("*").alias("n"))
              .collect()}
    out["changes"] = counts
    out["v_from"] = args.from_version
    out["v_to"] = (args.to_version if args.to_version is not None
                   else table.version)
    return out


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------

def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--table", required=True, help="lake table path")
    p.add_argument("--key-col", default="url")
    p.add_argument("--ts-col", default="warc_ts")
    p.add_argument("--seq-col", default="seq")
    p.add_argument("--conf", action="append", default=[],
                   metavar="spark.cdm.K=V")
    p.add_argument("--properties-file", default=None)
    p.add_argument("--log-format", default="parquet",
                   choices=("parquet", "json", "debezium"),
                   help="event-log encoding (json = JSON-lines tail, "
                        "binary columns as base64; debezium = "
                        "Debezium-envelope JSON lines — before/after "
                        "images, op c/u/d/r, seq from source.lsn/pos)")
    p.add_argument("--merge-mode", default=None, choices=("cow", "mor"),
                   help="table write strategy when CREATING the target: "
                        "cow (copy-on-write, read-optimal) or mor "
                        "(merge-on-read delta appends, write-optimal — "
                        "fold deltas with `maintain --compact`); an "
                        "existing table keeps its own mode")
    p.add_argument("--auto-compact-deltas", type=int, default=None,
                   metavar="N",
                   help="inline MoR maintenance: after each epoch, "
                        "compact buckets holding >= N unfolded delta "
                        "files (default off; the out-of-band "
                        "alternative is `maintain --compact`)")
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", type=int, default=32)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="cassandra_data_migrator_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    m = sub.add_parser("migrate", help="event-log replay (ref Migrate)")
    _add_common(m)
    m.add_argument("--log", required=True, help="event-log path")
    m.add_argument("--schema", default=_WEB_DDL,
                   help="DDL to create the table if absent, or 'infer' "
                        "to derive it from the (feature-transformed) "
                        "event shape; feature migrations infer by "
                        "default")
    m.add_argument("--streaming", action="store_true")
    m.add_argument("--counter", action="store_true",
                   help="counter-table migration: additive merge "
                        "(stored = stored + sum(deltas)); stable fence "
                        "id by default because increments are not "
                        "idempotent")
    m.add_argument("--continuous", action="store_true",
                   help="keep tailing (default: drain and stop)")
    m.add_argument("--trigger-interval", default=None,
                   metavar="'30 seconds'",
                   help="paced micro-batches for --continuous tails "
                        "(default: as fast as batches arrive)")
    m.add_argument("--checkpoint", default=None)
    # None → streaming uses the stable "migrate" id (the checkpoint
    # already scopes the fence); batch gets a FRESH id per invocation
    # so re-running on a grown log applies the new events instead of
    # hitting the previous invocation's epoch fence
    m.add_argument("--stream-id", default=None)
    m.add_argument("--event-schema", default=None, metavar="DDL|infer",
                   help="origin event-log schema (default: the web "
                        "event shape; 'infer' reads the parquet footers;"
                        " feature migrations infer automatically)")
    m.add_argument("--n-groups", type=int, default=8,
                   help="tracked-run group count")
    m.add_argument("--canonicalize-urls", action="store_true",
                   help="canonicalize the key column before the merge "
                        "(host case, default ports, www, fragments, "
                        "tracking params, param order) — cosmetic URL "
                        "variants of one page LWW-resolve into one key")
    m.add_argument("--redact-pii", nargs="?", const="text", default=None,
                   metavar="COLS",
                   help="scrub PII (emails, phones, IPv4, SSN/card "
                        "shapes) from the named comma-separated text "
                        "columns, winner-side (bare flag: the derived "
                        "'text' column)")
    m.set_defaults(fn=cmd_migrate)

    v = sub.add_parser("validate", help="diff origin vs target "
                                        "(ref DiffData)")
    _add_common(v)
    v.add_argument("--log", required=True, help="event-log path (origin)")
    v.add_argument("--event-schema", default=None, metavar="DDL|infer")
    v.add_argument("--report", default=None, metavar="PATH",
                   help="write non-valid diff rows as parquet")
    v.add_argument("--counter", action="store_true",
                   help="counter-table validation: origin truth is the "
                        "per-key delta SUM (not an LWW window); "
                        "corrections are origin−target increments, and "
                        "MISSING corrections additionally require "
                        "spark.cdm.autocorrect.missing.counter")
    v.add_argument("--canonicalize-urls", action="store_true",
                   help="apply the migration's canonical-key stage to "
                        "the origin leg (must match the migrate flag, "
                        "or every URL variant reports MISSING)")
    v.add_argument("--redact-pii", nargs="?", const="text", default=None,
                   metavar="COLS",
                   help="apply the migration's PII scrub to the origin "
                        "leg's named columns (must match the migrate "
                        "flag, or PII-bearing rows report MISMATCH)")
    v.set_defaults(fn=cmd_validate)

    r = sub.add_parser("runs", help="dump run_info / run_details / "
                                    "per-epoch counters as JSON")
    _add_common(r)
    r.set_defaults(fn=cmd_runs)

    mt = sub.add_parser("maintain",
                        help="compact fragmented buckets + expire old "
                             "snapshots (vacuum)")
    _add_common(mt)
    mt.add_argument("--keep-last", type=int, default=3,
                    help="retained snapshot count")
    mt.add_argument("--compact", action="store_true")
    mt.add_argument("--min-files", type=int, default=2,
                    help="compact buckets holding at least this many files")
    mt.set_defaults(fn=cmd_maintain)

    de = sub.add_parser("describe",
                        help="manifest-only table introspection "
                             "(schema, versions, fences, watermarks, "
                             "file histogram; no data scan)")
    _add_common(de)
    de.add_argument("--lineage", action="store_true",
                    help="include the last commit's per-bucket "
                         "lineage rows")
    de.set_defaults(fn=cmd_describe)

    cl = sub.add_parser("clone",
                        help="zero-copy fork of a lake table at a "
                             "version (shallow; --localize to detach)")
    _add_common(cl)
    cl.add_argument("--to", required=True, help="clone target path")
    cl.add_argument("--version", type=int, default=None,
                    help="source version to pin (default: current)")
    cl.add_argument("--localize", action="store_true",
                    help="rewrite inherited buckets clone-locally so "
                         "the source can be vacuumed/deleted")
    cl.set_defaults(fn=cmd_clone)

    ev = sub.add_parser("evolve",
                        help="schema evolution: add/rename columns "
                             "through the id-based registry")
    _add_common(ev)
    ev.add_argument("--add", action="append", default=[],
                    metavar="name:type", help="add a nullable column")
    ev.add_argument("--rename", action="append", default=[],
                    metavar="old:new", help="rename a column (old "
                    "files resolve through the field id)")
    ev.add_argument("--widen", action="append", default=[],
                    metavar="name:type", help="widen a column's type "
                    "in place (lossless promotions only, e.g. "
                    "int:bigint, float:double; no file rewrite)")
    ev.add_argument("--drop", action="append", default=[],
                    metavar="name", help="drop a data column "
                    "(metadata-only; old snapshots keep it, a later "
                    "re-add gets a fresh field id)")
    ev.set_defaults(fn=cmd_evolve)

    g = sub.add_parser("guardrail", help="large-column audit "
                                         "(ref GuardrailCheck)")
    _add_common(g)
    g.add_argument("--col-size-kb", type=float, default=10.0)
    g.add_argument("--run-id", default=None,
                   help="record totals as a run_info row")
    g.set_defaults(fn=cmd_guardrail)

    dd = sub.add_parser(
        "dedup", help="near-duplicate removal over a document corpus: "
                      "pairs → connected components → survivor "
                      "keep-list → deduped parquet")
    dd.add_argument("--input", required=True, help="corpus parquet path")
    dd.add_argument("--output", required=True,
                    help="deduped corpus parquet path")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--method", default="minhash",
                    choices=("minhash", "simhash", "exact", "cosine",
                             "online"))
    dd.add_argument("--order-col", default=None,
                    help="online: arrival-order column (unique, "
                         "monotone; default --id-col) — earlier docs "
                         "win their band buckets")
    dd.add_argument("--threshold", type=float, default=None,
                    help="exact-verify floor: Jaccard for minhash "
                         "(default 0.8), cosine for cosine (default "
                         "0.9)")
    dd.add_argument("--vec-col", default="embedding",
                    help="cosine: the array<float> embedding column")
    dd.add_argument("--n-tables", type=int, default=2,
                    help="cosine: hyperplane-LSH table count (recall "
                         "vs cost; see BENCH/BASELINE.md recall curve)")
    dd.add_argument("--num-hashes", type=int, default=8)
    dd.add_argument("--band-size", type=int, default=2)
    dd.add_argument("--shingle-n", type=int, default=1)
    dd.add_argument("--bits", type=int, default=48,
                    help="simhash fingerprint width")
    dd.add_argument("--max-hamming", type=int, default=3)
    dd.add_argument("--max-bucket-size", type=int, default=None,
                    help="drop degenerate LSH/segment buckets larger "
                         "than this (skew guard; audit the would-drop "
                         "set first with dedup.oversized_buckets)")
    dd.add_argument("--max-iter", type=int, default=25,
                    help="connected-components round budget")
    dd.add_argument("--pairs-out", default=None,
                    help="also write the verified pair frame")
    dd.add_argument("--clusters-out", default=None,
                    help="also write (id, cluster_id, keep)")
    dd.add_argument("--master", default="local[*]")
    dd.add_argument("--shuffle-partitions", type=int, default=32)
    dd.set_defaults(fn=cmd_dedup)

    cu = sub.add_parser(
        "curate", help="corpus curation: language gate + quality floor "
                       "+ repetition ceiling + exact-dup removal → "
                       "curated parquet (+ optional audit frame)")
    cu.add_argument("--input", required=True,
                    help="corpus path (lake table or raw parquet)")
    cu.add_argument("--output", required=True,
                    help="curated corpus parquet path")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--langs", default="en",
                    help="comma-separated lang_id tags to keep")
    cu.add_argument("--min-quality-bp", type=int, default=4500,
                    help="quality_score floor in basis points")
    cu.add_argument("--max-dup-2gram-bp", type=int, default=2500,
                    help="duplicate-2-gram-fraction ceiling in basis "
                         "points (Gopher-style repetition gate)")
    cu.add_argument("--audit-out", default=None,
                    help="also write the per-document audit frame "
                         "(id, signals, keep, reject_reason)")
    cu.add_argument("--master", default="local[*]")
    cu.add_argument("--shuffle-partitions", type=int, default=32)
    cu.set_defaults(fn=cmd_curate)

    ch = sub.add_parser(
        "changes", help="changelog export / cascaded-CDC replication "
                        "(changes_between + checkpointed consumer)")
    ch.add_argument("--table", required=True, help="source lake table")
    ch.add_argument("--from-version", type=int, default=None,
                    help="export mode: changelog since this version")
    ch.add_argument("--to-version", type=int, default=None,
                    help="export mode: up to this version (default "
                         "current)")
    ch.add_argument("--ordering", action="store_true",
                    help="append _change_ts/_change_seq (the change's "
                         "own LWW ordering — required to replay the "
                         "export through merge_batch)")
    ch.add_argument("--output", default=None,
                    help="export mode: write the changelog as parquet")
    ch.add_argument("--as-events", action="store_true",
                    help="export mode: write --output in the engine's "
                         "EVENT-LOG format (op/ts/seq, seq-range "
                         "chunks, --log-format parquet|json) so a "
                         "plain `migrate` run ingests the delta like "
                         "a binlog tail")
    ch.add_argument("--chunks", type=int, default=8,
                    help="--as-events: segment count of the written "
                         "log")
    ch.add_argument("--log-format", default="parquet",
                    choices=("parquet", "json", "debezium"),
                    help="--as-events: segment format (json = flat "
                         "JSON lines, binary columns base64; debezium "
                         "= full Debezium envelopes a foreign CDC "
                         "consumer ingests)")
    ch.add_argument("--replicate-to", default=None,
                    help="replication mode: target lake table path "
                         "(created from the source schema when absent)")
    ch.add_argument("--checkpoint", default=None,
                    help="replication mode: consumer offset directory")
    ch.add_argument("--stream-id", default="changelog")
    ch.add_argument("--max-versions", type=int, default=None,
                    help="bound one replication epoch's version span")
    ch.add_argument("--where", default=None,
                    help="filtered replica: SQL predicate over the "
                         "change post-image; non-matching (or NULL) "
                         "changes become deletes at the same (ts, seq) "
                         "so out-of-predicate winners LEAVE the "
                         "replica. Pinned in the checkpoint on first "
                         "use")
    ch.add_argument("--columns", default=None,
                    help="projected replica: comma list of data "
                         "columns to keep (key/ts always kept). "
                         "Pinned in the checkpoint on first use")
    ch.add_argument("--fanout", default=None,
                    help="replicate to MANY downstreams from one "
                         "changelog read per delta: a JSON file "
                         "listing hops ([{target, checkpoint, where?, "
                         "columns?, bootstrap?, stream_id?}, ...]); "
                         "exclusive with --replicate-to")
    ch.add_argument("--bootstrap", choices=("changelog", "snapshot"),
                    default="changelog",
                    help="how a fresh replica gets its initial state: "
                         "'changelog' replays history from the first "
                         "retained commit (exact, O(all changes)); "
                         "'snapshot' bulk-seeds from the source's "
                         "current state and tails from there "
                         "(O(live rows), survives expired history, "
                         "re-seeds if retention overtakes the cursor)")
    ch.add_argument("--replica-merge-mode", default=None,
                    choices=("cow", "mor"),
                    help="write strategy when CREATING the replica "
                         "(default: inherit the source's; a replica "
                         "applies many small fenced epochs — the "
                         "merge-on-read sweet spot)")
    ch.add_argument("--verify", action="store_true",
                    help="cross-hop validation: prove the replica "
                         "equals the source (filtered/projected per "
                         "the pinned rule) at the consumer's committed "
                         "position via per-bucket row counts + "
                         "checksums; source read by time travel, so "
                         "no quiesce needed (needs --checkpoint + "
                         "--replicate-to)")
    ch.add_argument("--autocorrect", action="store_true",
                    help="with --verify: rebuild the mismatched "
                         "buckets as exact copies of the (filtered/"
                         "projected) source at the committed position "
                         "— convergent repair, cost scales with the "
                         "damage, consumer offset untouched")
    ch.add_argument("--status", action="store_true",
                    help="consumer-lag introspection: report the "
                         "checkpoint's committed position vs the "
                         "source head and the pinned filter/"
                         "projection, applying NOTHING (needs "
                         "--checkpoint; manifest + offset reads only)")
    ch.add_argument("--follow", action="store_true",
                    help="replication mode: keep polling instead of "
                         "exiting when caught up (paced by "
                         "--poll-interval)")
    ch.add_argument("--poll-interval", type=float, default=10.0,
                    help="seconds between --follow polls")
    ch.add_argument("--max-polls", type=int, default=None,
                    help="stop --follow after this many polls")
    ch.add_argument("--master", default="local[*]")
    ch.add_argument("--shuffle-partitions", type=int, default=32)
    ch.set_defaults(fn=cmd_changes)
    return ap


def main(argv: list[str] | None = None,
         spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "migrate" and args.streaming and not args.checkpoint:
        print("error: --streaming requires --checkpoint", file=sys.stderr)
        return 2
    if args.cmd == "migrate" and args.counter and args.streaming:
        # one epoch-fenced batch is the supported counter path (same
        # non-idempotence caveat as the reference's batchSize=1 rule)
        print("error: --counter is a batch mode (use repeated batch "
              "invocations with distinct --stream-id for incremental "
              "counter loads)", file=sys.stderr)
        return 2
    spark = spark or _session(args)
    try:
        out = args.fn(args, spark)
    except SystemExit as e:
        # subcommands raise SystemExit(2) for config errors after
        # argument parsing (e.g. TTL props against a non-TTL table);
        # return the code so embedding callers (tests, notebooks) get
        # an rc instead of an escaping exception. SystemExit payloads
        # may be None (success), an int, or a message string — map them
        # the way the interpreter would (None→0, str→printed + rc 1)
        if e.code is None:
            return 0
        if isinstance(e.code, int):
            return e.code
        print(e.code, file=sys.stderr)
        return 1
    rc = out.pop("_rc", 0)
    print(json.dumps(out))
    return rc


if __name__ == "__main__":
    sys.exit(main())
