"""The CDC pipeline: change-event stream → filters → transforms → MERGE.

Reference lifecycle being reproduced (SURVEY.md §3.1): the Migrate job's
per-token-range loop — scan, filter, transform, batched upsert, per-range
run-state + counters (``job/CopyJobSession.java:68-139``) — becomes a
Structured Streaming query:

    readStream(event log) → foreachBatch:
        split (valid / skipped / quarantined)        [F3-F5]
        salted repartition (hot-domain skew)          [north_rule]
        vectorized transforms (html→text, lang)       [pandas UDFs]
        LakeTable.merge_batch (LWW + tombstones)      [S4/S5/J3]
        lineage + counters append                     [S7/A2]

Exactly-once: Spark's checkpoint gives at-least-once foreachBatch
delivery; the lake table's epoch fence (``LakeTable.merge_batch``
stream_id/epoch_id) turns redelivery into a no-op, and each merge is one
atomic manifest commit — together: exactly-once table state. Replaying
from ANY checkpoint (or from scratch) converges to the same final state
because the merge is idempotent under LWW (reference rerun-idempotence
claim, ``README.md:117-126``).

Scale: the only per-epoch driver work is the bucket list and manifest
write; all row work is distributed. Trigger size (maxFilesPerTrigger)
replaces the reference's per-worker rate limiter
(``properties/KnownProperties.java:181-184``).
"""

from __future__ import annotations

import os
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.functions.hashing import (
    salted_partition_exprs,
)
from cassandra_data_migrator_spark.functions.udfs import extract_text, normalize_lang
from cassandra_data_migrator_spark.lake.table import (
    LakeTable,
    MergeResult,
    Probe,
)
from cassandra_data_migrator_spark.operators.filters import split_predicates
from cassandra_data_migrator_spark.sources.event_log import read_event_stream
from cassandra_data_migrator_spark.streaming import runstate


def _redact(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """PII scrub of ``cols`` (functions/pii.py; absent columns are
    skipped). Idempotent, so a row redacted pre-merge by the eager path
    is unchanged by a later re-run."""
    if cols:
        from cassandra_data_migrator_spark.functions.pii import (
            redact_pii_expr,
        )
        for c in cols:
            if c in df.columns:
                df = df.withColumn(c, redact_pii_expr(c))
    return df


def finalize_winners(df: DataFrame,
                     redact_cols: tuple[str, ...] = ()) -> DataFrame:
    """The winner-side scalar stage: fill ``text`` from ``html`` for
    rows that arrived without it, normalize the ``lang`` tag, redact
    ``redact_cols``. All three are pure + idempotent, so running them
    on merged LWW winners equals running them on every change event,
    and re-running them on a stored winner yields the identical value.
    It runs wherever winners are produced or compared: the pipeline's
    lazy merge, the tracked ``migrate``, and both the origin leg and
    the autocorrect of ``validate``.

    Keeping EVERY pandas UDF out of the pre-merge path matters beyond
    the row-count cut: an ArrowEvalPython node in the scan stage breaks
    whole-stage codegen and materializes all pass-through columns (the
    fat html payload included) around the Python boundary for every
    source row; winner-side, the one fused Arrow node touches each
    surviving row once. For the DERIVED text column winner-side is also
    the only point where there is text to redact at all."""
    cols = set(df.columns)
    if "html" in cols and "text" in cols:
        # the UDF's input is null wherever text is already there: a
        # pandas UDF under coalesce still runs on every row, and a fold
        # or a CoW rewrite would otherwise ship every stored row's html
        # to Python
        text = F.col("text")
        df = df.withColumn("text", F.coalesce(
            text, extract_text(F.when(text.isNull(), F.col("html")))))
    if "lang" in cols:
        df = df.withColumn("lang", normalize_lang(F.col("lang")))
    return _redact(df, redact_cols)


class CdcPipeline:
    """Applies a change-event stream/log to a LakeTable."""

    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        config: EngineConfig | None = None,
        stream_id: str = "cdc",
        unset_nulls: bool = False,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        lazy_extract: bool = True,
        event_schema=None,
        redact_cols: tuple[str, ...] = (),
    ):
        self.spark = spark
        self.table = table
        self.config = config or EngineConfig(n_buckets=table.n_buckets)
        self.stream_id = stream_id
        self.unset_nulls = unset_nulls
        # observability: commit races this pipeline's merges lost (to
        # table maintenance or a rival writer) and retried, summed over
        # their MergeResult.conflict_retries
        self.conflict_retries = 0
        self.transform = transform
        # PII redaction: winner-side in finalize_winners (lazy), pre-merge
        # in _prepare (eager)
        self.redact_cols = tuple(redact_cols)
        # lazy_extract: run the Arrow html→text extraction on the merged
        # LWW WINNERS (once per surviving key) instead of on every
        # change event pre-merge. At K events/key/epoch this divides the
        # dominant UDF cost by K and keeps the derived text column out
        # of the merge shuffle. extract_text is pure+deterministic, so
        # winner-side extraction is byte-identical to pre-merge
        # extraction (the north-rule per-url invariant). Side effects:
        # - incompatible with unset_nulls (a src row's null text must
        #   mean "explicitly unset", not "not yet derived") → disabled;
        # - the pre-merge salted repartition becomes moot: the UDF now
        #   runs on one row per key (winner set — skew-free by
        #   construction), so there is no hot-domain CPU stage left to
        #   level and the salt shuffle would be pure cost.
        self.lazy_extract = lazy_extract and not unset_nulls
        self.event_schema = event_schema  # None → sources.event_log.EVENT_SCHEMA
        self.skipped_path = os.path.join(table.path, "_run", "skipped")
        self.quarantine_path = os.path.join(table.path, "_run", "quarantine")

    # ------------------------------------------------------------ core

    def _prepare(self, events: DataFrame,
                 epoch_id: int) -> tuple[DataFrame, Probe | None, int, int]:
        """Filters + vectorized transforms; returns ``(batch, probe,
        n_skip, n_quar)``.

        ONE probe over the status-tagged batch yields the reject counts
        together with everything the merge needs from its own probe
        (touched buckets, lineage offsets, per-key winner versions).
        Reject ROWS are only written when their count is non-zero (the
        rare path), and always before the merge commits: the epoch fence
        then guards their exactly-once. A custom ``transform`` may add
        or drop rows and reshape the key, so there one thin count of the
        tagged frame gives the reject counts and the merge probes the
        transformed batch itself (``probe`` is None). Otherwise the
        caller unpersists the returned probe after the merge."""
        out, keep, valid_keys = split_predicates(events, self.config)
        tag = out.withColumn(
            "_status",
            F.when(~valid_keys, F.lit("quarantined"))
             .when(~keep, F.lit("skipped")))
        if self.transform is None:
            probe = self.table.probe(tag, seq_col=self.config.seq_col,
                                     status_col="_status")
            rejects = probe.rejects
        else:
            probe = None
            rejects = {r["_status"]: r["count"] for r in
                       tag.groupBy("_status").count().collect()}
        n_skip = rejects.get("skipped", 0)
        n_quar = rejects.get("quarantined", 0)
        for label, n, path in (("skipped", n_skip, self.skipped_path),
                               ("quarantined", n_quar, self.quarantine_path)):
            if n:
                self._side_sink(tag.filter(F.col("_status") == label)
                                .drop("_status"), path, epoch_id)
        batch = tag.filter(F.col("_status").isNull()).drop("_status")
        if not self.lazy_extract:
            # break hot-domain skew BEFORE the expensive Python UDF stage:
            # rows are independent here, so a salted repartition levels
            # Arrow batch work across tasks even if one domain dominates.
            # The partition count is explicit — AQE would coalesce this
            # shuffle by byte size and starve the CPU-bound Arrow stage
            # (UDF cost is invisible to AQE's size-based coalescing).
            n_tasks = max(self.spark.sparkContext.defaultParallelism * 2, 16)
            batch = batch.repartition(
                n_tasks,
                *salted_partition_exprs(self.config.key_col,
                                        self.config.n_buckets,
                                        self.config.salt_buckets)
            )
            # eager text rule: derive only when the column is absent — a
            # null text here means UNSET under unset_nulls
            if "html" in batch.columns and "text" not in batch.columns:
                batch = batch.withColumn("text", extract_text(F.col("html")))
            if "lang" in batch.columns:
                batch = batch.withColumn("lang",
                                         normalize_lang(F.col("lang")))
            batch = _redact(batch, self.redact_cols)
        if self.transform is not None:
            batch = self.transform(batch)
        return batch, probe, n_skip, n_quar

    def _side_sink(self, df: DataFrame, path: str, epoch_id: int) -> None:
        """Persist this epoch's rejected rows (the caller already knows
        their count from the probe and calls this only when it is
        non-zero).

        DATA-plane I/O by design: rejected rows can be arbitrarily many,
        so they are written by Spark itself (any Hadoop-visible URI —
        local, s3a, gs), not the driver-side metadata seam. Only bounded
        driver-side bookkeeping (lineage, counters, run_details,
        manifests) routes through ``table.fs``. Overwrite keeps
        checkpoint redelivery of the epoch idempotent.
        """
        df.write.mode("overwrite").parquet(
            os.path.join(path, f"epoch={epoch_id}"))

    def apply_batch(self, events: DataFrame, epoch_id: int) -> MergeResult:
        """One micro-batch: the foreachBatch body (also callable directly
        for batch replays)."""
        batch, probe, n_skip, n_quar = self._prepare(events, epoch_id)
        # no persist of the batch itself: the probe pass prunes to thin
        # columns, so the Arrow UDF transform columns are computed
        # exactly once — in the merge's write traversal. Caching the
        # full transformed batch would materialize the whole payload
        # (html+text) per epoch for no saved work.
        try:
            # a rival commit under this epoch's feet (normally table
            # maintenance racing the live tail) is retried inside the
            # merge, against the reloaded manifest and with this probe
            result = self.table.merge_batch(
                batch,
                seq_col=self.config.seq_col,
                stream_id=self.stream_id,
                epoch_id=epoch_id,
                unset_nulls=self.unset_nulls,
                finalize=partial(finalize_winners,
                                 redact_cols=self.redact_cols)
                if self.lazy_extract else None,
                probe=probe,
                fold_min_deltas=self.config.mor_compact_min_deltas,
            )
        finally:
            if probe is not None:
                probe.unpersist()
        self.conflict_retries += result.conflict_retries
        if not result.skipped:
            self._record(result, epoch_id, n_skip, n_quar)
        return result

    def _record(self, result: MergeResult, epoch_id: int,
                n_skip: int, n_quar: int) -> None:
        """Append lineage + counter rows for this epoch."""
        rows = [
            {"epoch_id": epoch_id, "bucket": r["_bucket"],
             "live_rows": r["live_rows"],
             "rows_with_tombstones": r["rows_with_tombstones"],
             "checksum": r["checksum"],
             "min_seq": r.get("min_seq"), "max_seq": r.get("max_seq"),
             "events": r.get("events"), "version": result.version,
             "stream_id": self.stream_id}
            for r in result.lineage
        ]
        key = f"{self.stream_id}-{epoch_id}"
        if rows:
            runstate.append(self.table, "lineage", rows, key)
        c = result.counters or {}
        runstate.append(self.table, "counters", [{
            "epoch_id": epoch_id,
            "read": c.get("events", 0) + n_skip + n_quar,
            "valid": c.get("events", 0), "skipped": n_skip,
            "quarantined": n_quar,
            "events_applied": c.get("events", 0),
            "buckets": c.get("buckets", 0), "stream_id": self.stream_id,
        }], key)

    # ------------------------------------------------------- entrypoints

    def run_batch(self, events: DataFrame, epoch_id: int = 0) -> MergeResult:
        """One-shot batch replay (reference Migrate over a static origin)."""
        return self.apply_batch(events, epoch_id)

    def run_stream(
        self,
        log_path: str,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
        processing_time: str | None = None,
        log_format: str = "parquet",
    ) -> StreamingQuery:
        """Tail the event log; exactly-once via checkpoint + epoch fence.

        ``available_now=True`` drains everything currently in the log and
        stops (deterministic for tests/bench); ``False`` keeps tailing —
        as fast as batches arrive by default, or on a fixed cadence with
        ``processing_time`` (e.g. ``"30 seconds"``; the paced analog of
        the reference's rate limiter for a long-lived tail, amortizing
        per-epoch commit overhead when the log grows slowly).
        """
        mft = max_files_per_trigger or self.config.max_files_per_trigger
        stream = read_event_stream(self.spark, log_path, mft,
                                   schema=self.event_schema,
                                   fmt=log_format,
                                   ts_col=self.config.ts_col,
                                   seq_col=self.config.seq_col)
        writer = (
            stream.writeStream
            .foreachBatch(lambda df, eid: self.apply_batch(df, eid))
            .option("checkpointLocation", checkpoint_dir)
            .queryName(self.stream_id)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    # --------------------------------------------------------- queries

    def lineage(self) -> DataFrame:
        return runstate.read(self.spark, self.table, "lineage")

    def counters(self) -> DataFrame:
        return runstate.read(self.spark, self.table, "counters")
