"""Streaming online dedup: first-wins near-dup removal on the ingest
path.

The batch dedup job (``jobs.cmd_dedup``) answers "dedup THIS corpus";
a training-data ingest pipeline needs the stream form: documents
arrive continuously and each must be kept or dropped now, against
everything already seen. This module wires
:func:`~cassandra_data_migrator_spark.operators.dedup.incremental_dedup_batch`
(the per-batch form of the online first-wins rule — see the semantics
note in ``operators/dedup.py``) into Structured Streaming
``foreachBatch`` with TWO fenced lake tables:

- the **band index** (:func:`operators.dedup.create_band_index`):
  one row per seen LSH band bucket, recording its opener; merged
  first-opener-wins under the epoch fence, probed with bucket pruning.
- the **kept corpus**: the surviving documents, LWW-merged under the
  SAME ``(stream_id, epoch_id)`` fence.

Exactly-once across the two tables without a cross-table transaction:
per epoch the index commits first, then the corpus. A crash between
the two replays the epoch — the index merge is a fenced no-op, the
probe recomputes the identical keep-set from the (already-updated)
index because the dup rule compares strictly against the opener's
seq, and the corpus merge applies once. A full replay of a committed
epoch no-ops at both fences. The same argument makes the result
independent of ``maxFilesPerTrigger``: the keep-set equals the
one-shot :func:`operators.dedup.online_dedup_keep` for ANY batching
(asserted in ``tests/test_online_dedup.py``).

No reference analog (CDM has no dedup); this is the LLM-pipeline
brief's dedup family meeting the engine's CDC machinery.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cassandra_data_migrator_spark.lake.table import LakeTable
from cassandra_data_migrator_spark.operators.dedup import (
    incremental_dedup_batch,
)


def apply_dedup_epoch(
    spark: SparkSession,
    index_path: str,
    out_path: str,
    batch_df: DataFrame,
    epoch_id: int,
    id_col: str,
    text_col: str,
    seq_col: str,
    stream_id: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    ts_col: str = "ingest_seq",
    fs: Any | None = None,
) -> int:
    """One epoch of the online-dedup stream: index-merge + probe + kept
    corpus merge. Returns the kept-row count (driver-side scalar only —
    the payload never leaves executors).

    Both tables are opened per epoch at their latest manifest version,
    which makes the function restartable from any checkpoint. A racing
    ``maintain`` compaction that takes a manifest version first is
    retried inside each merge (fence + idempotent LWW); the index probe
    then reads the state the index merge committed against.
    """
    kept = incremental_dedup_batch(
        LakeTable(spark, index_path, fs=fs), batch_df, id_col, text_col,
        seq_col, num_hashes=num_hashes, band_size=band_size,
        shingle_n=shingle_n, stream_id=stream_id, epoch_id=epoch_id)

    # the corpus table's LWW version column (``ts_col``, default
    # ``ingest_seq``) is the document's own seq — distinct from the key
    # column (the table contract forbids key == ts), synthesized here
    # when the stream doesn't already carry it
    src = kept.withColumn("_op", F.lit("upsert"))
    if ts_col not in src.columns:
        src = src.withColumn(ts_col, F.col(seq_col).cast("long"))
    result = LakeTable(spark, out_path, fs=fs).merge_batch(
        src, op_col="_op", seq_col=ts_col,
        stream_id=stream_id, epoch_id=epoch_id)
    # events = this epoch's kept-source rows per the merge's own probe
    # (NOT the rewritten table rows) — the per-epoch kept count
    return int(sum((l.get("events") or 0) for l in result.lineage))


def run_online_dedup_stream(
    spark: SparkSession,
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_col: str = "doc_id",
    stream_id: str = "online-dedup",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    ts_col: str = "ingest_seq",
    available_now: bool = True,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Tail an append-only document ``stream`` (any streaming
    DataFrame with ``id_col``/``text_col``/``seq_col``; ``seq_col``
    must be globally unique and arrival-monotone — a CDC ``seq`` or a
    crawl's ``doc_id``) and maintain the deduped corpus at
    ``out_path`` plus the band index at ``index_path``. Both tables
    must exist: :func:`operators.dedup.create_band_index`, and the
    corpus via ``LakeTable.create`` keyed on ``id_col`` with LWW
    column ``ts_col`` (default ``ingest_seq``, a long filled with the
    doc's seq — the table contract needs a version column distinct
    from the key).

    ``available_now=True`` drains the current log and stops
    (deterministic for tests/bench); ``False`` keeps tailing, on a
    fixed cadence with ``processing_time`` (e.g. ``"30 seconds"``).
    Exactly-once: Structured Streaming checkpoint for source offsets +
    both tables' epoch fences for the sink (see module docstring for
    the two-table crash argument).
    """
    writer = (
        stream.writeStream
        .foreachBatch(lambda df, eid: apply_dedup_epoch(
            spark, index_path, out_path, df, eid,
            id_col, text_col, seq_col, stream_id,
            num_hashes=num_hashes, band_size=band_size,
            shingle_n=shingle_n, ts_col=ts_col))
        .option("checkpointLocation", checkpoint_dir)
        .queryName(stream_id)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
