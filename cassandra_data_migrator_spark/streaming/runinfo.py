"""Run-level summary — the reference's ``cdm_run_info`` analog.

The reference keeps one run-level row per job holding the run's final
totals and an ENDED marker
(``cql/statement/TargetUpsertRunDetailsStatement.java:63-84`` — the
``cdm_run_info`` table with ``status``/``run_info`` columns updated at
job end), and its SIT harness asserts on those totals
(``SIT/cdm-assert.sh:25-33`` greps expected counter values out of the
run log). Here the same rollup is computed from the engine's per-epoch
counters / per-group run_details side tables and persisted as one row
in ``_run/run_info`` through the metadata-FS seam.

Scale: the rollup aggregates the tiny side tables (one row per epoch /
group — thousands of rows for a 10^10-event replay), never the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.streaming import runstate
from cassandra_data_migrator_spark.streaming.pipeline import CdcPipeline
from cassandra_data_migrator_spark.streaming.trackrun import BatchRunTracker

_TOTAL_KEYS = ("read", "valid", "skipped", "quarantined", "events_applied")


def run_info(spark: SparkSession, table) -> DataFrame:
    """All run-level rows recorded for this table (typed-EMPTY before
    any run is finalized — this is the frame a dashboard polls)."""
    return runstate.read(spark, table, "run_info")


def finalize_stream_run(pipeline: CdcPipeline,
                        status: str = "ENDED") -> dict[str, int]:
    """Roll this pipeline's per-epoch counters up into one ENDED row
    keyed by its ``stream_id``; idempotent (deterministic object key —
    re-finalizing overwrites with the fresh rollup). Returns the totals
    in ``cdm-assert.sh`` shape."""
    agg = (
        pipeline.counters()
        .filter(F.col("stream_id") == pipeline.stream_id)
        .agg(F.count("*").alias("epochs"),
             *[F.sum(k).alias(k) for k in _TOTAL_KEYS])
        .collect()[0].asDict()
    )
    totals = {k: int(agg[k] or 0) for k in ("epochs", *_TOTAL_KEYS)}
    row = {"run_id": pipeline.stream_id, "kind": "stream", "status": status,
           **totals, "final_version": pipeline.table.version}
    runstate.append(pipeline.table, "run_info", [row],
                    f"stream-{pipeline.stream_id}")
    return totals


def finalize_tracked_run(tracker: BatchRunTracker, run_id: str,
                         status: str | None = None, skipped: int = 0,
                         quarantined: int = 0) -> dict[str, int]:
    """Roll a tracked batch run's per-group PASS rows up into one
    run-level row. ``status`` defaults to ENDED when every group
    passed, else STARTED (the reference only writes ENDED on a complete
    run — a pending run keeps its in-flight marker,
    ``TargetUpsertRunDetailsStatement.java:180-216``). ``skipped`` /
    ``quarantined`` carry the run's filter-reject counts (the tracked
    path counts them once up front, not per group)."""
    if status is None:
        status = "ENDED" if not tracker.pending_groups(run_id) else "STARTED"
    agg = (
        tracker.run_details()
        # PASS_UNKNOWN_TOTALS (fenced-skip recovery after manifest
        # expiry) counts as complete but contributes zero events
        .filter((F.col("run_id") == run_id)
                & F.col("status").startswith("PASS"))
        .agg(F.count("*").alias("epochs"),
             F.sum("events").alias("events_applied"))
        .collect()[0].asDict()
    )
    applied = int(agg["events_applied"] or 0)
    totals = {"epochs": int(agg["epochs"] or 0),
              "read": applied + skipped + quarantined,
              "valid": applied, "skipped": skipped,
              "quarantined": quarantined, "events_applied": applied}
    row = {"run_id": run_id, "kind": "tracked", "status": status,
           **totals, "final_version": tracker.table.version}
    runstate.append(tracker.table, "run_info", [row], f"tracked-{run_id}")
    return totals
