"""Standalone guardrail-check job — the reference's ``GuardrailCheck``
analog.

The reference ships guardrail checking as a third job type next to
migrate/diff (``job/GuardrailCheck.scala:22-52``): it scans the origin
by partition ranges, counts READ / LARGE / VALID per slice plus
PARTITIONS_PASSED, logs each failing row, and prints the metric totals
at job end (``job/GuardrailCheckJobSession.java:45-80``). No data is
written — it is a pre-flight sizing audit run before a migration.

Spark-first shape: the per-row check is the existing all-JVM
:func:`~cassandra_data_migrator_spark.operators.filters.guardrail_check`
expression set (no UDF), the per-slice counters become ONE
aggregation grouped by hash bucket (the engine's token-range analog,
``functions/hashing.py``), and the job-end metric print becomes a
``run_info`` row (kind=``guardrail``, status ``ENDED``) through the
same metadata seam the other jobs use — so ``cdm-assert.sh``-style
total asserts read one table for every job type.

Scale: one scan of the audited table, one partial-aggregated
groupBy over ``n_buckets`` keys (map-side combined — shuffle rows
bounded by buckets × tasks, not data rows). The failing-row frame is
returned lazily; materializing it is the caller's choice, exactly like
the reference's per-row error log.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.functions.hashing import bucket_expr
from cassandra_data_migrator_spark.operators.filters import guardrail_check
from cassandra_data_migrator_spark.streaming import runstate

GUARDRAIL_BUCKET_SCHEMA = (
    "bucket int, read long, valid long, large long"
)


@dataclass
class GuardrailReport:
    """Job-end totals in the reference's counter vocabulary
    (``JobCounter.CounterType`` READ/VALID/LARGE + partition counts),
    plus the failing rows for inspection."""

    totals: dict[str, int] = field(default_factory=dict)
    per_bucket: DataFrame | None = None
    large_rows: DataFrame | None = None


def run_guardrail_check(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    col_size_kb: float = 10.0,
    key_col: str | None = None,
    n_buckets: int = 16,
    table=None,
    run_id: str | None = None,
) -> GuardrailReport:
    """Run the guardrail job over ``df`` and return its report.

    ``key_col`` enables the per-bucket breakdown (the reference's
    per-slice counters); without it the job is a single global
    aggregate. When ``table`` and ``run_id`` are given, the totals are
    recorded as a run-level ``run_info`` row (kind ``guardrail``) so
    run-summary tooling sees guardrail audits next to migrations —
    LARGE maps onto the ``quarantined`` column (both mean "rows the
    job refused to pass through"), documented here because the
    run-info schema is shared across job kinds.
    """
    checked = guardrail_check(df, cols, col_size_kb)
    large_flag = F.col("guardrail_large")
    aggs = [
        F.count(F.lit(1)).alias("read"),
        F.sum(F.when(~large_flag, 1).otherwise(0)).alias("valid"),
        F.sum(F.when(large_flag, 1).otherwise(0)).alias("large"),
    ]
    per_bucket = None
    if key_col is not None:
        row_iter = (
            checked
            .withColumn("bucket", bucket_expr(key_col, n_buckets))
            .groupBy("bucket").agg(*aggs)
            .collect()  # ≤ n_buckets rows
        )
        # rebuild the per-bucket frame from the ALREADY-collected rows:
        # returning the lazy aggregation would re-scan the whole audited
        # table the first time a caller touches report.per_bucket
        spark = df.sparkSession
        per_bucket = spark.createDataFrame(
            [r.asDict() for r in row_iter], GUARDRAIL_BUCKET_SCHEMA)
        totals = {
            "read": sum(r["read"] for r in row_iter),
            "valid": sum(r["valid"] for r in row_iter),
            "large": sum(r["large"] for r in row_iter),
            "partitions_passed": len(row_iter),
        }
    else:
        r = checked.agg(*aggs).collect()[0]
        totals = {"read": r["read"], "valid": int(r["valid"] or 0),
                  "large": int(r["large"] or 0), "partitions_passed": 1}

    if table is not None and run_id is not None:
        runstate.append(table, "run_info", [{
            "run_id": run_id, "kind": "guardrail", "status": "ENDED",
            "epochs": totals["partitions_passed"], "read": totals["read"],
            "valid": totals["valid"], "skipped": 0,
            "quarantined": totals["large"], "events_applied": 0,
            "final_version": table.version,
        }], f"guardrail-{run_id}")

    return GuardrailReport(
        totals=totals,
        per_bucket=per_bucket,
        large_rows=checked.filter(large_flag),
    )
