"""The run-state side tables under ``<table>/_run`` — the reference's
``cdm_run_details`` / ``cdm_run_info`` analog
(``cql/statement/TargetUpsertRunDetailsStatement.java:63-84``).

Four tables, each a directory of small parquet parts:

- ``lineage``     one row per (epoch, touched bucket) of a pipeline merge
- ``counters``    one row per pipeline epoch (read/valid/skipped/...)
- ``run_details`` one PASS row per tracked-run bucket group
- ``run_info``    one run-level rollup per (kind, run)

Each schema is declared once, as Spark DDL; the Arrow schema the writer
uses is derived from it. Parts are written driver-side through the
table's FS seam (one ``fs.write_bytes`` = one object PUT, no Spark job:
a job per tiny append costs seconds per epoch at high core counts) under
a deterministic key, so a redelivered epoch or a re-finalized run
overwrites its part instead of duplicating it.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

SCHEMAS = {
    "lineage": (
        "epoch_id long, bucket int, live_rows long, "
        "rows_with_tombstones long, checksum long, min_seq long, "
        "max_seq long, events long, version int, stream_id string"),
    "counters": (
        "epoch_id long, read long, valid long, skipped long, "
        "quarantined long, events_applied long, buckets int, "
        "stream_id string"),
    "run_details": (
        "run_id string, grp int, sub int, n_subs int, status string, "
        "events long, buckets int, version int"),
    "run_info": (
        "run_id string, kind string, status string, epochs long, "
        "read long, valid long, skipped long, quarantined long, "
        "events_applied long, final_version int"),
}

_ARROW: dict[str, Any] = {}


def path(table, name: str) -> str:
    return os.path.join(table.path, "_run", name)


def _arrow_schema(name: str):
    # parsed on first use: StructType.fromDDL needs a live session
    if name not in _ARROW:
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType
        _ARROW[name] = to_arrow_schema(StructType.fromDDL(SCHEMAS[name]))
    return _ARROW[name]


def append(table, name: str, rows: list[dict], key: str) -> None:
    """Write ``rows`` as the part ``part-<key>.parquet`` of side table
    ``name``, replacing an existing part of that key."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema=_arrow_schema(name)),
                   sink)
    table.fs.write_bytes(os.path.join(path(table, name),
                                      f"part-{key}.parquet"),
                         sink.getvalue().to_pybytes())


def read(spark: SparkSession, table, name: str) -> DataFrame:
    """Side table ``name``; a never-written table reads as typed-EMPTY,
    not PATH_NOT_FOUND: a run over an empty log records no epoch, and a
    dashboard may poll before any run finishes."""
    p = path(table, name)
    if not table.fs.isdir(p):
        return spark.createDataFrame([], SCHEMAS[name])
    return spark.read.schema(SCHEMAS[name]).parquet(p)
