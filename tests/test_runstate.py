"""The ``_run/*`` side tables (``streaming/runstate.py``): the parquet
format their parts are written in, and typed-empty reads of tables that
were never written."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.jobs import main
from cassandra_data_migrator_spark.lake import LakeTable
from cassandra_data_migrator_spark.streaming import runstate

# The on-disk contract, spelled out literally: tables written by earlier
# releases carry exactly these Arrow types (DDL ``int`` = int32, ``long``
# = int64) and must keep reading back.
ON_DISK = {
    "lineage": pa.schema([
        ("epoch_id", pa.int64()), ("bucket", pa.int32()),
        ("live_rows", pa.int64()), ("rows_with_tombstones", pa.int64()),
        ("checksum", pa.int64()), ("min_seq", pa.int64()),
        ("max_seq", pa.int64()), ("events", pa.int64()),
        ("version", pa.int32()), ("stream_id", pa.string()),
    ]),
    "counters": pa.schema([
        ("epoch_id", pa.int64()), ("read", pa.int64()),
        ("valid", pa.int64()), ("skipped", pa.int64()),
        ("quarantined", pa.int64()), ("events_applied", pa.int64()),
        ("buckets", pa.int32()), ("stream_id", pa.string()),
    ]),
    "run_details": pa.schema([
        ("run_id", pa.string()), ("grp", pa.int32()), ("sub", pa.int32()),
        ("n_subs", pa.int32()), ("status", pa.string()),
        ("events", pa.int64()), ("buckets", pa.int32()),
        ("version", pa.int32()),
    ]),
    "run_info": pa.schema([
        ("run_id", pa.string()), ("kind", pa.string()),
        ("status", pa.string()), ("epochs", pa.int64()),
        ("read", pa.int64()), ("valid", pa.int64()),
        ("skipped", pa.int64()), ("quarantined", pa.int64()),
        ("events_applied", pa.int64()), ("final_version", pa.int32()),
    ]),
}


def _row(schema: pa.Schema) -> dict:
    return {f.name: (f"v-{f.name}" if pa.types.is_string(f.type) else i)
            for i, f in enumerate(schema)}


def _table(spark, tmpdir_path):
    return LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"),
        T.StructType.fromDDL("url string, warc_ts timestamp"),
        EngineConfig(n_buckets=4))


def test_append_writes_the_on_disk_format(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    assert sorted(runstate.SCHEMAS) == sorted(ON_DISK)
    for name, schema in ON_DISK.items():
        row = _row(schema)
        runstate.append(t, name, [row], "k")
        part = os.path.join(t.path, "_run", name, "part-k.parquet")
        assert pq.read_schema(part).equals(schema), name
        # byte-identical to a write under the literal schema
        sink = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pylist([row], schema=schema), sink)
        with open(part, "rb") as f:
            assert f.read() == sink.getvalue().to_pybytes(), name
        assert [r.asDict() for r in
                runstate.read(spark, t, name).collect()] == [row], name
        # same key: the part is replaced, not duplicated
        runstate.append(t, name, [row], "k")
        assert runstate.read(spark, t, name).count() == 1, name


def test_fresh_tables_read_typed_empty(spark, tmpdir_path, capsys):
    t = _table(spark, tmpdir_path)
    for name, ddl in runstate.SCHEMAS.items():
        df = runstate.read(spark, t, name)
        assert df.count() == 0, name
        assert df.schema == T.StructType.fromDDL(ddl), name
    assert main(["runs", "--table", t.path], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["run_info"] == [] and out["run_details"] == []
    assert out["epochs"] == []
