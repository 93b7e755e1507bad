"""spark.cdm.transform.* / writetime-TTL property family through the
job CLI — the last block of the reference's property surface
(``properties/KnownProperties.java:120-130,195-206``): custom
writetime/TTL, writetime/TTL source columns, map null scrub, type
codecs, and the counter-table validate with its
``autocorrect.missing.counter`` safety gate
(``job/DiffJobSession.java:207-212``)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.jobs import apply_properties, main
from cassandra_data_migrator_spark.lake import LakeTable
from cassandra_data_migrator_spark.operators.features import build_featureset
from cassandra_data_migrator_spark.sources import (
    gen_change_events,
    write_event_log,
)


def _run(spark, capsys, argv):
    assert main(argv, spark=spark) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_transform_property_parsing():
    """The whole transform family routes to the featureset — no
    warnings, no unknown-key raises (these were warn-ignored before)."""
    cfg, job, warnings = apply_properties(EngineConfig(), {
        "spark.cdm.transform.custom.writetime": "1700000000000000",
        "spark.cdm.transform.custom.writetime.incrementBy": "3",
        "spark.cdm.transform.custom.ttl": "3600",
        "spark.cdm.transform.map.remove.null.value": "true",
        "spark.cdm.transform.codecs": "TIMESTAMP_STRING_FORMAT",
        "spark.cdm.transform.codecs.timestamp.string.format":
            "yyMMddHHmmss",
        "spark.cdm.transform.codecs.timestamp.string.zone": "Japan",
        "spark.cdm.schema.origin.column.writetime.names": "wt1,wt2",
        "spark.cdm.schema.origin.column.writetime.automatic": "true",
        "spark.cdm.schema.origin.column.ttl.names": "t1",
        "spark.cdm.schema.origin.column.ttl.automatic": "true",
        "spark.cdm.schema.ttlwritetime.calc.useCollections": "true",
        "spark.cdm.autocorrect.missing.counter": "true",
    })
    assert warnings == []
    assert job["autocorrect_missing_counter"] is True
    feat = build_featureset(job["features"])
    assert feat.custom_writetime == 1700000000000000
    assert feat.writetime_increment == 3
    assert feat.custom_ttl == 3600
    assert feat.scrub_map_nulls is True
    assert feat.codecs == ("TIMESTAMP_STRING_FORMAT",)
    assert feat.codec_ts_format == "yyMMddHHmmss"
    assert feat.codec_ts_zone == "Japan"
    assert feat.writetime_names == ("wt1", "wt2")
    assert feat.ttl_names == ("t1",)
    assert feat.use_collections is True
    assert feat.adds_expiry and not feat.reshapes
    assert feat.needs_origin_inference  # writetime cols imply shape

    # negative custom writetime disables (WritetimeTTL.java:362-365)
    f2 = build_featureset(
        {"spark.cdm.transform.custom.writetime": "-5"})
    assert f2.custom_writetime == 0 and not f2

    # TIMESTAMP_STRING_FORMAT without a format is a config error
    with pytest.raises(ValueError, match="TIMESTAMP_STRING_FORMAT"):
        build_featureset(
            {"spark.cdm.transform.codecs": "TIMESTAMP_STRING_FORMAT"})


def test_custom_writetime_and_ttl_migrate_validate(
        spark, tmpdir_path, capsys):
    """Constant writetime (all rows tie → seq decides LWW) + constant
    TTL (expires_at materialized; read(as_of) honors it); validate
    under the same properties is clean."""
    log = os.path.join(tmpdir_path, "log")
    write_event_log(gen_change_events(spark, n_urls=40, n_events=200,
                                      seed=3), log, n_chunks=2)
    table = os.path.join(tmpdir_path, "t")
    conf = ["--conf", "spark.cdm.transform.custom.writetime="
                      "1700000000000000",
            "--conf", "spark.cdm.transform.custom.ttl=3600"]
    out = _run(spark, capsys,
               ["migrate", "--log", log, "--table", table] + conf)
    assert out["events_applied"] == 200

    t = LakeTable(spark, table)
    assert t.expires_col == "expires_at"
    want_ts = dt.datetime(2023, 11, 14, 22, 13, 20)
    distinct = t.read().select("warc_ts", "expires_at").distinct().collect()
    assert len(distinct) == 1
    assert distinct[0]["warc_ts"] == want_ts
    assert distinct[0]["expires_at"] == want_ts + dt.timedelta(hours=1)

    # read(as_of) honors the expiry
    n = t.read().count()
    assert t.read(as_of=want_ts + dt.timedelta(minutes=30)).count() == n
    assert t.read(as_of=want_ts + dt.timedelta(hours=2)).count() == 0

    out = _run(spark, capsys,
               ["validate", "--log", log, "--table", table] + conf)
    assert out["mismatch"] == 0 and out["missing"] == 0
    assert out["extra_target"] == 0


def test_writetime_names_scrub_and_diff_on_maps(
        spark, tmpdir_path, capsys):
    """writetime.names → row ts = max(cols)+incrementBy µs; map null
    scrub through the CLI; and the merge/diff paths handle map-typed
    data columns (canonicalized checksum + comparison)."""
    rows = [("u1", dt.datetime(2024, 1, 1), {"a": "1", "b": None},
             1700000000000005, 1700000000000009, "update", 1),
            ("u2", dt.datetime(2024, 1, 2), {"c": None},
             1700000000000007, 1700000000000003, "update", 2)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, m map<string,string>, "
              "wt1 long, wt2 long, op string, seq long")
    log = os.path.join(tmpdir_path, "mlog")
    write_event_log(df, log, n_chunks=1)
    table = os.path.join(tmpdir_path, "mt")
    conf = ["--conf", "spark.cdm.transform.map.remove.null.value=true",
            "--conf",
            "spark.cdm.schema.origin.column.writetime.names=wt1,wt2",
            "--conf",
            "spark.cdm.transform.custom.writetime.incrementBy=2"]
    _run(spark, capsys, ["migrate", "--log", log, "--table", table] + conf)

    got = {r["url"]: (dict(r["m"]), r["warc_ts"])
           for r in LakeTable(spark, table).read().collect()}
    base = dt.datetime(2023, 11, 14, 22, 13, 20)
    assert got["u1"] == ({"a": "1"},
                         base + dt.timedelta(microseconds=11))
    assert got["u2"] == ({}, base + dt.timedelta(microseconds=9))

    # the validate diff compares the map column without blowing up on
    # Spark's no-hash/no-equality-on-MAP rules
    out = _run(spark, capsys,
               ["validate", "--log", log, "--table", table] + conf)
    assert out["valid"] == 2 and out["mismatch"] == 0


def test_codec_reconciliation_migrate_validate(spark, tmpdir_path,
                                               capsys):
    """TIMESTAMP_STRING_FORMAT (+zone) and INT_STRING codecs reconcile
    string-typed event columns to an EXISTING typed target — the
    reference's bind-time codec dispatch (CodecFactory.java:29-64)."""
    table = os.path.join(tmpdir_path, "ct")
    LakeTable.create(
        spark, table,
        T.StructType.fromDDL("url string, warc_ts timestamp, num int"),
        EngineConfig())
    rows = [("a", "2024/01/05 10:00:00", "42", "update", 1),
            ("b", "2024/01/06 11:30:00", "7", "update", 2)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, num string, op string, "
              "seq long")
    log = os.path.join(tmpdir_path, "slog")
    write_event_log(df, log, n_chunks=1)
    conf = ["--conf", "spark.cdm.transform.codecs="
                      "TIMESTAMP_STRING_FORMAT,INT_STRING",
            "--conf", "spark.cdm.transform.codecs.timestamp.string."
                      "format=yyyy/MM/dd HH:mm:ss",
            "--conf", "spark.cdm.transform.codecs.timestamp.string."
                      "zone=America/New_York"]
    _run(spark, capsys, ["migrate", "--log", log, "--table", table] + conf)

    got = {r["url"]: (r["warc_ts"], r["num"])
           for r in LakeTable(spark, table).read().collect()}
    # 10:00 America/New_York == 15:00 UTC (winter)
    assert got["a"] == (dt.datetime(2024, 1, 5, 15, 0, 0), 42)
    assert got["b"] == (dt.datetime(2024, 1, 6, 16, 30, 0), 7)

    out = _run(spark, capsys,
               ["validate", "--log", log, "--table", table] + conf)
    assert out["valid"] == 2 and out["mismatch"] == 0


def test_validate_counter_with_autocorrect_gate(spark, tmpdir_path,
                                                capsys):
    """validate --counter: origin truth is the per-key delta SUM;
    mismatch corrections are origin−target increments; MISSING
    corrections require the autocorrect.missing.counter opt-in
    (DiffJobSession.java:207-212)."""
    rows = [(f"u{i % 4}", dt.datetime(2024, 1, 1, 0, 0, i), 10 + i,
             "update", i) for i in range(12)]
    df = spark.createDataFrame(
        rows, "user string, ts timestamp, cents long, op string, "
              "seq long")
    log = os.path.join(tmpdir_path, "clog")
    write_event_log(df, log, n_chunks=2)
    table = os.path.join(tmpdir_path, "ct")
    base = ["--log", log, "--table", table, "--key-col", "user",
            "--ts-col", "ts", "--event-schema",
            "user string, ts timestamp, cents long, op string, seq long"]
    _run(spark, capsys, ["migrate", "--counter"] + base)

    out = _run(spark, capsys, ["validate", "--counter"] + base)
    assert out["mode"] == "counter"
    assert out["valid"] == 4 and out["mismatch"] == 0

    # grow the log without re-migrating: u0 drifts, u9 appears
    extra = spark.createDataFrame(
        [("u0", dt.datetime(2024, 1, 2), 100, "update", 20),
         ("u9", dt.datetime(2024, 1, 2), 5, "update", 21)],
        "user string, ts timestamp, cents long, op string, seq long")
    write_event_log(extra, log, n_chunks=1, append=True)

    out = _run(spark, capsys, ["validate", "--counter"] + base)
    assert out["mismatch"] == 1 and out["missing"] == 1

    # without the counter gate: mismatch corrected, MISSING refused
    assert main(["validate", "--counter"] + base +
                ["--conf", "spark.cdm.autocorrect.missing=true",
                 "--conf", "spark.cdm.autocorrect.mismatch=true"],
                spark=spark) == 0
    cap = capsys.readouterr()
    out = json.loads(cap.out.strip().splitlines()[-1])
    assert out["corrected"] == 1
    assert "autocorrect.missing.counter" in cap.err

    # with the gate: the missing counter row is inserted too
    out = _run(spark, capsys, ["validate", "--counter"] + base +
               ["--conf", "spark.cdm.autocorrect.missing=true",
                "--conf", "spark.cdm.autocorrect.missing.counter=true",
                "--conf", "spark.cdm.autocorrect.mismatch=true"])
    assert out["corrected"] == 1

    out = _run(spark, capsys, ["validate", "--counter"] + base)
    assert out["valid"] == 5 and out["mismatch"] == 0
    assert out["missing"] == 0

    want = {}
    for i in range(12):
        want[f"u{i % 4}"] = want.get(f"u{i % 4}", 0) + 10 + i
    want["u0"] += 100
    want["u9"] = 5
    got = {r["user"]: r["cents"]
           for r in LakeTable(spark, table).read().collect()}
    assert got == want


def test_ttl_on_existing_table_without_expiry_rejected(
        spark, tmpdir_path, capsys):
    """TTL properties against a table created without an expiry column
    fail loudly instead of writing TTLs read() will never honor."""
    log = os.path.join(tmpdir_path, "log")
    write_event_log(gen_change_events(spark, n_urls=10, n_events=40,
                                      seed=5), log, n_chunks=1)
    table = os.path.join(tmpdir_path, "t")
    _run(spark, capsys, ["migrate", "--log", log, "--table", table])
    assert main(["migrate", "--log", log, "--table", table,
                 "--conf", "spark.cdm.transform.custom.ttl=60"],
                spark=spark) == 2
    assert "expires_at" in capsys.readouterr().err


def test_smoke03_ttl_writetime_names(spark, tmpdir_path, capsys):
    """SIT/smoke/03_ttl_writetime with the reference's own numbers:
    row writetime = max over the ``writetime.names`` columns
    (tw_col2, w_col3) and row TTL = max over the ``ttl.names`` columns
    (t_col1, tw_col2) — record1 expects writetime 1087383720000000
    ("from C") and TTL 60000 ("from A"), record2 the same writetime
    "from B" (``SIT/smoke/03_ttl_writetime/setup.cql``; engine
    expiry = writetime + TTL, materialized as expires_at)."""
    US = 1_087_383_600_000_000
    rows = [
        # key, values…, wt(tw_col2), wt(w_col3), ttl(t_col1), ttl(tw_col2)
        ("record1", "AAAA", "BBBB", "CCCC", "DDDD",
         US + 60_000_000, US + 120_000_000, 60000, 5000),
        ("record2", "AAAA", "BBBB", "CCCC", "DDDD",
         US + 120_000_000, US + 60_000_000, 5000, 60000),
        ("record3", "AAAA", "BBBB", "CCCC", "DDDD",
         US + 60_000_000, US + 120_000_000, 5000, 60000),
    ]
    ev = spark.createDataFrame(
        [r + ("update", i) for i, r in enumerate(rows)],
        "key string, t_col1 string, tw_col2 string, w_col3 string, "
        "col4 string, wt_tw_col2 long, wt_w_col3 long, "
        "ttl_t_col1 long, ttl_tw_col2 long, op string, seq long")
    log = os.path.join(tmpdir_path, "twlog")
    write_event_log(ev, log, n_chunks=1)
    table = os.path.join(tmpdir_path, "twt")
    conf = ["--key-col", "key",
            "--conf", "spark.cdm.schema.origin.column.writetime.names="
                      "wt_tw_col2,wt_w_col3",
            "--conf", "spark.cdm.schema.origin.column.ttl.names="
                      "ttl_t_col1,ttl_tw_col2"]
    _run(spark, capsys, ["migrate", "--log", log, "--table", table] + conf)

    want_wt = dt.datetime(2004, 6, 16, 11, 2, 0)    # 1087383720000000 µs
    got = {r["key"]: (r["warc_ts"], r["expires_at"])
           for r in LakeTable(spark, table).read().collect()}
    for k in ("record1", "record2", "record3"):
        assert got[k][0] == want_wt
        assert got[k][1] == want_wt + dt.timedelta(seconds=60000)

    out = _run(spark, capsys,
               ["validate", "--log", log, "--table", table] + conf)
    assert out["valid"] == 3 and out["mismatch"] == 0


def test_counter_migrate_without_event_schema(spark, tmpdir_path,
                                              capsys):
    """--counter with no --event-schema infers the event shape from the
    parquet log (previously the sample was read with the WEB event
    schema and table creation crashed on the missing key column)."""
    rows = [(f"u{i % 3}", dt.datetime(2024, 1, 1, 0, 0, i), 5 + i,
             "update", i) for i in range(6)]
    df = spark.createDataFrame(
        rows, "user string, ts timestamp, cents long, op string, "
              "seq long")
    log = os.path.join(tmpdir_path, "clog2")
    write_event_log(df, log, n_chunks=1)
    table = os.path.join(tmpdir_path, "ct2")
    out = _run(spark, capsys,
               ["migrate", "--counter", "--log", log, "--table", table,
                "--key-col", "user", "--ts-col", "ts"])
    assert out["events_applied"] == 6
    want = {}
    for i in range(6):
        want[f"u{i % 3}"] = want.get(f"u{i % 3}", 0) + 5 + i
    got = {r["user"]: r["cents"]
           for r in LakeTable(spark, table).read().collect()}
    assert got == want


def test_writetime_names_self_reference_idempotent(spark, tmpdir_path,
                                                   capsys):
    """ts_col itself listed in writetime.names with incrementBy: the
    one event chain applies the increment exactly ONCE on both the
    migrate and validate legs (previously validate re-applied it after
    its LWW window and reported every row as MISMATCH)."""
    rows = [("u1", dt.datetime(2024, 1, 1), "update", 1),
            ("u2", dt.datetime(2024, 1, 2), "update", 2)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, op string, seq long")
    log = os.path.join(tmpdir_path, "wlog")
    write_event_log(df, log, n_chunks=1)
    table = os.path.join(tmpdir_path, "wt")
    conf = ["--conf",
            "spark.cdm.schema.origin.column.writetime.names=warc_ts",
            "--conf",
            "spark.cdm.transform.custom.writetime.incrementBy=5"]
    _run(spark, capsys, ["migrate", "--log", log, "--table", table] + conf)
    got = {r["url"]: r["warc_ts"]
           for r in LakeTable(spark, table).read().collect()}
    assert got["u1"] == dt.datetime(2024, 1, 1, 0, 0, 0, 5)
    assert got["u2"] == dt.datetime(2024, 1, 2, 0, 0, 0, 5)

    out = _run(spark, capsys,
               ["validate", "--log", log, "--table", table] + conf)
    assert out["valid"] == 2 and out["mismatch"] == 0


def test_json_log_with_inference_rejected_cleanly(spark, tmpdir_path,
                                                  capsys):
    """--log-format json cannot infer the event schema: both migrate
    and validate fail with rc=2 and a clear message (previously a raw
    ValueError traceback escaped)."""
    log = os.path.join(tmpdir_path, "jlog")
    df = spark.createDataFrame(
        [("u1", dt.datetime(2024, 1, 1), {"a": 1}, "update", 1)],
        "url string, warc_ts timestamp, m map<string,int>, op string, "
        "seq long")
    write_event_log(df, log, n_chunks=1, fmt="json")
    pf = os.path.join(tmpdir_path, "f.properties")
    with open(pf, "w") as f:
        f.write("spark.cdm.feature.explodeMap.origin.name m\n"
                "spark.cdm.feature.explodeMap.target.name.key mk\n"
                "spark.cdm.feature.explodeMap.target.name.value mv\n")
    table = os.path.join(tmpdir_path, "jt")
    assert main(["migrate", "--log", log, "--log-format", "json",
                 "--table", table, "--properties-file", pf],
                spark=spark) == 2
    assert "event-schema" in capsys.readouterr().err


def test_token_bounds_signed64_mapping(spark):
    """Reference partition.min/max are SIGNED-64 Murmur tokens; they
    map onto the 48-bit ring measure-preservingly — complementary
    reference slices stay complementary here, and the full ring passes
    everything (previously out-of-range bounds clamped to
    everything-or-nothing)."""
    from cassandra_data_migrator_spark.operators.filters import (
        normalize_token_bounds,
        token_slice_predicate,
    )
    # full ring → full ring
    assert normalize_token_bounds(-(1 << 63), (1 << 63) - 1) == \
        (0, (1 << 48) - 1)
    # native=True bounds pass through untouched (unit is fixed per
    # call site, never guessed from the value)
    assert normalize_token_bounds(5, 1 << 40, native=True) == (5, 1 << 40)
    # halves of the signed ring are complementary halves of ours —
    # including min=0, whose meaning must NOT depend on the max
    lo_half = normalize_token_bounds(-(1 << 63), -1)
    hi_half = normalize_token_bounds(0, (1 << 63) - 1)
    assert lo_half == (0, (1 << 47) - 1)
    assert hi_half == (1 << 47, (1 << 48) - 1)
    assert normalize_token_bounds(0, None) == (1 << 47, None)

    df = spark.range(2000).select(F.concat(F.lit("k"), F.col("id"))
                                  .alias("k"))
    n_lo = df.filter(token_slice_predicate("k", -(1 << 63), -1)).count()
    n_hi = df.filter(
        token_slice_predicate("k", 0, (1 << 63) - 1)).count()
    assert n_lo + n_hi == 2000          # partition, no overlap/loss
    assert 700 < n_lo < 1300            # ~half each (uniform hash)
