"""spark-submit job CLI: the reference's Migrate / DiffData /
GuardrailCheck as subcommands, driven by the spark.cdm.* property
surface (README.md:52-147; properties/KnownProperties.java)."""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.jobs import apply_properties, main
from cassandra_data_migrator_spark.lake import LakeTable
from cassandra_data_migrator_spark.sources import (
    gen_change_events,
    read_event_log,
    write_event_log,
)


def test_property_mapping_units_and_unknowns(tmpdir_path):
    cfg, job, warnings = apply_properties(EngineConfig(), {
        "spark.cdm.perfops.numParts": "64",
        # Cassandra writetime = epoch MICROS (KnownProperties.java:239)
        "spark.cdm.filter.java.writetime.min": "1700000000000000",
        # missing-ts replacement = epoch MILLIS (CqlTable.java:385)
        "spark.cdm.transform.missing.key.ts.replace.value": "1700000000000",
        "spark.cdm.schema.origin.column.skip": "lang, html",
        "spark.cdm.filter.cassandra.whereCondition": "lang = 'en'",
        "spark.cdm.trackRun": "true",
        "spark.cdm.trackRun.rerunMultiplier": "3",
        "spark.cdm.autocorrect.missing": "true",
        # a reference cdm.properties file passes through with warnings
        "spark.cdm.connect.origin.host": "cass1",
        "spark.cdm.perfops.ratelimit.origin": "20000",
        # non-cdm spark confs are not ours to validate
        "spark.executor.memory": "16g",
    })
    want = datetime(2023, 11, 14, 22, 13, 20, tzinfo=timezone.utc)
    assert cfg.n_buckets == 64
    assert cfg.writetime_min == want
    assert cfg.null_ts_default == want       # micros and millis agree here
    assert cfg.column_skip_list == ("lang", "html")
    assert cfg.origin_filter_condition == "lang = 'en'"
    assert job == {"track_run": True, "rerun_multiplier": 3,
                   "autocorrect_missing": True}
    assert len(warnings) == 2

    with pytest.raises(ValueError, match="unknown spark.cdm"):
        apply_properties(EngineConfig(), {"spark.cdm.bogus.key": "1"})


@pytest.fixture()
def job_log(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "job_log")
    write_event_log(gen_change_events(spark, n_urls=120, n_events=600,
                                      seed=17), path, n_chunks=4)
    return path


def _run(spark, capsys, argv):
    assert main(argv, spark=spark) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_migrate_batch_then_validate_clean(spark, tmpdir_path, capsys,
                                           job_log):
    table = os.path.join(tmpdir_path, "t")
    out = _run(spark, capsys, ["migrate", "--log", job_log,
                               "--table", table])
    assert out["job"] == "migrate" and out["mode"] == "batch"
    assert out["read"] == 600 and out["events_applied"] == 600

    t = LakeTable(spark, table)
    n = t.read().count()
    assert 0 < n <= 120
    # text was extracted on write (pipeline parity)
    assert t.read().filter(F.col("text").isNull()).count() == 0

    out = _run(spark, capsys, ["validate", "--log", job_log,
                               "--table", table])
    assert out["job"] == "validate"
    assert out["valid"] == n and out["mismatch"] == 0
    assert out["missing"] == 0 and out["extra_target"] == 0


def test_migrate_canonicalize_urls_collapses_variants(spark, tmpdir_path,
                                                      capsys):
    """--canonicalize-urls: cosmetic URL variants (host case, www,
    default port, tracking params, trailing slash) of one page merge
    under ONE canonical key — the final state equals a replay of the
    clean log — and validate with the same flag is symmetric (all
    valid), while validating the messy log WITHOUT the flag is not."""
    ev = gen_change_events(spark, n_urls=60, n_events=300, seed=23)
    host = F.regexp_extract("url", "^https://([^/]*)", 1)
    path = F.regexp_extract("url", "^https://[^/]*(/.*)$", 1)
    m = F.col("seq") % 4
    messy = (
        F.when(m == 0, F.concat(F.lit("HTTPS://WWW."), F.upper(host),
                                F.lit(":443"), path))
        .when(m == 1, F.concat(F.col("url"),
                               F.lit("?utm_source=x&utm_medium=y#f")))
        .when(m == 2, F.concat(F.col("url"), F.lit("/")))
        .otherwise(F.col("url")))
    clean_log = os.path.join(tmpdir_path, "clean_log")
    messy_log = os.path.join(tmpdir_path, "messy_log")
    write_event_log(ev, clean_log, n_chunks=2)
    write_event_log(ev.withColumn("url", messy), messy_log, n_chunks=2)

    ref = os.path.join(tmpdir_path, "ref")
    t = os.path.join(tmpdir_path, "t")
    _run(spark, capsys, ["migrate", "--log", clean_log, "--table", ref])
    _run(spark, capsys, ["migrate", "--log", messy_log, "--table", t,
                         "--canonicalize-urls"])
    a = sorted((r["url"], r["warc_ts"], r["lang"], r["text"])
               for r in LakeTable(spark, ref).read().collect())
    b = sorted((r["url"], r["warc_ts"], r["lang"], r["text"])
               for r in LakeTable(spark, t).read().collect())
    assert a == b and len(a) > 0

    out = _run(spark, capsys, ["validate", "--log", messy_log,
                               "--table", t, "--canonicalize-urls"])
    assert out["valid"] == len(a) and out["mismatch"] == 0
    assert out["missing"] == 0 and out["extra_target"] == 0

    # without the flag the origin leg groups by RAW urls — asymmetric
    out2 = _run(spark, capsys, ["validate", "--log", messy_log,
                                "--table", t])
    assert out2["missing"] > 0 or out2["mismatch"] > 0


def test_canonicalize_urls_composes_with_feature_chain(spark, tmpdir_path,
                                                       capsys):
    """--canonicalize-urls runs BEFORE the feature chain (it rewrites
    cfg.key_col, which a rename feature then renames): a messy log
    migrated with canon + rename + constant equals the clean log
    through the same features, and validate with both stays clean."""
    ev = gen_change_events(spark, n_urls=40, n_events=200, seed=31)
    messy = F.when(
        F.col("seq") % 2 == 0,
        F.concat(F.lit("HTTPS://WWW."),
                 F.upper(F.regexp_extract("url", "^https://([^/]*)", 1)),
                 F.lit(":443"),
                 F.regexp_extract("url", "^https://[^/]*(/.*)$", 1),
                 F.lit("?utm_source=t#frag"))).otherwise(F.col("url"))
    clean_log = os.path.join(tmpdir_path, "clean_log")
    messy_log = os.path.join(tmpdir_path, "messy_log")
    write_event_log(ev, clean_log, n_chunks=2)
    write_event_log(ev.withColumn("url", messy), messy_log, n_chunks=2)
    pf = os.path.join(tmpdir_path, "f.properties")
    with open(pf, "w") as f:
        f.write(
            "spark.cdm.schema.origin.column.names.to.target  "
            "url:page_url\n"
            "spark.cdm.feature.constantColumns.names         source\n"
            "spark.cdm.feature.constantColumns.values        'crawl'\n")

    ref = os.path.join(tmpdir_path, "ref")
    t = os.path.join(tmpdir_path, "t")
    _run(spark, capsys, ["migrate", "--log", clean_log, "--table", ref,
                         "--properties-file", pf])
    _run(spark, capsys, ["migrate", "--log", messy_log, "--table", t,
                         "--properties-file", pf, "--canonicalize-urls"])
    cols = ("page_url", "warc_ts", "lang", "source")
    a = sorted(tuple(r[c] for c in cols)
               for r in LakeTable(spark, ref).read().collect())
    b = sorted(tuple(r[c] for c in cols)
               for r in LakeTable(spark, t).read().collect())
    assert a == b and len(a) > 0 and all(r[3] == "crawl" for r in b)

    out = _run(spark, capsys, ["validate", "--log", messy_log,
                               "--table", t, "--properties-file", pf,
                               "--canonicalize-urls"])
    assert out["mismatch"] == 0 and out["missing"] == 0
    assert out["extra_target"] == 0 and out["valid"] == len(a)


def test_migrate_redact_pii_scrubs_derived_and_carried_text(
        spark, tmpdir_path, capsys):
    """--redact-pii scrubs BOTH text forms: the derived column (text
    extracted winner-side from html — the only point where there is
    text to redact) and an event-carried text column; validate with
    the same flag is symmetric, without it the carried PII mismatches."""
    ev = gen_change_events(spark, n_urls=30, n_events=150, seed=41)
    pii_html = F.concat(
        F.col("html"),
        F.encode(F.concat(F.lit("<p>contact agent"),
                          (F.col("seq") % 7).cast("string"),
                          F.lit("@example.com or 415-555-0123</p>")),
                 "utf-8"))
    log = os.path.join(tmpdir_path, "log")
    write_event_log(ev.withColumn("html", pii_html), log, n_chunks=2)

    # derived text: winner-side extraction feeds the redactor
    t1 = os.path.join(tmpdir_path, "t1")
    _run(spark, capsys, ["migrate", "--log", log, "--table", t1,
                         "--redact-pii"])
    txt = [r["text"] for r in LakeTable(spark, t1).read().collect()]
    assert len(txt) > 0
    assert all("<EMAIL>" in s and "<PHONE>" in s for s in txt)
    assert not any("@example.com" in s or "555-0123" in s for s in txt)
    # sanity: without the flag the raw PII lands in the lake
    t2 = os.path.join(tmpdir_path, "t2")
    _run(spark, capsys, ["migrate", "--log", log, "--table", t2])
    assert any("@example.com" in r["text"]
               for r in LakeTable(spark, t2).read().collect())

    # event-CARRIED text: redacted winner-side too, validate symmetric
    ddl = ("url string, warc_ts timestamp, html binary, text string, "
           "lang string, op string, seq long")
    carried = ev.withColumn(
        "text", F.concat(F.lit("reach me at u"),
                         (F.col("seq") % 5).cast("string"),
                         F.lit("@mail.org")))
    log2 = os.path.join(tmpdir_path, "log2")
    write_event_log(carried, log2, n_chunks=2)
    t3 = os.path.join(tmpdir_path, "t3")
    _run(spark, capsys, ["migrate", "--log", log2, "--table", t3,
                         "--redact-pii", "text", "--event-schema", ddl])
    rows = LakeTable(spark, t3).read().collect()
    assert len(rows) > 0
    assert all(r["text"] == "reach me at <EMAIL>" for r in rows)
    out = _run(spark, capsys, ["validate", "--log", log2, "--table", t3,
                               "--redact-pii", "text",
                               "--event-schema", ddl])
    assert out["mismatch"] == 0 and out["missing"] == 0
    assert out["extra_target"] == 0 and out["valid"] == len(rows)
    out2 = _run(spark, capsys, ["validate", "--log", log2, "--table", t3,
                                "--event-schema", ddl])
    assert out2["mismatch"] > 0


def test_migrate_tracked_resume_via_properties(spark, tmpdir_path, capsys,
                                               job_log):
    table = os.path.join(tmpdir_path, "t")
    out = _run(spark, capsys, [
        "migrate", "--log", job_log, "--table", table, "--n-groups", "4",
        "--conf", "spark.cdm.trackRun=true",
        "--conf", "spark.cdm.trackRun.runId=job1"])
    assert out["mode"] == "tracked" and out["events_applied"] == 600

    # reference previousRunId resume: everything already PASSed → no-op
    out = _run(spark, capsys, [
        "migrate", "--log", job_log, "--table", table, "--n-groups", "4",
        "--conf", "spark.cdm.trackRun.previousRunId=job1"])
    assert out["events_applied"] == 600      # totals survive the rerun

    # tracked result equals a plain batch replay
    ref = os.path.join(tmpdir_path, "ref")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", ref])
    a = {r["url"]: (r["warc_ts"], r["text"], r["lang"])
         for r in LakeTable(spark, table).read().collect()}
    b = {r["url"]: (r["warc_ts"], r["text"], r["lang"])
         for r in LakeTable(spark, ref).read().collect()}
    assert a == b


def test_validate_autocorrect_flags(spark, tmpdir_path, capsys, job_log):
    # target = first half of the stream only → missing + mismatched rows
    table = os.path.join(tmpdir_path, "t")
    half = os.path.join(tmpdir_path, "half_log")
    ev = read_event_log(spark, job_log)
    write_event_log(ev.filter(F.col("seq") < 300), half, n_chunks=2)
    _run(spark, capsys, ["migrate", "--log", half, "--table", table])

    before = _run(spark, capsys, ["validate", "--log", job_log,
                                  "--table", table])
    assert before["missing"] + before["mismatch"] > 0

    out = _run(spark, capsys, [
        "validate", "--log", job_log, "--table", table,
        "--conf", "spark.cdm.autocorrect.missing=true",
        "--conf", "spark.cdm.autocorrect.mismatch=true"])
    assert out["corrected_missing"] == before["missing"]
    assert out["corrected_mismatch"] == before["mismatch"]

    after = _run(spark, capsys, ["validate", "--log", job_log,
                                 "--table", table])
    assert after["mismatch"] == 0 and after["missing"] == 0
    # validation never deletes: stale extras (deleted urls) may remain
    assert after["extra_target"] >= 0

    # autocorrect applied the migration's winner-side derivations: every
    # corrected row's text is the extraction of its html, not null (the
    # engine invariant text == extract_text(html) survives repair)
    from cassandra_data_migrator_spark.functions.udfs import extract_text
    t = LakeTable(spark, table).read()
    assert t.filter(F.col("text").isNull()).count() == 0
    assert t.filter(
        ~F.col("text").eqNullSafe(extract_text(F.col("html")))
    ).count() == 0


def test_validate_after_migrate_with_text_bearing_event_schema(
        spark, tmpdir_path, capsys):
    """Events whose schema carries a ``text`` column left null: the
    migration fills text from html winner-side, and validate's origin
    leg must run the same winner-side stage — else every row reports
    MISMATCH on text and autocorrect "repairs" rows that never converge."""
    from datetime import timedelta

    ddl = ("seq long, op string, url string, warc_ts timestamp, "
           "html binary, text string, lang string")
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    ev = spark.createDataFrame(
        [(i, "upsert", f"https://example.org/p{i}", t0 + timedelta(hours=i),
          f"<html><body><p>hello {i}</p></body></html>".encode(), None,
          "EN")
         for i in range(6)], ddl)
    log = os.path.join(tmpdir_path, "log")
    write_event_log(ev, log, n_chunks=2)
    table = os.path.join(tmpdir_path, "t")
    _run(spark, capsys, ["migrate", "--log", log, "--table", table,
                         "--event-schema", ddl])
    texts = sorted(r["text"] for r in LakeTable(spark, table).read()
                   .collect())
    assert texts == [f"hello {i}" for i in range(6)]

    out = _run(spark, capsys, ["validate", "--log", log, "--table", table,
                               "--event-schema", ddl])
    assert out["valid"] == 6 and out["mismatch"] == 0
    fix = _run(spark, capsys, [
        "validate", "--log", log, "--table", table, "--event-schema", ddl,
        "--conf", "spark.cdm.autocorrect.mismatch=true"])
    assert fix["mismatch"] == 0 and fix["corrected_mismatch"] == 0


def test_migrate_null_op_event_is_an_upsert(spark, tmpdir_path, capsys):
    """An event whose op is NULL is an upsert: the merge stores it as a
    live row (not a NULL tombstone flag that every read drops), and
    validate's origin truth keeps it too."""
    from datetime import timedelta

    ddl = ("seq long, op string, url string, warc_ts timestamp, "
           "html binary, text string, lang string")
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    ev = spark.createDataFrame(
        [(1, "insert", "https://example.org/u1", t0, b"<p>one</p>", None,
          "en"),
         (2, None, "https://example.org/u2", t0 + timedelta(hours=1),
          b"<p>two</p>", None, "en")], ddl)
    log = os.path.join(tmpdir_path, "log")
    write_event_log(ev, log, n_chunks=1)
    table = os.path.join(tmpdir_path, "t")
    out = _run(spark, capsys, ["migrate", "--log", log, "--table", table,
                               "--event-schema", ddl])
    assert out["events_applied"] == 2
    assert sorted(r["url"] for r in LakeTable(spark, table).read()
                  .collect()) == ["https://example.org/u1",
                                  "https://example.org/u2"]
    v = _run(spark, capsys, ["validate", "--log", log, "--table", table,
                             "--event-schema", ddl])
    assert v["missing"] == 0 and v["mismatch"] == 0 and v["valid"] == 2


def test_migrate_over_a_crashed_create(spark, tmpdir_path, capsys,
                                       job_log):
    """A table directory whose create stopped after laying out its
    directories, before the first commit, is not a table: migrate
    creates the table there instead of failing to open it."""
    table = os.path.join(tmpdir_path, "t")
    os.makedirs(os.path.join(table, "_manifests"))
    os.makedirs(os.path.join(table, "data"))
    out = _run(spark, capsys, ["migrate", "--log", job_log,
                               "--table", table])
    assert out["events_applied"] == 600
    assert LakeTable(spark, table).read().count() > 0


def test_guardrail_job_cli(spark, tmpdir_path, capsys, job_log):
    table = os.path.join(tmpdir_path, "t")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", table])
    n = LakeTable(spark, table).read().count()
    out = _run(spark, capsys, [
        "guardrail", "--table", table, "--run-id", "g1",
        "--conf", "spark.cdm.feature.guardrail.colSizeInKB=5"])
    assert out["job"] == "guardrail" and out["col_size_kb"] == 5
    assert out["read"] == n and out["valid"] + out["large"] == n

    from cassandra_data_migrator_spark.streaming import run_info
    rows = run_info(spark, LakeTable(spark, table)).collect()
    assert any(r["kind"] == "guardrail" and r["run_id"] == "g1"
               for r in rows)

def test_maintain_cli_compact_and_expire(spark, tmpdir_path, capsys,
                                         job_log):
    table = os.path.join(tmpdir_path, "t")
    # two epochs → multiple versions + fragmented buckets
    half = os.path.join(tmpdir_path, "m_half")
    ev = read_event_log(spark, job_log)
    write_event_log(ev.filter(F.col("seq") < 300), half, n_chunks=2)
    _run(spark, capsys, ["migrate", "--log", half, "--table", table])
    rest = os.path.join(tmpdir_path, "m_rest")
    write_event_log(ev.filter(F.col("seq") >= 300), rest, n_chunks=2)
    # no --stream-id needed: each default invocation gets a fresh one
    out = _run(spark, capsys, ["migrate", "--log", rest, "--table", table])
    assert out["events_applied"] == 300 and "fenced" not in out

    before = {r["url"]: (r["warc_ts"], r["text"], r["lang"])
              for r in LakeTable(spark, table).read().collect()}
    out = _run(spark, capsys, ["maintain", "--table", table,
                               "--compact", "--keep-last", "1"])
    assert out["job"] == "maintain"
    # CoW merges rewrite whole touched buckets, so nothing here is
    # fragmented — compaction is correctly a no-op (the fragmented /
    # old-schema path is covered by the lake-level tests); the vacuum
    # half reclaims the superseded epoch's files
    assert out["compacted"] is False
    assert out["manifests_removed"] > 0 and out["files_removed"] > 0

    t = LakeTable(spark, table)
    after = {r["url"]: (r["warc_ts"], r["text"], r["lang"])
             for r in t.read().collect()}
    assert after == before                      # no row changes
    # post-compaction: one live file per non-empty bucket
    assert all(len(files) <= 1 for files in t.manifest["files"].values())


def test_properties_file_parsing(tmpdir_path):
    from cassandra_data_migrator_spark.jobs import parse_properties

    pf = os.path.join(tmpdir_path, "cdm.properties")
    with open(pf, "w") as f:
        f.write("# reference-style comment\n"
                "! another comment\n"
                "\n"
                "spark.cdm.perfops.numParts=64\n"
                "spark.cdm.filter.java.column.name = lang \n")
    props = parse_properties(
        ["spark.cdm.perfops.numParts=128"], pf)   # --conf wins over file
    assert props == {"spark.cdm.perfops.numParts": "128",
                     "spark.cdm.filter.java.column.name": "lang"}


def test_migrate_counter_cli(spark, tmpdir_path, capsys):
    """--counter: additive merge through the CLI with a STABLE fence id
    — a re-invocation must fence (no double-add), and an explicit
    second stream id applies a second increment batch exactly once."""
    import datetime as dt

    rows = [(f"u{i % 4}", dt.datetime(2024, 1, 1, 0, 0, i), 10 + i,
             "update", i) for i in range(12)]
    df = spark.createDataFrame(
        rows, "user string, ts timestamp, cents long, op string, seq long")
    log = os.path.join(tmpdir_path, "clog")
    write_event_log(df, log, n_chunks=2)
    table = os.path.join(tmpdir_path, "ct")
    ddl = "user string, ts timestamp, cents long"
    base = ["migrate", "--counter", "--log", log, "--table", table,
            "--key-col", "user", "--ts-col", "ts",
            "--event-schema", ddl + ", op string, seq long"]

    out = _run(spark, capsys, base)
    assert out["mode"] == "counter" and out["events_applied"] == 12
    want = {}
    for i in range(12):
        want[f"u{i % 4}"] = want.get(f"u{i % 4}", 0) + 10 + i
    got = {r["user"]: r["cents"]
           for r in LakeTable(spark, table).read().collect()}
    assert got == want

    # default re-invocation fences: counters must NOT double-add
    out2 = _run(spark, capsys, base)
    assert out2.get("fenced") is True
    got2 = {r["user"]: r["cents"]
            for r in LakeTable(spark, table).read().collect()}
    assert got2 == want

    # a second DELIBERATE increment load under its own stream id adds
    out3 = _run(spark, capsys, base + ["--stream-id", "load2"])
    assert "fenced" not in out3
    got3 = {r["user"]: r["cents"]
            for r in LakeTable(spark, table).read().collect()}
    assert got3 == {k: 2 * v for k, v in want.items()}

    # streaming + counter is rejected up front
    assert main(base + ["--streaming", "--checkpoint",
                        os.path.join(tmpdir_path, "ck")],
                spark=spark) == 2


def test_counter_validate_after_migrate_with_delete_event(
        spark, tmpdir_path, capsys):
    """A delete event that ``migrate --counter`` ignores is ignored by
    ``validate --counter`` too: its ts must not count toward the origin
    truth's max(ts), or validate reports a MISMATCH on ``ts`` and
    autocorrect writes the ignored delete's timestamp into the target."""
    import datetime as dt

    ddl = "user string, ts timestamp, cents long, op string, seq long"
    rows = [(f"u{i % 2}", dt.datetime(2024, 1, 1, 0, 0, i), 10 + i,
             "update", i) for i in range(6)]
    rows.append(("u0", dt.datetime(2024, 1, 1, 0, 1, 0), None, "delete", 6))
    log = os.path.join(tmpdir_path, "cdlog")
    write_event_log(spark.createDataFrame(rows, ddl), log, n_chunks=1)
    table = os.path.join(tmpdir_path, "cdt")
    base = ["--log", log, "--table", table, "--key-col", "user",
            "--ts-col", "ts", "--event-schema", ddl, "--counter"]

    out = _run(spark, capsys, ["migrate", *base])
    assert out["deletes_ignored"] == 1
    assert _run(spark, capsys, ["validate", *base])["mismatch"] == 0
    fix = _run(spark, capsys, [
        "validate", *base, "--conf", "spark.cdm.autocorrect.mismatch=true"])
    assert fix["mismatch"] == 0 and fix["corrected"] == 0
    stored = {r["user"]: r["ts"]
              for r in LakeTable(spark, table).read().collect()}
    assert stored["u0"] == dt.datetime(2024, 1, 1, 0, 0, 4)


def test_json_event_log_roundtrip(spark, tmpdir_path, capsys):
    """JSON-lines event log (Debezium/Maxwell-style tail): binary html
    round-trips via base64; batch CLI replay over the json log equals
    the parquet replay; validate reads the same json origin clean."""
    ev = gen_change_events(spark, n_urls=50, n_events=250, seed=13)
    jlog = os.path.join(tmpdir_path, "jlog")
    write_event_log(ev, jlog, n_chunks=3, fmt="json")
    plog = os.path.join(tmpdir_path, "plog")
    write_event_log(ev, plog, n_chunks=3)

    jt = os.path.join(tmpdir_path, "jt")
    out = _run(spark, capsys, ["migrate", "--log", jlog, "--table", jt,
                               "--log-format", "json"])
    assert out["events_applied"] == 250
    pt = os.path.join(tmpdir_path, "pt")
    _run(spark, capsys, ["migrate", "--log", plog, "--table", pt])

    a = {r["url"]: (r["warc_ts"], r["html"], r["text"])
         for r in LakeTable(spark, jt).read().collect()}
    b = {r["url"]: (r["warc_ts"], r["html"], r["text"])
         for r in LakeTable(spark, pt).read().collect()}
    assert a == b                     # base64 round-trip byte-identical

    out = _run(spark, capsys, ["validate", "--log", jlog, "--table", jt,
                               "--log-format", "json"])
    assert out["mismatch"] == 0 and out["missing"] == 0

    # the streaming tail reads the same json segments
    st = os.path.join(tmpdir_path, "st")
    out = _run(spark, capsys, [
        "migrate", "--log", jlog, "--table", st, "--streaming",
        "--checkpoint", os.path.join(tmpdir_path, "jck"),
        "--log-format", "json"])
    assert out["mode"] == "stream" and out["events_applied"] == 250
    c = {r["url"]: (r["warc_ts"], r["html"], r["text"])
         for r in LakeTable(spark, st).read().collect()}
    assert c == b


def test_runs_subcommand_and_validate_report(spark, tmpdir_path, capsys,
                                             job_log):
    table = os.path.join(tmpdir_path, "t")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", table,
                         "--conf", "spark.cdm.trackRun=true",
                         "--conf", "spark.cdm.trackRun.runId=r9"])

    out = _run(spark, capsys, ["runs", "--table", table])
    assert out["job"] == "runs"
    assert any(r["run_id"] == "r9" and r["status"] == "ENDED"
               for r in out["run_info"])
    assert sum(r["events"] for r in out["run_details"]) == 600

    # break one row, then validate --report persists the bad rows
    half = os.path.join(tmpdir_path, "rep_half")
    ev = read_event_log(spark, job_log)
    write_event_log(ev.filter(F.col("seq") < 300), half, n_chunks=2)
    t2 = os.path.join(tmpdir_path, "t2")
    _run(spark, capsys, ["migrate", "--log", half, "--table", t2])
    report = os.path.join(tmpdir_path, "report")
    out = _run(spark, capsys, ["validate", "--log", job_log,
                               "--table", t2, "--report", report])
    bad = spark.read.parquet(report)
    assert bad.count() == out["missing"] + out["mismatch"] \
        + out["extra_target"]
    assert "diff_status" in bad.columns


def test_partition_range_slice_migrate_validate(spark, tmpdir_path,
                                                capsys, job_log):
    """partition.min/max (reference partial-range migration): migrate
    only the slice, validate WITH the same bounds is clean, and the
    two complementary slices together equal the full migration."""
    from cassandra_data_migrator_spark.operators.filters import (
        token_slice_predicate,
    )

    # the CLI bounds carry the REFERENCE property's unit: signed-64
    # Murmur-style tokens, mapped measure-preservingly onto the 48-bit
    # ring — the lower signed half lands on the lower ring half
    mid = (1 << 47) - 1
    lo_props = ["--conf",
                f"spark.cdm.filter.cassandra.partition.min={-(1 << 63)}",
                "--conf", "spark.cdm.filter.cassandra.partition.max=-1"]
    hi_props = ["--conf", "spark.cdm.filter.cassandra.partition.min=0",
                "--conf",
                f"spark.cdm.filter.cassandra.partition.max={(1 << 63) - 1}"]

    table = os.path.join(tmpdir_path, "t")
    out = _run(spark, capsys, ["migrate", "--log", job_log,
                               "--table", table, *lo_props])
    assert 0 < out["events_applied"] < 600      # a strict slice

    # every migrated key hashes into the slice
    t = LakeTable(spark, table)
    n_lo = t.read().count()
    assert t.read().filter(
        ~token_slice_predicate("url", 0, mid, native=True)).count() == 0

    # validate with the same bounds: clean (no spurious MISSING for
    # rows the slice excluded, no extra_target outside the slice)
    out = _run(spark, capsys, ["validate", "--log", job_log,
                               "--table", table, *lo_props])
    assert out["missing"] == 0 and out["mismatch"] == 0
    assert out["extra_target"] == 0

    # the complementary slice completes the migration
    out = _run(spark, capsys, ["migrate", "--log", job_log,
                               "--table", table, *hi_props])
    assert out["events_applied"] > 0
    full = os.path.join(tmpdir_path, "full")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", full])
    a = {r["url"]: (r["warc_ts"], r["text"])
         for r in LakeTable(spark, table).read().collect()}
    b = {r["url"]: (r["warc_ts"], r["text"])
         for r in LakeTable(spark, full).read().collect()}
    assert a == b and len(a) > n_lo


def test_evolve_cli(spark, tmpdir_path, capsys, job_log):
    """evolve subcommand: add + rename through the id-based schema
    registry; files written BEFORE the evolution resolve through the
    field id (old `lang` values appear under the new name)."""
    table = os.path.join(tmpdir_path, "t")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", table])
    before = LakeTable(spark, table).read()
    n = before.count()
    langs = {r["url"]: r["lang"] for r in before.collect()}

    out = _run(spark, capsys,
               ["evolve", "--table", table,
                "--add", "score:double", "--rename", "lang:language"])
    assert out["job"] == "evolve"
    assert out["schema_version"] > out["schema_version_before"]
    assert "language" in out["columns"] and "score" in out["columns"]
    assert "lang" not in out["columns"]

    after = LakeTable(spark, table).read()
    assert after.count() == n
    got = {r["url"]: (r["language"], r["score"]) for r in after.collect()}
    for url, lang in langs.items():
        assert got[url] == (lang, None)

    # malformed specs fail cleanly
    assert main(["evolve", "--table", table, "--add", "nocolon"],
                spark=spark) == 2


def test_evolve_then_migrate_with_rename_map(spark, tmpdir_path, capsys,
                                             job_log):
    """The two halves of a rename work together: `evolve --rename`
    changes the TABLE (old files resolve by field id), and the
    reference's origin→target rename map bridges NEW events that still
    carry the old name — a grown log keeps applying after the rename."""
    table = os.path.join(tmpdir_path, "t")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", table])
    _run(spark, capsys, ["evolve", "--table", table,
                         "--rename", "lang:language"])

    # new events still say 'lang'; the rename map routes them
    ev = read_event_log(spark, job_log)
    extra = (ev.filter(F.col("seq") < 5)
             .withColumn("seq", F.col("seq") + 1000)
             .withColumn("warc_ts",
                         F.col("warc_ts") + F.expr("INTERVAL 30 DAYS"))
             .withColumn("lang", F.lit("xx_weird")))
    log2 = os.path.join(tmpdir_path, "grown")
    write_event_log(extra, log2, n_chunks=1)
    out = _run(spark, capsys, [
        "migrate", "--log", log2, "--table", table,
        "--event-schema", "infer",
        "--conf",
        "spark.cdm.schema.origin.column.names.to.target=lang:language"])
    assert out["events_applied"] == extra.count()

    t = LakeTable(spark, table).read()
    assert "language" in t.columns and "lang" not in t.columns
    # the re-written urls carry the bridged value (normalize_lang is
    # tied to the WEB schema's `lang` column; a renamed column is
    # custom semantics and passes through verbatim)
    urls = [r["url"] for r in extra.select("url").distinct().collect()]
    got = {r["url"]: r["language"]
           for r in t.filter(F.col("url").isin(urls)).collect()}
    assert got and all(v == "xx_weird" for v in got.values())


def test_migrate_counter_seq_watermark_incremental(spark, tmpdir_path,
                                                   capsys):
    """Counter seq high-watermark: a GROWN log's second migrate applies
    exactly the new tail (seq > watermark) instead of fencing the whole
    run; a byte-identical replay stays a no-op; the watermark rides the
    same atomic commit as the data."""
    import datetime as dt

    rows = [(f"u{i % 3}", dt.datetime(2024, 1, 1, 0, 0, i), 10 + i,
             "update", i) for i in range(9)]
    df = spark.createDataFrame(
        rows, "user string, ts timestamp, cents long, op string, seq long")
    log = os.path.join(tmpdir_path, "wlog")
    write_event_log(df, log, n_chunks=1)
    table = os.path.join(tmpdir_path, "wt")
    base = ["migrate", "--counter", "--log", log, "--table", table,
            "--key-col", "user", "--ts-col", "ts",
            "--event-schema",
            "user string, ts timestamp, cents long, op string, seq long"]

    out = _run(spark, capsys, base)
    assert out["events_applied"] == 9 and out["seq_watermark"] == 8
    want = {}
    for i in range(9):
        want[f"u{i % 3}"] = want.get(f"u{i % 3}", 0) + 10 + i
    got = {r["user"]: r["cents"]
           for r in LakeTable(spark, table).read().collect()}
    assert got == want

    # byte-identical replay: no-op, watermark unchanged
    out2 = _run(spark, capsys, base)
    assert out2.get("fenced") is True and out2["seq_watermark"] == 8
    assert out2["events_applied"] == 0
    got2 = {r["user"]: r["cents"]
            for r in LakeTable(spark, table).read().collect()}
    assert got2 == want

    # grown log: two new events (seq 9, 10) — ONLY they apply, and the
    # replayed prefix (seqs 0-8, present again in the same log) doesn't
    extra = spark.createDataFrame(
        [("u0", dt.datetime(2024, 1, 2), 100, "update", 9),
         ("u9", dt.datetime(2024, 1, 2), 7, "update", 10)],
        "user string, ts timestamp, cents long, op string, seq long")
    write_event_log(extra, log, n_chunks=1, append=True)
    out3 = _run(spark, capsys, base)
    assert "fenced" not in out3
    assert out3["events_applied"] == 2 and out3["seq_watermark"] == 10
    want["u0"] += 100
    want["u9"] = 7
    got3 = {r["user"]: r["cents"]
            for r in LakeTable(spark, table).read().collect()}
    assert got3 == want

    # and the grown log replays to a no-op once caught up
    out4 = _run(spark, capsys, base)
    assert out4.get("fenced") is True and out4["events_applied"] == 0


# ---------------------------------------------------------------------------
# dedup subcommand: the training-data pipeline's terminal near-dup job
# ---------------------------------------------------------------------------

@pytest.fixture()
def dup_corpus(spark, tmpdir_path):
    """9 docs: cluster A = {1,2,3} (near-identical long texts), cluster
    B = {5,6} (exact dups), and 4 unrelated singletons."""
    base = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, base),
        (2, base + " tail"),                   # near-dup of 1
        (3, base.replace("tok7", "tokX")),     # near-dup of 1
        (4, " ".join(f"alpha{i}" for i in range(40))),
        (5, "short exact duplicate body"),
        (6, "short exact duplicate body"),
        (7, " ".join(f"beta{i}" for i in range(40))),
        (8, " ".join(f"gamma{i}" for i in range(40))),
        (9, " ".join(f"delta{i}" for i in range(40))),
    ]
    path = os.path.join(tmpdir_path, "corpus")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(3).write.parquet(path)
    return path


def test_dedup_cli_minhash_end_to_end(spark, tmpdir_path, capsys,
                                      dup_corpus):
    outp = os.path.join(tmpdir_path, "deduped")
    clus = os.path.join(tmpdir_path, "clusters")
    out = _run(spark, capsys, [
        "dedup", "--input", dup_corpus, "--output", outp,
        "--clusters-out", clus, "--threshold", "0.7"])
    assert out["job"] == "dedup" and out["method"] == "minhash"
    assert out["input_rows"] == 9
    # clusters {1,2,3} and {5,6} → min-id survivors 1 and 5
    kept = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert kept == {1, 4, 5, 7, 8, 9}
    assert out["kept_rows"] == 6 and out["dropped_rows"] == 3
    assert out["dup_clusters"] == 2
    cc = {(r["id"], r["cluster_id"], r["keep"])
          for r in spark.read.parquet(clus).collect()}
    assert cc == {(1, 1, True), (2, 1, False), (3, 1, False),
                  (5, 5, True), (6, 5, False)}


def test_dedup_cli_simhash_and_exact(spark, tmpdir_path, capsys,
                                     dup_corpus):
    outp = os.path.join(tmpdir_path, "dd_sim")
    out = _run(spark, capsys, [
        "dedup", "--input", dup_corpus, "--output", outp,
        "--method", "simhash", "--max-hamming", "6"])
    kept = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    # simhash at this hamming radius must at least fold the exact pair;
    # near-dups of cluster A may or may not land within radius — but
    # survivors are always canonical min-ids and singletons never drop
    assert 5 in kept and 6 not in kept
    assert {4, 7, 8, 9} <= kept and 1 in kept
    assert out["kept_rows"] == len(kept)

    outp2 = os.path.join(tmpdir_path, "dd_exact")
    out2 = _run(spark, capsys, [
        "dedup", "--input", dup_corpus, "--output", outp2,
        "--method", "exact"])
    kept2 = {r["doc_id"] for r in spark.read.parquet(outp2).collect()}
    assert kept2 == {1, 2, 3, 4, 5, 7, 8, 9}   # only the exact pair folds
    assert out2["kept_rows"] == 8 and out2["dropped_rows"] == 1


def test_dedup_cli_online(spark, tmpdir_path, capsys, dup_corpus):
    """--method online: order-sensitive first-wins — bucket openers
    survive; cluster A's opener 1 and the exact pair's opener 5 win
    (same survivors as the batch chain here since min-id == first)."""
    outp = os.path.join(tmpdir_path, "dd_online")
    out = _run(spark, capsys, [
        "dedup", "--input", dup_corpus, "--output", outp,
        "--method", "online", "--shingle-n", "3"])
    kept = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert 1 in kept and 5 in kept and 6 not in kept
    assert {4, 7, 8, 9} <= kept
    assert out["kept_rows"] == len(kept)
    assert out["dropped_rows"] == 9 - len(kept)


def test_dedup_cli_cosine(spark, tmpdir_path, capsys):
    """--method cosine: the vector-space family member through the same
    pairs → connected components → survivor terminal. dim is read from
    the data; the plane count is ann_params-sized from the corpus."""
    rows = [
        (1, [1.0] * 8),
        (2, [1.0] * 7 + [0.9]),          # near-dup of 1 (cos ≈ 0.999)
        (4, [1.0] + [0.0] * 7),
        (5, [1.0, -1.0] * 4),
        (6, [1.0, -1.0] * 4),            # exact-direction dup of 5
        (7, [0.0, 1.0] + [0.0] * 6),
    ]
    path = os.path.join(tmpdir_path, "emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .write.parquet(path)
    outp = os.path.join(tmpdir_path, "dd_cos")
    out = _run(spark, capsys, [
        "dedup", "--input", path, "--output", outp,
        "--method", "cosine", "--id-col", "vec_id"])
    assert out["method"] == "cosine" and out["input_rows"] == 6
    kept = {r["vec_id"] for r in spark.read.parquet(outp).collect()}
    # min-id survivors: 1 for {1,2}, 5 for {5,6}; singletons untouched
    assert kept == {1, 4, 5, 7}
    assert out["dup_clusters"] == 2 and out["dropped_rows"] == 2


def test_dedup_cli_cosine_rejects_missing_vectors(spark, tmpdir_path,
                                                  capsys):
    path = os.path.join(tmpdir_path, "emb_bad")
    spark.createDataFrame([(1, None)],
                          "vec_id long, embedding array<float>") \
        .write.parquet(path)
    rc = main(["dedup", "--input", path,
               "--output", os.path.join(tmpdir_path, "o"),
               "--method", "cosine", "--id-col", "vec_id"],
              spark=spark)
    assert rc == 1
    assert "non-empty array column" in capsys.readouterr().err


def test_dedup_cli_reads_lake_table_through_manifest(spark, tmpdir_path,
                                                     capsys):
    """dedup --input on a LAKE TABLE (the CDC-ingested corpus) must read
    through the manifest — a raw parquet read of the directory would see
    superseded file versions (pre-update rows) and tombstones."""
    import datetime as dt

    table = os.path.join(tmpdir_path, "corpus_lake")
    text_a = "the quick brown fox " * 10

    def ev(url, day, text, op="update"):
        return (url, dt.datetime(2024, 1, day), text.encode(), text,
                "en", op, day)

    log1 = os.path.join(tmpdir_path, "log1")
    rows1 = [ev("u1", 1, text_a), ev("u2", 1, text_a + "tail"),
             ev("u3", 1, "totally different words " * 10),
             ev("u4", 1, "short lived row")]
    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string, op string, seq long")
    from cassandra_data_migrator_spark.sources import write_event_log
    write_event_log(spark.createDataFrame(rows1, schema), log1, n_chunks=1)
    _run(spark, capsys, ["migrate", "--log", log1, "--table", table])

    # second epoch: u3 rewritten (supersedes v1 file), u4 deleted
    log2 = os.path.join(tmpdir_path, "log2")
    rows2 = [ev("u3", 2, text_a + " tail tail"),
             ev("u4", 2, "", op="delete")]
    write_event_log(spark.createDataFrame(rows2, schema), log2, n_chunks=1)
    _run(spark, capsys, ["migrate", "--log", log2, "--table", table])

    outp = os.path.join(tmpdir_path, "lake_deduped")
    out = _run(spark, capsys, [
        "dedup", "--input", table, "--output", outp,
        "--id-col", "url", "--threshold", "0.7"])
    # live state: u1/u2/u3 now all near-dups of text_a, u4 gone.
    # raw-parquet reading would have seen u4 and u3's old unique text.
    assert out["input_rows"] == 3
    kept = {r["url"] for r in spark.read.parquet(outp).collect()}
    assert kept == {"u1"}
    assert out["dropped_rows"] == 2


def test_curate_cli_end_to_end(spark, tmpdir_path, capsys):
    """`curate` writes the corpus minus every gated doc, reports
    per-reason drop counts, and the optional audit frame carries one
    row per input doc with the decision trail."""
    good = ("the of and to in is that for apple banana cherry date "
            "egg fig grape house ink jug kite lemon mango nest onion "
            "pear quilt rose sun tree under vine wolf xray yarn zebra")
    rows = [
        (1, good),                                   # kept
        (2, good),                                   # dup of 1
        (3, "der die und das ist nicht ein mit"),    # lang
        (4, "the"),                                  # quality
        (5, "the of and to " * 4),                   # repetition
        (6, good + " extra closing words here"),     # kept (distinct)
    ]
    corpus = os.path.join(tmpdir_path, "corpus")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(2).write.parquet(corpus)

    outp = os.path.join(tmpdir_path, "curated")
    audit = os.path.join(tmpdir_path, "audit")
    out = _run(spark, capsys, [
        "curate", "--input", corpus, "--output", outp,
        "--audit-out", audit])
    assert out["job"] == "curate" and out["input_rows"] == 6
    assert out["kept_rows"] == 2 and out["dropped_rows"] == 4
    assert out["reasons"] == {"kept": 2, "duplicate": 1, "lang": 1,
                              "quality": 1, "repetition": 1}
    kept = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert kept == {1, 6}
    a = {r["doc_id"]: (r["reject_reason"], r["keep"])
         for r in spark.read.parquet(audit).collect()}
    assert a == {1: (None, True), 2: ("duplicate", False),
                 3: ("lang", False), 4: ("quality", False),
                 5: ("repetition", False), 6: (None, True)}

    # a permissive re-run through different thresholds keeps more
    outp2 = os.path.join(tmpdir_path, "curated2")
    out2 = _run(spark, capsys, [
        "curate", "--input", corpus, "--output", outp2,
        "--langs", "en,de", "--min-quality-bp", "0",
        "--max-dup-2gram-bp", "10000"])
    kept2 = {r["doc_id"] for r in spark.read.parquet(outp2).collect()}
    assert kept2 == {1, 3, 4, 5, 6}
    assert out2["reasons"] == {"kept": 5, "duplicate": 1}


def test_changes_cli_export_and_replicate(spark, tmpdir_path, capsys,
                                          job_log):
    """`changes` exports a replayable changelog (ordering columns) and
    replicates incrementally into a second lake table that converges to
    the source's state."""
    src = os.path.join(tmpdir_path, "chsrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])

    # export mode: full-history delta is all inserts, parquet lands
    outp = os.path.join(tmpdir_path, "chexport")
    out = _run(spark, capsys, [
        "changes", "--table", src, "--from-version", "1",
        "--ordering", "--output", outp])
    assert set(out["changes"]) == {"insert"}
    exported = spark.read.parquet(outp)
    assert {"_change_type", "_change_ts", "_change_seq"} <= \
        set(exported.columns)
    assert exported.count() == out["changes"]["insert"]

    # replication mode: catch-up, then incremental after source growth
    dst = os.path.join(tmpdir_path, "chdst")
    ckpt = os.path.join(tmpdir_path, "chckpt")
    rep = _run(spark, capsys, [
        "changes", "--table", src, "--replicate-to", dst,
        "--checkpoint", ckpt])
    assert rep["position"] == rep["version"]
    s = LakeTable(spark, src)
    d = LakeTable(spark, dst)
    key = lambda df: {r["url"]: (r["warc_ts"], r["text"])  # noqa: E731
                      for r in df.select("url", "warc_ts", "text")
                      .collect()}
    assert key(d.read()) == key(s.read())

    more = os.path.join(tmpdir_path, "chmore")
    write_event_log(gen_change_events(spark, n_urls=120, n_events=200,
                                      seed=18), more, n_chunks=2)
    _run(spark, capsys, ["migrate", "--log", more, "--table", src])
    rep2 = _run(spark, capsys, [
        "changes", "--table", src, "--replicate-to", dst,
        "--checkpoint", ckpt])
    assert rep2["batches"] and rep2["batches"][0]["v_from"] == \
        rep["position"]
    assert key(LakeTable(spark, dst).read()) == \
        key(LakeTable(spark, src).read())

    # config errors surface as rc 1 with a message, not a traceback
    assert main(["changes", "--table", src, "--replicate-to", dst],
                spark=spark) == 1
    assert main(["changes", "--table", src], spark=spark) == 1


def test_changes_cli_filtered_follow(spark, tmpdir_path, capsys, job_log):
    """Replication-mode flags: --where/--columns build a filtered,
    projected replica; --follow --max-polls paces extra polls; a
    conflicting rule on a later invocation is a loud config error."""
    src = os.path.join(tmpdir_path, "fchsrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    dst = os.path.join(tmpdir_path, "fchdst")
    ckpt = os.path.join(tmpdir_path, "fchckpt")
    out = _run(spark, capsys, [
        "changes", "--table", src, "--replicate-to", dst,
        "--checkpoint", ckpt, "--where", "lang = 'en'",
        "--columns", "text,lang",
        "--follow", "--poll-interval", "0", "--max-polls", "2"])
    assert out["polls"] == 2
    replica = LakeTable(spark, dst)
    assert set(replica.read().columns) == {"url", "warc_ts", "text",
                                           "lang"}
    src_t = LakeTable(spark, src)
    want = {r["url"] for r in src_t.read()
            .filter("lang = 'en'").select("url").collect()}
    assert {r["url"] for r in replica.read().collect()} == want
    # pinned-rule conflict surfaces as rc 1, not a traceback
    assert main(["changes", "--table", src, "--replicate-to", dst,
                 "--checkpoint", ckpt, "--where", "lang = 'de'"],
                spark=spark) == 1


def test_changes_cli_snapshot_bootstrap(spark, tmpdir_path, capsys,
                                        job_log):
    """--bootstrap snapshot seeds a fresh replica from the source's
    current state even when the changelog history has been expired,
    and reports the seeded version."""
    src = os.path.join(tmpdir_path, "bsrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    src_t = LakeTable(spark, src)
    src_t.overwrite(src_t.read())          # second version...
    src_t.expire_versions(keep_last=1)     # ...then drop the history
    dst = os.path.join(tmpdir_path, "bdst")
    ckpt = os.path.join(tmpdir_path, "bckpt")
    # default changelog bootstrap cannot start from expired history
    assert main(["changes", "--table", src, "--replicate-to", dst + "x",
                 "--checkpoint", ckpt + "x"], spark=spark) == 1
    out = _run(spark, capsys, [
        "changes", "--table", src, "--replicate-to", dst,
        "--checkpoint", ckpt, "--bootstrap", "snapshot"])
    assert out["seeded_at_version"] == src_t.version
    want = {r["url"] for r in src_t.read().select("url").collect()}
    got = {r["url"] for r in LakeTable(spark, dst).read().collect()}
    assert got == want


def test_changes_cli_fanout(spark, tmpdir_path, capsys, job_log):
    """--fanout replicates one source into N replicas from a JSON hop
    spec — here an 'en'-filtered projection and a full copy — with one
    delta read per poll serving both."""
    src = os.path.join(tmpdir_path, "fosrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    spec = os.path.join(tmpdir_path, "fanout.json")
    dst_en = os.path.join(tmpdir_path, "fo_en")
    dst_all = os.path.join(tmpdir_path, "fo_all")
    with open(spec, "w") as f:
        json.dump([
            {"target": dst_en,
             "checkpoint": os.path.join(tmpdir_path, "fo_ck_en"),
             "where": "lang = 'en'", "columns": ["text", "lang"],
             "stream_id": "en"},
            {"target": dst_all,
             "checkpoint": os.path.join(tmpdir_path, "fo_ck_all"),
             "bootstrap": "snapshot", "stream_id": "all"},
        ], f)
    out = _run(spark, capsys, ["changes", "--table", src,
                               "--fanout", spec])
    assert len(out["hops"]) == 2 and out["polls"] == 1
    src_t = LakeTable(spark, src)
    want_en = {r["url"] for r in src_t.read()
               .filter("lang = 'en'").select("url").collect()}
    assert {r["url"] for r in LakeTable(spark, dst_en).read()
            .collect()} == want_en
    assert LakeTable(spark, dst_all).read().count() == \
        src_t.read().count()
    # both flags together is a config error, not a silent pick
    assert main(["changes", "--table", src, "--fanout", spec,
                 "--replicate-to", dst_all, "--checkpoint", "x"],
                spark=spark) == 1
    # malformed spec (missing checkpoint) errors cleanly
    with open(spec, "w") as f:
        json.dump([{"target": dst_en}], f)
    assert main(["changes", "--table", src, "--fanout", spec],
                spark=spark) == 1


def test_clone_cli(spark, tmpdir_path, capsys, job_log):
    """clone CLI: zero-copy fork, then --localize detaches it from the
    source entirely."""
    import shutil

    src = os.path.join(tmpdir_path, "clsrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    dst = os.path.join(tmpdir_path, "cldst")
    out = _run(spark, capsys, ["clone", "--table", src, "--to", dst])
    assert out["external_buckets"] > 0
    want = {r["url"] for r in LakeTable(spark, src).read()
            .select("url").collect()}
    assert {r["url"] for r in LakeTable(spark, dst).read()
            .collect()} == want
    # existing target is a clean config error
    assert main(["clone", "--table", src, "--to", dst],
                spark=spark) == 1
    dst2 = os.path.join(tmpdir_path, "cldst2")
    out2 = _run(spark, capsys, ["clone", "--table", src, "--to", dst2,
                                "--localize"])
    assert out2["external_buckets"] == 0 and out2["localized"]
    shutil.rmtree(src)
    assert {r["url"] for r in LakeTable(spark, dst2).read()
            .collect()} == want


def test_changes_export_as_events_roundtrip(spark, tmpdir_path, capsys,
                                            job_log):
    """--as-events closes the interop loop: a lake table's changelog,
    exported in the engine's own event-log format, ingests through a
    plain `migrate` run into a second table that converges to the same
    final state (deletes carried at the tombstone's ordering)."""
    src = os.path.join(tmpdir_path, "xesrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    exp = os.path.join(tmpdir_path, "xelog")
    out = _run(spark, capsys, [
        "changes", "--table", src, "--from-version", "1",
        "--as-events", "--output", exp, "--chunks", "3"])
    assert out["segments"] == 3 and out["format"] == "parquet"
    dst = os.path.join(tmpdir_path, "xedst")
    _run(spark, capsys, ["migrate", "--log", exp, "--table", dst])
    s = LakeTable(spark, src).read()
    d = LakeTable(spark, dst).read()
    key = {r["url"]: (r["warc_ts"], r["text"]) for r in s.collect()}
    got = {r["url"]: (r["warc_ts"], r["text"]) for r in d.collect()}
    assert got == key
    # --as-events without --output is a config error
    assert main(["changes", "--table", src, "--from-version", "1",
                 "--as-events"], spark=spark) == 1


def test_describe_cli(spark, tmpdir_path, capsys, job_log):
    """describe answers the operational questions from the manifest
    alone: schema, retention, fences, file histogram, clone
    provenance — no data scan."""
    src = os.path.join(tmpdir_path, "desrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src,
                         "--stream-id", "d1"])
    out = _run(spark, capsys, ["describe", "--table", src])
    assert out["version"] >= 2 and out["files_total"] > 0
    assert out["schema"]["url"] == "string"
    assert out["epoch_fence"].get("d1") is not None
    assert out["external_buckets"] == 0 and "cloned_from" not in out
    dst = os.path.join(tmpdir_path, "declone")
    _run(spark, capsys, ["clone", "--table", src, "--to", dst])
    out2 = _run(spark, capsys, ["describe", "--table", dst,
                                "--lineage"])
    assert out2["cloned_from"]["table"] == src
    assert out2["external_buckets"] > 0
    assert out2["epoch_fence"] == {} and out2["lineage"] == []


def test_evolve_widen_and_drop_cli(spark, tmpdir_path, capsys, job_log):
    src = os.path.join(tmpdir_path, "evwd")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    out = _run(spark, capsys, [
        "evolve", "--table", src, "--add", "hits:int"])
    out = _run(spark, capsys, [
        "evolve", "--table", src, "--widen", "hits:bigint",
        "--drop", "lang"])
    assert out["applied"] == ["widen hits:bigint", "drop lang"]
    cols = dict(LakeTable(spark, src).read().dtypes)
    assert cols["hits"] == "bigint" and "lang" not in cols
    # refusals surface as rc 1, not tracebacks
    assert main(["evolve", "--table", src, "--widen", "hits:int"],
                spark=spark) == 1
    assert main(["evolve", "--table", src, "--drop", "url"],
                spark=spark) == 1


def test_changes_cli_follow_report_accumulates(spark, tmpdir_path, capsys,
                                               job_log):
    """--follow makes several polls; the job report must carry EVERY
    poll's applied ranges and the seed version — the last poll of a
    caught-up tail is typically empty and must not wipe them."""
    src = os.path.join(tmpdir_path, "acsrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    # changelog-bootstrap hop: poll 1 applies the history, poll 2 is
    # empty — the report keeps poll 1's batch
    out = _run(spark, capsys, [
        "changes", "--table", src,
        "--replicate-to", os.path.join(tmpdir_path, "acdst"),
        "--checkpoint", os.path.join(tmpdir_path, "acckpt"),
        "--follow", "--poll-interval", "0", "--max-polls", "2"])
    assert out["polls"] == 2
    assert out["batches"] and out["batches"][0]["v_from"] == 1
    # snapshot-bootstrap fan-out: the seed version survives the empty
    # trailing poll on every hop
    spec = os.path.join(tmpdir_path, "acspec.json")
    with open(spec, "w") as f:
        json.dump([{"target": os.path.join(tmpdir_path, "acfan1"),
                    "checkpoint": os.path.join(tmpdir_path, "acfck1"),
                    "bootstrap": "snapshot"}], f)
    out2 = _run(spark, capsys, [
        "changes", "--table", src, "--fanout", spec,
        "--follow", "--poll-interval", "0", "--max-polls", "2"])
    assert out2["polls"] == 2
    assert out2["hops"][0]["seeded_at_version"] == \
        LakeTable(spark, src).version


def test_changes_cli_status(spark, tmpdir_path, capsys, job_log):
    """`changes --status` answers "how far behind is this replica"
    from the offset JSON + manifests alone — nothing is applied, and
    an expired position is called out before a poll would raise."""
    src = os.path.join(tmpdir_path, "stsrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    dst = os.path.join(tmpdir_path, "stdst")
    ckpt = os.path.join(tmpdir_path, "stckpt")
    _run(spark, capsys, [
        "changes", "--table", src, "--replicate-to", dst,
        "--checkpoint", ckpt, "--where", "lang = 'en'"])
    st = _run(spark, capsys, [
        "changes", "--table", src, "--checkpoint", ckpt, "--status"])
    assert st["lag_versions"] == 0 and st["pinned"] \
        and st["where"] == "lang = 'en'" and not st["position_expired"]
    v0 = LakeTable(spark, dst).version
    # source grows: lag shows, target untouched by --status
    s = LakeTable(spark, src)
    s.overwrite(s.read())
    st = _run(spark, capsys, [
        "changes", "--table", src, "--checkpoint", ckpt, "--status"])
    assert st["lag_versions"] == 1 and not st["position_expired"]
    assert LakeTable(spark, dst).version == v0
    # retention overtakes the cursor: flagged as expired
    s.overwrite(s.read())
    s.expire_versions(keep_last=1)
    st = _run(spark, capsys, [
        "changes", "--table", src, "--checkpoint", ckpt, "--status"])
    assert st["position_expired"]
    assert main(["changes", "--table", src, "--status"], spark=spark) == 1


def test_changes_cli_verify(spark, tmpdir_path, capsys, job_log):
    """`changes --verify` proves the replica equals the source under
    the pinned rule (projected here) by per-bucket checksums; rc 1
    with a message when nothing has replicated yet."""
    src = os.path.join(tmpdir_path, "vfsrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    dst = os.path.join(tmpdir_path, "vfdst")
    ckpt = os.path.join(tmpdir_path, "vfckpt")
    assert main(["changes", "--table", src, "--replicate-to", dst,
                 "--checkpoint", ckpt + "x", "--verify"],
                spark=spark) == 1          # nothing committed yet
    _run(spark, capsys, [
        "changes", "--table", src, "--replicate-to", dst,
        "--checkpoint", ckpt, "--columns", "text,lang"])
    out = _run(spark, capsys, [
        "changes", "--table", src, "--replicate-to", dst,
        "--checkpoint", ckpt, "--verify"])
    assert out["match"] and out["lag_versions"] == 0
    assert out["source_rows"] == out["target_rows"] > 0
    assert main(["changes", "--table", src, "--verify"], spark=spark) == 1


def test_changes_cli_verify_autocorrect(spark, tmpdir_path, capsys,
                                        job_log):
    """--verify --autocorrect repairs the mismatched buckets and
    reports the repaired set plus the re-verified match."""
    src = os.path.join(tmpdir_path, "acvsrc")
    _run(spark, capsys, ["migrate", "--log", job_log, "--table", src])
    dst = os.path.join(tmpdir_path, "acvdst")
    ckpt = os.path.join(tmpdir_path, "acvckpt")
    _run(spark, capsys, ["changes", "--table", src,
                         "--replicate-to", dst, "--checkpoint", ckpt])
    replica = LakeTable(spark, dst)
    row = replica.read().limit(1).collect()[0]
    ev = spark.createDataFrame(
        [(10**6, "update", row["url"], row["warc_ts"], None, "CORRUPT",
          None)],
        "seq long, op string, url string, warc_ts timestamp, "
        "html binary, text string, lang string")
    replica.merge_batch(ev)
    # a failed verification exits rc 3 (distinct from config errors),
    # so &&-gated pipelines cannot promote a diverged replica
    assert main(["changes", "--table", src, "--replicate-to", dst,
                 "--checkpoint", ckpt, "--verify"], spark=spark) == 3
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not out["match"]
    out = _run(spark, capsys, [
        "changes", "--table", src, "--replicate-to", dst,
        "--checkpoint", ckpt, "--verify", "--autocorrect"])
    assert out["match"] and len(out["repaired_buckets"]) == 1
