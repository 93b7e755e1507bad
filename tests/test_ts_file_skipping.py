"""Manifest ts_min/ts_max file stats + time-scoped reads: commit-time
stamping, scan-time file skipping, MoR safety guard, exact
filter-after-read semantics. (Iceberg column-stats pruning, owned by
the engine's manifest since it owns the lake format.)"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.lake import LakeTable

UTC = dt.timezone.utc

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("text", T.StringType(), True),
])


def ts(s):
    return dt.datetime(2024, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=s)


def ev(spark, rows):
    return spark.createDataFrame(
        [(seq, op, url, ts(t), body) for seq, op, url, t, body in rows],
        "seq long, op string, url string, warc_ts timestamp, text string")


def mk(spark, tmpdir_path, name, mode="cow"):
    return LakeTable.create(
        spark, os.path.join(tmpdir_path, name), SCHEMA,
        EngineConfig(n_buckets=8, merge_mode=mode))


def test_stats_stamped_on_commit(spark, tmpdir_path):
    t = mk(spark, tmpdir_path, "t")
    t.merge_batch(ev(spark, [(1, "insert", "a", 100, "x"),
                             (2, "insert", "b", 7000, "y")]))
    entries = [e for es in t.manifest["files"].values() for e in es]
    assert entries
    for e in entries:
        assert isinstance(e["ts_min"], int)
        assert isinstance(e["ts_max"], int)
        assert e["ts_min"] <= e["ts_max"]
    lo = min(e["ts_min"] for e in entries)
    hi = max(e["ts_max"] for e in entries)
    epoch = dt.datetime(1970, 1, 1, tzinfo=UTC)
    assert lo == (ts(100) - epoch) // dt.timedelta(microseconds=1)
    assert hi == (ts(7000) - epoch) // dt.timedelta(microseconds=1)


def test_ts_between_skips_files_and_matches_filter(spark, tmpdir_path):
    """Keys in disjoint time windows land in different buckets/files;
    a window-scoped read must scan ONLY the intersecting files and
    return exactly what a full read + filter would."""
    t = mk(spark, tmpdir_path, "t")
    old = [(i, "insert", f"old/{i}", 100 + i, "o") for i in range(10)]
    new = [(100 + i, "insert", f"new/{i}", 50_000 + i, "n")
           for i in range(10)]
    t.merge_batch(ev(spark, old))
    t.merge_batch(ev(spark, new))

    win = (ts(40_000), ts(60_000))
    scoped = t.read(ts_between=win)
    full = t.read().filter(
        (F.col("warc_ts") >= F.lit(win[0]))
        & (F.col("warc_ts") <= F.lit(win[1])))
    assert sorted(r["url"] for r in scoped.collect()) \
        == sorted(r["url"] for r in full.collect())
    assert scoped.count() == 10

    # files actually skipped: only entries intersecting the window scan
    epoch = dt.datetime(1970, 1, 1, tzinfo=UTC)
    lo_us = (win[0] - epoch) // dt.timedelta(microseconds=1)
    scanned = {f.replace("file://", "").replace("file:", "")
               for f in scoped.inputFiles()}
    allowed = {os.path.join(t.path, e["path"])
               for es in t.manifest["files"].values() for e in es
               if e["ts_max"] >= lo_us}
    all_files = {os.path.join(t.path, e["path"])
                 for es in t.manifest["files"].values() for e in es}
    assert scanned <= allowed
    assert len(scanned) < len(all_files)  # something WAS skipped

    # open bounds
    assert t.read(ts_between=(ts(50_000), None)).count() == 10
    assert t.read(ts_between=(None, ts(200))).count() >= 1


def test_mor_bucket_disables_file_skip_but_not_correctness(
        spark, tmpdir_path):
    """A newer delta OUTSIDE the window supersedes a base row INSIDE
    it: the key must NOT be returned. Skipping the delta file would
    resurrect the base row — the guard keeps every file of a
    delta-carrying bucket in the scan."""
    t = mk(spark, tmpdir_path, "t", mode="mor")
    t.merge_batch(ev(spark, [(1, "insert", "k", 100, "v1")]))
    t.compact()  # fold: k's row is now a plain base file
    t.merge_batch(ev(spark, [(2, "update", "k", 90_000, "v2")]))
    assert t.delta_file_counts()

    got = t.read(ts_between=(ts(0), ts(1000))).collect()
    assert got == []  # winner (ts=90000) is outside the window
    # after folding, the same read skips cleanly and stays correct
    t.compact()
    assert t.read(ts_between=(ts(0), ts(1000))).collect() == []
    assert [r["text"] for r in
            t.read(ts_between=(ts(80_000), None)).collect()] == ["v2"]


def test_legacy_entries_without_stats_are_kept(spark, tmpdir_path):
    """Manifests written before the stats existed (or via overwrite)
    have no ts_min — those entries are conservatively scanned."""
    import json

    t = mk(spark, tmpdir_path, "t")
    t.merge_batch(ev(spark, [(1, "insert", "a", 100, "x")]))
    # strip the stats as a pre-stats manifest would look
    m = t.manifest
    for es in m["files"].values():
        for e in es:
            e.pop("ts_min", None)
            e.pop("ts_max", None)
    got = t.read(ts_between=(ts(0), ts(1000))).collect()
    assert [r["url"] for r in got] == ["a"]


def test_overwrite_seed_gets_stats_and_skips(spark, tmpdir_path):
    """Bootstrap seeds (overwrite) stamp the same entry stats as merge
    commits, so a time-scoped read over a freshly seeded table skips
    non-intersecting bucket files."""
    t = mk(spark, tmpdir_path, "t")
    seed = spark.createDataFrame(
        [(f"old/{i}", ts(100 + i), "o") for i in range(10)]
        + [(f"new/{i}", ts(50_000 + i), "n") for i in range(10)],
        "url string, warc_ts timestamp, text string")
    t.overwrite(seed)
    entries = [e for es in t.manifest["files"].values() for e in es]
    assert entries and all("ts_min" in e for e in entries)
    scoped = t.read(ts_between=(ts(40_000), None))
    assert scoped.count() == 10
    all_files = {os.path.join(t.path, e["path"]) for e in entries}
    scanned = {f.replace("file://", "").replace("file:", "")
               for f in scoped.inputFiles()}
    assert len(scanned) < len(all_files)


def test_naive_bound_is_utc_under_non_utc_driver_tz(spark, tmpdir_path):
    """A naive ts_between bound means UTC for the file skip AND the row
    filter, whatever the driver OS timezone: under TZ=America/Los_Angeles
    a scoped read equals the same read with the bounds made UTC-aware
    and the keys known to lie in the window."""
    import time

    t = mk(spark, tmpdir_path, "t")
    t.merge_batch(ev(spark, [(1, "insert", "a", 100, "x"),
                             (2, "insert", "b", 5 * 3600, "y"),
                             (3, "insert", "c", 10 * 3600, "z")]))
    lo = dt.datetime(2024, 1, 1, 4, 0)   # naive: 04:00 UTC
    hi = dt.datetime(2024, 1, 1, 6, 0)   # naive: 06:00 UTC
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        got = sorted(r["url"] for r in
                     t.read(ts_between=(lo, hi)).collect())
        aware = sorted(r["url"] for r in t.read(ts_between=(
            lo.replace(tzinfo=UTC), hi.replace(tzinfo=UTC))).collect())
        open_lo = sorted(r["url"] for r in
                         t.read(ts_between=(lo, None)).collect())
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert got == aware == ["b"]
    assert open_lo == ["b", "c"]
