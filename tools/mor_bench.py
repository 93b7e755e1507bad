"""Write-amplification bench: CoW vs MoR merge on a grown table.

The steady-state CDC shape at scale: a table far larger than any one
epoch, with each small epoch's keys scattered across most buckets.
Copy-on-write must rewrite every touched bucket whole; merge-on-read
appends only the epoch winners. This harness measures both on the same
seeded table + identical epoch stream and prints one JSON line:

  {"seed_rows": ..., "epochs": ..., "events_per_epoch": ...,
   "cow": {"apply_s": ..., "bytes_written": ...},
   "mor": {"apply_s": ..., "bytes_written": ..., "read_s": ...,
           "compact_s": ..., "post_compact_read_s": ...},
   "write_amplification_ratio": cow_bytes / mor_bytes}

Run: python tools/mor_bench.py [--urls 200000] [--epochs 12]
     [--events 2000] [--buckets 64] [--cores 8]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from cassandra_data_migrator_spark.config import EngineConfig  # noqa: E402
from cassandra_data_migrator_spark.lake import LakeTable  # noqa: E402
from cassandra_data_migrator_spark.session import get_spark  # noqa: E402
from cassandra_data_migrator_spark.sources import (  # noqa: E402
    gen_change_events,
    gen_web_pages,
)

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        for fn in files:
            if fn.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def run_side(spark, base, mode, pages, epoch_frames, n_buckets):
    t = LakeTable.create(
        spark, os.path.join(base, mode), SCHEMA,
        EngineConfig(n_buckets=n_buckets, merge_mode=mode))
    t.overwrite(pages)
    seeded = dir_bytes(t.path)
    t0 = time.time()
    for i, ev in enumerate(epoch_frames):
        t.merge_batch(ev, stream_id="m", epoch_id=i)
    apply_s = round(time.time() - t0, 3)
    out = {"apply_s": apply_s,
           "bytes_written": dir_bytes(t.path) - seeded}
    if mode == "mor":
        t0 = time.time()
        t.read().count()
        out["read_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        t.compact()
        out["compact_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        t.read().count()
        out["post_compact_read_s"] = round(time.time() - t0, 3)
    return t, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--urls", type=int, default=200_000)
    ap.add_argument("--epochs", type=int, default=12)
    ap.add_argument("--events", type=int, default=2_000)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    spark = get_spark("mor_bench", master=f"local[{args.cores}]",
                      shuffle_partitions=max(args.cores, args.buckets // 2))
    base = tempfile.mkdtemp(prefix="mor_bench_")

    pages = gen_web_pages(spark, n_rows=args.urls, seed=7) \
        .select("url", "warc_ts", "html", "text", "lang")
    # one deterministic event stream, sliced into per-epoch frames; the
    # keys reuse the seeded url space so epochs hit EXISTING rows
    n_total = args.epochs * args.events
    ev = gen_change_events(spark, n_urls=args.urls, n_events=n_total,
                           seed=11).withColumn("text", F.lit(None)
                                               .cast("string"))
    ev = ev.persist()
    ev.count()
    frames = [ev.filter((F.col("seq") >= i * args.events)
                        & (F.col("seq") < (i + 1) * args.events))
              for i in range(args.epochs)]

    t_cow, cow = run_side(spark, base, "cow", pages, frames, args.buckets)
    t_mor, mor = run_side(spark, base, "mor", pages, frames, args.buckets)

    # equivalence: both sides must hold the same final state
    cs = lambda t: sorted(  # noqa: E731
        (r["bucket"], r["row_count"], r["checksum"])
        for r in t.checksums().collect())
    assert cs(t_cow) == cs(t_mor), "CoW and MoR states diverged!"

    print(json.dumps({
        "seed_rows": args.urls,
        "epochs": args.epochs,
        "events_per_epoch": args.events,
        "buckets": args.buckets,
        "cores": args.cores,
        "cow": cow,
        "mor": mor,
        "write_amplification_ratio": round(
            cow["bytes_written"] / max(mor["bytes_written"], 1), 2),
        "apply_speedup": round(cow["apply_s"] / max(mor["apply_s"], 1e-9),
                               2),
    }))


if __name__ == "__main__":
    main()
