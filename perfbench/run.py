"""CDC engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backlog_copy --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. With ``--trace 0`` the
result carries the end-to-end metrics; with ``--trace 1`` a Spark event log
is written and folded into the per-layer metrics. The line before the
result carries the workload's own metric names (as README.md lists them),
host settings, correctness checks and run details. The exit code is 0 only
when every correctness check passed; without the engine package next to
this directory the run fails before printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4

E2E_UNITS = {
    "setup_s": "s",
    "throughput_rows_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p75_s": "s",
    "bytes_written_per_row": "B/row",
    "peak_rss_mb": "MB",
}
SPANS = ("session.get_spark", "pipeline.apply_batch", "table.merge_batch",
         "table.compact", "table.read", "table.overwrite", "table.checksums",
         "diff.diff_tables", "diff.autocorrect", "changelog.replicate",
         "changelog.verify_replica")
SPAN_FIGURES = {"calls": "count", "wall_s": "s", "jobs": "count",
                "executions": "count", "executor_s": "s", "driver_gap_s": "s",
                "shuffle_write_bytes": "B", "spill_bytes": "B"}
FS_OPS = ("makedirs", "exists", "isdir", "listdir", "read_text",
          "create_exclusive", "replace", "write_bytes", "delete", "rmdir")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    units = {f"{s}.{k}": u for s in SPANS for k, u in SPAN_FIGURES.items()}
    units.update({
        "commits": "count",
        "pipeline.conflict_retries": "count",
        "table.compact.bytes_rewritten": "B",
        "table.read.delta_depth": "count",
        **{f"fs.calls.{op}": "count" for op in FS_OPS},
        "fs.wall_s": "s",
        "fs.manifest_bytes": "B",
        "udfs.python_start_s": "s",
        "udfs.python_init_s": "s",
        "udfs.python_run_s": "s",
        "udfs.bytes_to_python": "B",
        "diff.corrected_share": "ratio",
        "trace.unattributed_jobs": "count",
    })
    return units


def start_spark(settings: dict, trace: bool):
    from cassandra_data_migrator_spark import session

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files under /tmp, from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # get_spark ships the package zip through /tmp; keep it in the checkout
    package_zip = session.package_zip
    session.package_zip = lambda: package_zip(out_dir=tmp)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed heap size: resident memory then tracks what the run
        # touches, not when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{settings['driver_mem']} "
            "-XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = session.get_spark("perfbench", master=f"local[{CORES}]",
                              shuffle_partitions=CORES, extra_conf=conf)
    # a multi-file trigger reads its chunks through a path glob, which
    # Spark's sink-metadata probe reports as a WARN with a stack trace
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — a lost JVM cannot stop cleanly
        traceback.print_exc(file=sys.stderr)
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def reported_spans(tracer) -> list:
    """Spans outside the benchmark's own un-reported work (warm-up, origin
    drift, oracle)."""
    by_id = {s.sid: s for s in tracer.spans}

    def hidden(s) -> bool:
        while s is not None:
            if s.name.startswith("bench."):
                return True
            s = by_id.get(s.parent)
        return False

    return [s for s in tracer.spans if not hidden(s)]


def layer_metrics(ctx, event_log: str) -> dict[str, float]:
    import eventlog

    jobs, stages = eventlog.parse(event_log)
    spans = reported_spans(ctx.tracer)
    folded = eventlog.fold(jobs, stages, spans)
    out: dict[str, float] = {}
    for name in SPANS:
        st = folded.get(name)
        n = st.calls if st else 0
        out[f"{name}.calls"] = float(n)
        out[f"{name}.wall_s"] = statistics.median(st.walls) if n else 0.0
        for k in ("jobs", "executions", "executor_s", "driver_gap_s",
                  "shuffle_write_bytes", "spill_bytes"):
            out[f"{name}.{k}"] = getattr(st, k) / n if n else 0.0
    commits = ctx.layer.get("commits") or 1
    lo, hi = ctx.window
    compacts = [s.attrs.get("bytes_rewritten", 0) for s in spans
                if s.name == "table.compact"]
    out["table.compact.bytes_rewritten"] = (
        statistics.fmean(compacts) if compacts else 0.0)
    for op in FS_OPS:
        out[f"fs.calls.{op}"] = ctx.fs_window["calls"][op] / commits
    out["fs.wall_s"] = ctx.fs_window["wall_s"] / commits
    out["fs.manifest_bytes"] = ctx.fs_window["manifest_bytes"] / commits
    for k, v in eventlog.python_udf_totals(jobs, stages, lo, hi).items():
        out[f"udfs.{k}"] = v / commits
    out["trace.unattributed_jobs"] = float(
        eventlog.unattributed_jobs(jobs, lo, hi))
    out.update({k: float(v) for k, v in ctx.layer.items()})
    out.setdefault("diff.corrected_share", 0.0)
    return out


def main(argv: list[str] | None = None) -> int:
    import host

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    settings = host.plan(os.path.join(WORK, "spark-local"))
    host.apply(settings)
    from spans import Tracer

    tracer = Tracer()
    spark = None
    error = None
    with host.RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = start_spark(settings, bool(args.trace))
            get_spark_s = time.perf_counter() - t0
            if args.trace:
                tracer.sc = spark.sparkContext
            ctx = workloads.Ctx(spark, tracer, os.path.join(WORK, "run"),
                                args.seed, args.seconds)
            workloads.WORKLOADS[args.workload](ctx)
        except Exception as e:  # noqa: BLE001 — report partial results
            traceback.print_exc(file=sys.stderr)
            error = repr(e)
        finally:
            if spark is not None:
                stop_spark(spark)
    if spark is None:
        shutil.rmtree(WORK, ignore_errors=True)
        return 1

    ops = ctx.ops
    correct = error is None and bool(ops.checks) and all(ops.checks.values())
    metrics: dict[str, float] = {}
    if args.trace:
        logs = os.listdir(os.path.join(WORK, "eventlog"))
        if len(logs) == 1 and error is None:
            metrics = layer_metrics(
                ctx, os.path.join(WORK, "eventlog", logs[0]))
        units = per_layer_units()
    else:
        if ctx.setup_walls:
            metrics["setup_s"] = get_spark_s + statistics.median(
                ctx.setup_walls)
        metrics.update(ctx.e2e)
        metrics["peak_rss_mb"] = rss.peak_mb
        units = E2E_UNITS
    shutil.rmtree(WORK, ignore_errors=True)

    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "named": {k: {"value": v, "unit": u}
                  for k, (v, u) in ctx.named.items()},
        "failed_op_share": ops.failed / max(ops.attempted, 1),
        "checks": ops.checks,
        "host": {**settings, "cores_used": CORES,
                 "scratch_dir": os.path.relpath(settings["scratch_dir"], ROOT)},
        "get_spark_s": get_spark_s,
        "setup_table_s": ctx.setup_walls,
        "info": ctx.info,
        "error": error,
    }
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps({
        "correct": correct,
        "attempted": max(ops.attempted, 1),
        "failed": ops.failed if ops.attempted else 1,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items() if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
