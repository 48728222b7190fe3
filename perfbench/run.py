"""Tier-throughput benchmark of the time-series rollup engine.

    python3 perfbench/run.py --workload tier_build --seed 1 --seconds 20 --trace 0

Run from the repository root.  One driver process, ``local[4]``, one
client in a closed loop: each call into the engine starts when the
previous one has returned.  The run

1. refuses to start while another Spark driver JVM is alive;
2. starts Spark (the engine's ``session.get_spark``) and sets up the
   workload's inputs from ``--seed``;
3. reads a host calibration (a fixed JVM-only job);
4. runs passes of the workload until ``--seconds`` have gone by
   (always at least one pass);
5. reads the calibration again, then checks the last pass's outputs
   against independent computations;
6. stops Spark, waits for its JVM to exit, and prints one JSON object
   as the last line of standard output.

With ``--trace 0`` the metrics are the end-to-end ones, the same on
every workload; ``--trace 1`` records a span per call, reads Spark's
status stores for it, and reports per-layer metrics instead (layers a
workload does not call read 0).  Lines starting with ``#`` before the
JSON line carry the run's metadata, the output checks, and each
workload's own throughput figures.  Scratch files go under
``.perfbench_work/`` and are removed at exit, except the per-run
record ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# name → unit; every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "points_per_cpu_s": "1/s",
    "call_max_cpu_s": "s",
    "ok_rate": "ratio",
}

RUNTIME_LAYER = {
    "pass.wall_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_worker_s": "s",
    "spark.task_skew": "ratio",
    "spark.jobs": "count",
    "host.jvm_peak_rss_mb": "MiB",
    "host.calibration_drift": "ratio",
    "log.error_lines": "count",
    "log.warn_lines": "count",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in report order."""
    from workloads import QUERY_KEYS

    units = {
        "series.wall_s": "s", "series.rows_out": "count",
        "series.shuffle_bytes": "bytes",
        "gapfill.wall_s": "s", "gapfill.grid_rows": "count",
        "gapfill.expansion": "ratio", "gapfill.spill_bytes": "bytes",
    }
    for tier in ("1m", "1h", "1d"):
        units.update({
            f"rollup.{tier}.wall_s": "s", f"rollup.{tier}.rows_in": "count",
            f"rollup.{tier}.rows_out": "count",
            f"rollup.{tier}.shuffle_bytes": "bytes",
            f"rollup.{tier}.agg_build_s": "s",
        })
    units.update({
        "chunks.wall_s": "s", "chunks.python_s": "s",
        "chunks.arrow_bytes": "bytes", "chunks.bytes_per_point": "bytes",
        "manifest.overhead_s": "s", "manifest.part_skew": "ratio",
        "correlation.align_s": "s", "correlation.sketch_s": "s",
        "correlation.candidates_s": "s", "correlation.exact_s": "s",
        "correlation.n_series": "count", "correlation.checked": "count",
        "correlation.reported": "count", "correlation.prune_ratio": "ratio",
        "correlation.precision": "ratio",
        "stream.dedup_s": "s", "stream.rollup_1m_s": "s",
        "stream.cascade_1h_s": "s", "stream.cascade_1d_s": "s",
        "stream.input_rows": "count", "stream.state_rows": "count",
        "refresh.wall_s": "s", "refresh.days_rewritten": "count",
        "retention.wall_s": "s", "retention.partitions_dropped": "count",
    })
    for key in QUERY_KEYS:
        units[f"query.{key}.wall_s"] = "s"
    units.update({
        "turns_per_s": "1/s", "tier_1m_points_per_s": "1/s",
        "tier_1h_points_per_s": "1/s", "tier_1d_points_per_s": "1/s",
        "chunk_points_per_s": "1/s", "fill_points_per_s": "1/s",
        "corr_s": "s", "drain_p50_s": "s", "drain_max_s": "s",
        "stream_points_per_s": "1/s", "refresh_s": "s",
        "queries_total_s": "s",
    })
    units.update(RUNTIME_LAYER)
    return units


def _engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "timeseriescorrelation_spark")))


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _info(tag: str, payload) -> None:
    print(f"# {tag} {json.dumps(payload, sort_keys=True)}", flush=True)


class CapturedStderr:
    """Send fd 2 (and so the JVM's log4j output, which the JVM inherits)
    to a file while Spark runs; restore it on exit."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self):
        sys.stderr.flush()
        self.saved = os.dup(2)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, *exc):
        sys.stderr.flush()
        os.dup2(self.saved, 2)
        os.close(self.saved)
        return False


def start_spark(work: str):
    from timeseriescorrelation_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        master="local[4]",
        shuffle_partitions=4,
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "2g",
            # C1-only JIT and the parallel collector: a short-lived
            # driver JVM then spends half the CPU seconds, with less
            # run-to-run spread; no perf-data file in the system /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
                "-XX:+UseParallelGC -XX:-UsePerfData"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit.  The JVM leaves when its stdin
    closes; it is never killed while a job may be running."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=120)


def run(args, work: str) -> tuple[dict, dict]:
    """One benchmark run; returns (result JSON, metadata)."""
    import checks as C
    from sparkstats import (
        NoSpans,
        SpanStats,
        calibration_s,
        count_log_levels,
        peak_rss_mb,
        tree_cpu_s,
    )
    from workloads import WORKLOADS

    log_path = os.path.join(work, "spark.log")
    meta: dict = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "scale": args.scale}
    with CapturedStderr(log_path):
        t0 = time.perf_counter()
        spark = start_spark(work)
        jvm_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
            wl.setup()
            setup_wall_s = time.perf_counter() - t0
            setup_s = tree_cpu_s(jvm_pid)
            calibration_s(spark, repeats=1)  # warm-up, not recorded
            cal_before = calibration_s(spark)
            tracer = (SpanStats(spark, jvm_pid) if args.trace
                      else NoSpans(jvm_pid))
            passes = []
            loop0 = time.perf_counter()
            while True:
                passes.append(wl.run_pass(len(passes), tracer))
                if time.perf_counter() - loop0 >= args.seconds:
                    break
            cal_after = calibration_s(spark)
            t_check = time.perf_counter()
            con = C.duckdb_connect(os.path.join(work, "tmp"))
            check_results = wl.check(passes[-1], con)
            con.close()
            meta["check_s"] = time.perf_counter() - t_check
            wl_metrics = wl.workload_metrics(passes)
            layer = wl.layer_metrics(passes) if args.trace else {}
            rss = peak_rss_mb(jvm_pid)
        finally:
            stop_spark(spark)
    errors, warns = count_log_levels(log_path)

    ops = [op for p in passes for op in p.ops]
    failed_ops = [op for op in ops if op.error]
    failed_checks = {k: v for k, v in check_results.items() if v}
    attempted = len(ops) + len(check_results)
    failed = len(failed_ops) + len(failed_checks)
    drift = abs(cal_after - cal_before) / cal_before if cal_before else 0.0

    for op in failed_ops:
        _info("failed-call", {"call": op.name, "error": op.error})
    for name, problems in check_results.items():
        _info("check", {"name": name, "ok": not problems,
                        "problems": problems})

    walls = [p.wall_s for p in passes]
    values = {
        "setup_s": setup_s,
        "cpu_s": statistics.median(p.cpu_s for p in passes),
        "points_per_cpu_s": statistics.median(
            sum(op.rows_in for op in p.ops) / p.cpu_s for p in passes),
        "call_max_cpu_s": statistics.median(
            max(op.cpu_s for op in p.ops) for p in passes),
        "ok_rate": (attempted - failed) / attempted,
    }
    if args.trace:
        spans = tracer.spans
        layer.update({k: v for k, (v, _) in wl_metrics.items()})
        layer.update({
            "pass.wall_s": statistics.median(walls),
            "spark.shuffle_write_bytes": sum(
                s.get("shuffle_write_bytes", 0.0) for s in spans),
            "spark.spill_bytes": sum(s.get("spill_bytes", 0.0) for s in spans),
            "spark.python_worker_s": sum(
                s.get("python_worker_s", 0.0) for s in spans),
            "spark.task_skew": max(
                (s.get("task_skew", 1.0) for s in spans), default=1.0),
            "spark.jobs": sum(s.get("jobs", 0.0) for s in spans),
            "host.jvm_peak_rss_mb": rss,
            "host.calibration_drift": drift,
            "log.error_lines": errors,
            "log.warn_lines": warns,
            "trace.overhead_s": tracer.collector_s,
        })
        units = per_layer_units()
    else:
        layer = values
        units = END_TO_END

    metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    meta.update({
        "jvm_start_s": jvm_s,
        "setup_cpu_s": setup_s,
        "setup_wall_s": setup_wall_s,
        "passes": len(passes),
        "pass_wall_s": walls,
        "calls": [{"name": op.name, "wall_s": op.wall_s, "cpu_s": op.cpu_s,
                   "rows_in": op.rows_in} for op in ops],
        "pass_cpu_s": [p.cpu_s for p in passes],
        "calibration_s": [cal_before, cal_after],
        "calibration_drift": drift,
        "calibration_flag": drift > 0.20,
        "log_error_lines": errors,
        "log_warn_lines": warns,
        "jvm_peak_rss_mb": rss,
        "workload_metrics": {k: {"value": v, "unit": u}
                             for k, (v, u) in wl_metrics.items()},
    })
    result = {"correct": not failed, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, meta


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke test's input size")
    args = ap.parse_args(argv)

    if not _engine_present():
        print(f"perfbench: no engine sources next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS
    from sparkstats import wait_for_quiet_host

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    alive = wait_for_quiet_host()
    if alive:
        print(f"perfbench: another Spark JVM is running (pids {alive}); "
              "refusing to measure on a busy host", file=sys.stderr)
        return 3

    os.chdir(ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update({
        "TZ": "UTC",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    time.tzset()
    try:
        result, meta = run(args, work)
    except Exception:
        log = os.path.join(work, "spark.log")
        if os.path.exists(log):
            with open(log, errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import pyspark
    import duckdb

    meta.update({
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(),
    })
    _info("run", meta)
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    record = os.path.join(
        base, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as fh:
        json.dump({"meta": meta, "result": result}, fh, indent=1)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
