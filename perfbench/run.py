"""Facade benchmark for the transcript TSDB.

    python3 perfbench/run.py --workload ingest|dashboard --seed N \
        --seconds S --trace 0|1

Run from the repository root. One process, one SparkSession on
local[<nproc>], one closed-loop client. The run:

1. set-up (timed as `setup_s`): session start, seeded inputs, the
   workload's store build and warm-up;
2. repeats the workload's cycle of operations until `--seconds` have
   passed (whole cycles only);
3. checks every answer against the oracle (untimed);
4. prints a detail report line (every figure with unit, sample count and
   base, plus a reproducibility record), then, as the last line, the
   result object: end-to-end metrics with `--trace 0`, per-layer metrics
   from the Spark event log with `--trace 1`.

`--trace 1` alternates untraced and traced cycles; the traced ones wrap
each layer's public functions (see tracing.py) and feed the per-layer
metrics, and `trace.overhead` compares the two kinds of cycle.

Scratch files live under `.perfbench_work/` in the current directory and
are removed at the end; each workload's starting store is built once into
`.perfbench_cache/`, and traced runs leave their spans in
`.perfbench_traces/`. Exits non-zero, printing no result, when the
package is not importable from the current directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "lindorm_tsdb_contest_java_spark"
# spans of traced runs are written here at the end of the run
TRACE_DIR = ".perfbench_traces"

# Inputs per workload. Sizes are set by the time a run may take on a
# 4-core machine (session start and one cold bulk flush already cost ~35 s):
# ~10k turns over 30 days, 200 conversations, one hot conversation.
PARAMS = {
    "ingest": {"n_conv": 200, "mean_turns": 50, "bulk_frac": 0.8,
               "batch_frac": (0.02, 0.03), "batches_per_cycle": 1,
               "keep_hours": (4, 8)},
    "dashboard": {"n_conv": 200, "mean_turns": 50, "n_docs": 2000,
                  "n_vecs": 2000, "dim": 64},
}

END_TO_END = {
    "setup_s": "s",
    "cycle_x": "ratio",
    "read_x.gmean": "ratio",
}
# control_s runs this many times untimed in set-up (it keeps speeding up
# for a few runs on a fresh JVM), then right before and right after the
# loop
CONTROL_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def source_digest() -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(base, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def peak_rss_mb(who: int) -> float:
    return resource.getrusage(who).ru_maxrss / 1024


def summarize(values: list[float]) -> dict:
    """n, mean and — only when at least 10 samples lie beyond them —
    p50 (n >= 20) and p90 (n >= 100)."""
    out = {"n": len(values), "mean": statistics.fmean(values)}
    if len(values) >= 20:
        out["p50"] = statistics.median(values)
    if len(values) >= 100:
        out["p90"] = statistics.quantiles(values, n=10)[-1]
    return out


def control_s(spark, cpus: int) -> float:
    """Wall of a fixed, package-independent Spark workload: a planned
    hash aggregate with one shuffle and an Arrow pass through Python
    workers — the two substrates every engine call runs on. The host's
    speed drifts by ±30% between runs; the same drift moves this wall,
    so metrics divided by it compare across runs."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (spark.range(0, 2_000_000, numPartitions=cpus)
     .select(F.xxhash64("id").alias("h"))
     .groupBy(F.pmod("h", F.lit(64))).agg(F.max("h")).collect())
    (spark.range(0, 200_000, numPartitions=cpus)
     .mapInArrow(_pass_batches, "id long").count())
    return time.perf_counter() - t0


def _pass_batches(batches):
    yield from batches


def start_spark(work: str, cpus: int, shuffle: int, event_dir: str | None):
    """The engine's own session (plans/session.get_spark, as bench.py
    uses it) plus the benchmark's settings, passed as spark-submit
    confs because get_spark owns the builder."""
    conf = {
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "true",
                     "spark.eventLog.compression.codec": "zstd"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    from lindorm_tsdb_contest_java_spark.plans.session import get_spark

    spark = get_spark("perfbench", parallelism=cpus,
                      shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, PKG, "engine.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))):
        print(f"perfbench: run from the repository root ({PKG}/ and "
              "tests/oracle.py not found here)", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    shuffle = 2 * cpus
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d))
    # Python workers import the package from the checkout; temp files of
    # the JVM launcher and workers stay inside it too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [ROOT, HERE]

    try:
        return run(args, work, cpus, shuffle)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, cpus: int, shuffle: int) -> int:
    import tracing
    import workloads

    params = dict(PARAMS[args.workload], cpus=cpus)
    from lindorm_tsdb_contest_java_spark.sources.segments import (
        DEFAULT_CHUNK_US,
    )
    params.setdefault("chunk_us", DEFAULT_CHUNK_US)
    # built-once inputs live beside the work dirs, keyed by the program
    # source and the input parameters
    key = hashlib.sha256((source_digest() + json.dumps(
        params, sort_keys=True)).encode()).hexdigest()[:16]
    params["store_cache"] = os.path.join(
        ROOT, ".perfbench_cache", f"{args.workload}-store-{key}")
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = start_spark(work, cpus, shuffle, event_dir)
    session_s = time.perf_counter() - T_START
    # bench.py's box-noise control (ungated). Its first call costs ~10 s
    # on a cold JVM, so only the traced run, which is not timed against a
    # bound, records it at the start and the end
    import bench
    control = []
    try:
        if args.trace:
            control.append(bench.control_workload(spark, cpus))

        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(work, "store"), args.seed, params)
        for _ in range(CONTROL_REPS):  # warm the control's own code paths
            control_s(spark, cpus)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        controls = [control_s(spark, cpus) for _ in range(CONTROL_REPS)]

        tracer = tracing.Tracer(spark) if args.trace else None
        cycles = {"untraced": [], "traced": []}
        windows = []
        traced_rows = traced_turns = 0
        t_loop = time.perf_counter()
        # --trace 1 runs blocks of untraced/traced/traced/untraced cycles,
        # so warming over the loop biases neither side of trace.overhead
        pattern = [False, True, True, False] if tracer else [False]
        while wl.cycles_left() > 0:
            traced = pattern[(len(cycles["untraced"])
                              + len(cycles["traced"])) % len(pattern)]
            if traced:
                tracer.install()
                wl.span = tracer.span
            c0, w0 = time.perf_counter(), time.time()
            rows0, turns0 = wl.rows_returned, wl.turns
            try:
                wl.cycle()
            finally:
                if traced:
                    tracer.uninstall()
                    wl.span = None
            cycles["traced" if traced else "untraced"].append(
                time.perf_counter() - c0)
            if traced:
                windows.append((w0, time.time()))
                traced_rows += wl.rows_returned - rows0
                traced_turns += wl.turns - turns0
            block_done = (len(cycles["untraced"])
                          + len(cycles["traced"])) % len(pattern) == 0
            if block_done and time.perf_counter() - t_loop >= args.seconds:
                break
        loop_s = time.perf_counter() - t_loop
        controls += [control_s(spark, cpus) for _ in range(CONTROL_REPS)]

        t = time.perf_counter()
        wl.final_checks()
        wl.run_checks()
        t = wl.phase("checks", t)
        extra = wl.report(loop_s)
        t = wl.phase("report", t)
        if args.trace:
            control.append(bench.control_workload(spark, cpus))
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t

    reads = [v for k in ("latest", "time_range", "aggregate", "downsample",
                         "percentile") for v in wl.samples.get(k, [])]
    control = statistics.fmean(controls)
    read_gmean = math.exp(statistics.fmean(math.log(v) for v in reads))
    metrics = {
        "setup_s": setup_s,
        "cycle_x": statistics.fmean(cycles["untraced"]) / control,
        "read_x.gmean": read_gmean / control,
    }
    report = {"setup_s": {"value": setup_s, "unit": "s", "n": 1}}
    for kind, vals in sorted(wl.samples.items()):
        report[f"{kind}_s"] = {"unit": "s", **summarize(vals)}
    report["read_s"] = {"unit": "s", **summarize(reads), "gmean": read_gmean}
    report["cycle_s"] = {"unit": "s", **summarize(cycles["untraced"])}
    report["control_s"] = {"unit": "s", "n": len(controls), "mean": control,
                           "values": controls}
    for name, (value, unit, n, base) in extra.items():
        report[name] = {"value": value, "unit": unit, "n": n, "base": base}
    attempted = wl.attempted
    failed = wl.failed + wl.wrong
    report["error_rate"] = {"value": failed / max(1, attempted), "unit": "1",
                            "n": attempted,
                            "base": "failed or wrong operations / attempted"}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "generator": {k: v for k, v in params.items()},
        "nproc": cpus, "master": f"local[{cpus}]",
        "shuffle_partitions": shuffle,
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "git_commit": git_commit(), "source_sha256": source_digest(),
        "control_walls_s": control or None,
        "peak_rss_mb": {
            "driver": peak_rss_mb(resource.RUSAGE_SELF),
            "jvm": peak_rss_mb(resource.RUSAGE_CHILDREN)},
        "phases_s": {"session": session_s, **wl.phases, "stop": stop_s},
        "cycle_walls_s": cycles,
        "loop_s": loop_s,
        "errors": wl.errors[:20],
    }

    if args.trace:
        events = tracing.read_event_log(event_dir)
        os.makedirs(os.path.join(ROOT, TRACE_DIR), exist_ok=True)
        tracer.dump(os.path.join(ROOT, TRACE_DIR,
                                 f"{args.workload}-{args.seed}.json"))
        out_metrics = tracing.layer_metrics(
            events, tracer, windows,
            traced_wall_s=statistics.fmean(cycles["traced"]),
            untraced_wall_s=statistics.fmean(cycles["untraced"]),
            rows_returned=traced_rows, turns_written=traced_turns)
        units = tracing.metric_units()
        result_metrics = {k: {"value": v, "unit": units[k]}
                          for k, v in out_metrics.items()}
    else:
        result_metrics = {k: {"value": v, "unit": END_TO_END[k]}
                          for k, v in metrics.items()}

    print(json.dumps({"report": report, "record": record}))
    print(json.dumps({"correct": wl.wrong == 0, "attempted": attempted,
                      "failed": failed, "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
