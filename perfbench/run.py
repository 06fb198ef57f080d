"""Repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload transcripts_full --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
parquet inputs, then sets up (JVM launch and session start, then an untimed
warm-up over the workload's input), then repeats timed passes over the same
input until ``--seconds`` have passed. Every operation's output is checked.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes (their difference is the tracing overhead),
then calls every layer alone on the workload's input and reports the
per-layer metrics; the spans go to ``.perfbench/traces/``.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything the run writes stays under ``.perfbench/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _environment() -> None:
    """Pin every scratch location under the work directory before Python
    workers or the JVM start."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers (applyInPandas in drift) import ``profiler`` too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_session():
    """The benchmark's own session config, passed through ``get_spark``."""
    from profiler.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.files.maxPartitionBytes": "1m",
            # day partitions (to_date(ts)) must be the UTC days the
            # drift checks recompute with numpy
            "spark.sql.session.timeZone": "UTC",
            # keep the JVM's own files (perf data, temp files) in the work
            # directory
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (and
    with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still alive: kill it
            proc.kill()
            proc.wait()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, "profiler", "__init__.py")):
        log(f"perfbench: no profiler package under {ROOT}; run from a full checkout")
        return 2
    _environment()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)

    import inputs
    from spans import SparkCounter, Tracer
    from workloads import WORKLOADS, Context, sweep

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    # inputs: generated and cached outside every timed region
    cache = os.path.join(WORK, "inputs")
    manifest = inputs.prepare(wl.name, args.seed, cache)
    print("manifest " + json.dumps(inputs.summary(manifest)), flush=True)

    tracer = Tracer(enabled=bool(args.trace))
    work = os.path.join(WORK, "work", tracer.run_id)
    os.makedirs(work)
    spark = None
    try:
        # set-up: JVM launch and session start, then an untimed warm-up that
        # pays the first-execution costs (class loading, code generation,
        # JIT) of every plan the passes run
        t0 = time.perf_counter()
        with tracer.span("session.start", "session"):
            spark = start_session()
        start_s = time.perf_counter() - t0
        ctx = Context(spark, Tracer(enabled=False), work)
        inp = wl.load(ctx, manifest)  # check data only, untimed
        with tracer.span("bench.warmup", "bench"):
            warmup_s = _timed(lambda: wl.warm_up(ctx, inp))
        if ctx.failed:
            log("perfbench: warm-up failed:\n" + "\n".join(ctx.errors))
        log(f"perfbench: session start {start_s:.2f}s, warm-up {warmup_s:.2f}s")

        ctx = Context(spark, tracer, work)
        plain = Context(spark, Tracer(enabled=False), work)
        counter = SparkCounter(spark.sparkContext)
        walls, traced_walls, pass_counts = [], [], []
        t_start = time.perf_counter()
        while not walls or time.perf_counter() - t_start < args.seconds:
            walls.append(_timed(lambda: wl.run_pass(plain, inp)))
            log(f"perfbench: pass {len(walls)}: {walls[-1]:.2f}s")
            if args.trace:
                before = counter.mark()
                with tracer.span("bench.pass", "bench"):
                    traced_walls.append(_timed(lambda: wl.run_pass(ctx, inp)))
                pass_counts.append(counter.since(before))
        layer = sweep(ctx, wl, inp, counter) if args.trace else {}
        peak = _peak_rss_mb(spark)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = plain.attempted + ctx.attempted
    failed = plain.failed + ctx.failed
    for err in plain.errors + ctx.errors:
        log("perfbench: " + err)
    wall = statistics.median(walls)
    if args.trace:
        metrics = dict(layer)
        metrics["session.start_s"] = start_s
        # counts of the first traced pass, so they repeat exactly: every
        # transcripts_full pass runs the same jobs, but resume_snapshots'
        # passes are different steps (the first one is a cold run)
        for key in ("jobs", "stages", "tasks"):
            metrics[f"spark.{key}"] = pass_counts[0][key]
        metrics["trace.overhead_s"] = statistics.median(traced_walls) - wall
        metrics["driver.peak_rss_mb"] = peak
        self_s = tracer.self_seconds()
        for mod in ("detect", "profile", "constraints", "run", "checkpoint", "drift"):
            metrics[f"{mod}.self_s"] = self_s.get(mod, 0.0)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(
            os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}-{tracer.run_id}.json")
        )
    else:
        metrics = {
            "setup_s": start_s + warmup_s,
            "wall_s": wall,
            "turns_per_s": wl.turns(inp) / wall,
            "ok_rate": (attempted - failed) / attempted if attempted else 0.0,
        }
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())},
    }
    print(json.dumps(result), flush=True)
    return 0


def unit(name: str) -> str:
    if name == "turns_per_s":
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_rate"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
