#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, starts Spark on ``local[<nproc>]``, warms the JIT on a
different seed's inputs, then runs rounds of the workload until
``--seconds`` have passed (at least two rounds), checking every
operation's output outside the timed region. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Everything it writes stays under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WARM_SEED_OFFSET = 1_000_003
SETTLE_S = 1.0


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_dir: str, traced: bool) -> None:
    """Launch settings: all cores, scratch and logs inside the run
    directory, the uncompressed event log only when tracing."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            f"spark.local.dir={tmp}"]
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ.update({
        # no hsperfdata files in the system temp directory, from the
        # launcher or the driver JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": cpus,
        # a 4 GB driver heap in place of the engine's 16 GB default: runs
        # share the host's memory, and on these inputs the cap moved
        # neither wall_s nor cpu_s beyond run-to-run noise
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "spark-warehouse"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(c)}" for c in conf)
        + " pyspark-shell",
    })


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "database_convertor_spark")):
        print("perfbench: run from a checkout holding database_convertor_spark/",
              file=sys.stderr)
        return 2
    from workloads import SIZES, WARM, WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _environment(run_dir, bool(args.trace))
    try:
        rc = _run(args, run_dir, WORKLOADS[args.workload],
                  SIZES[args.workload], WARM[args.workload])
    finally:
        _stop_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    # Every process this run started has exited; skip the interpreter's
    # exit hooks, which would try to reach the stopped JVM.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(rc)


def _run(args, run_dir, wl, size, warm_size) -> int:
    import report
    from harness import Ctx

    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace),
              run_dir, os.path.join(WORK, "cache"))
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("setup"):
        ctx.start_session()
        with tr.span("session.warm"):
            ctx.warming = True
            warm = wl.prepare(ctx, args.seed + WARM_SEED_OFFSET, warm_size, "warm")
            wl.run_round(ctx, warm)
            ctx.spark.catalog.clearCache()
            # nothing the warm-up landed may serve the timed region; its
            # files are young, so deleting them now is cheap
            shutil.rmtree(warm["root"])
            ctx.warming = False
        with tr.span("prepare"):
            st = wl.prepare(ctx, args.seed, size, "round0")
        with tr.span("settle"):
            # let the JIT finish compiling what the warm-up made hot and
            # start the timed region on a collected heap
            ctx.spark.sparkContext._jvm.System.gc()
            time.sleep(SETTLE_S)
    setup_s = time.perf_counter() - t0

    ctx.start_timed()
    with tr.span("timed"):
        while True:
            with ctx.round(len(ctx.rounds)):
                wl.run_round(ctx, st)
            # two rounds at least, so that no single round is the median
            if len(ctx.rounds) >= 2 and not ctx.time_left():
                break
            with ctx.pause("prepare"):
                wl.finish(ctx, st)
                shutil.rmtree(st["root"])  # young files: cheap to delete now
                st = wl.prepare(ctx, args.seed * 1000 + len(ctx.rounds), size,
                                f"round{len(ctx.rounds)}")
    with tr.span("finish"):
        wl.finish(ctx, st)
    if ctx.traced:  # completes the event log; otherwise the JVM is killed
        ctx.spark.stop()
    _close_gateway()

    rec = report.build(ctx, setup_s)
    report.save(rec, os.path.join(WORK, "records"))
    ctx.tracer.dump(os.path.join(WORK, "records", rec["run_id"] + ".spans.jsonl"))
    report.print_table(rec, os.path.join(WORK, "records"))
    metrics = rec["per_layer"] if args.trace else rec["end_to_end"]
    print(json.dumps({
        "correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in metrics.items()}}))
    return 0


def _close_gateway() -> None:
    """Close py4j's connections before the JVM goes, so no late call
    from this process finds it gone."""
    import logging

    from pyspark import SparkContext
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    logging.getLogger("py4j").setLevel(logging.CRITICAL)


def _stop_children() -> None:
    """Kill the JVM and the Python workers under it, and wait until
    every process this run started has exited. Nothing in them is left
    to flush: the run has finished and printed its result."""
    from spans import descendants
    kids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while kids:
        time.sleep(0.05)
        kids = [p for p in kids if _exists(p)]


def _exists(pid: int) -> bool:
    """False once ``pid`` has ended: reaped if it is our child, gone or
    a zombie (ended, waiting for its parent) otherwise."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == 0
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False

if __name__ == "__main__":
    sys.exit(main())
