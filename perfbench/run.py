#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload crawl_tenant --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. set-up: starts a SparkSession on ``local[nproc]``, writes the
   workload's seeded input, and runs one warm-up operation;
2. runs whole operations until ``--seconds`` have passed (at least one),
   checking each operation's outputs;
3. with ``--trace 1``, measures one untraced operation instead, then
   stops the SparkContext, starts one with Spark's event log on (same
   JVM, so still warm) and runs one traced operation with
   ``SnapshotStore`` wrapped.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (output checks) and ``metrics``, which holds the
``end_to_end`` metrics of ``BENCHMARK.json`` untraced and its
``per_layer`` metrics traced. Per-layer metrics a workload does not
exercise read 0.

Everything the run writes (inputs, snapshots, Spark local dirs, the
event log) lives in one temp dir under ``.perfbench_tmp/`` that is
removed at exit; the run waits for the JVM and Python workers to end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# below the host's 15 GB, shared with other tenants
DRIVER_MEM = "2g"


def start_session(tmp: str, cores: int, event_log: str | None = None):
    from sharepointcrawler_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a heap fixed at its maximum keeps the memory figure from
        # following the GC's heap sizing; no perf-data file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the SparkContext and the gateway JVM it runs in."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    # the gateway JVM exits when its stdin closes
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def measure(wl, spark, seconds: float, tl, scratch: str) -> list:
    results, k = [], 0
    deadline = time.monotonic() + seconds
    while not results or time.monotonic() < deadline:
        work = os.path.join(scratch, f"op{k}")
        r = wl.op(spark, tl, work)
        print(f"perfbench: op {k}: {r.items} items in {r.wall_s:.3f} s, step {r.step_s:.3f} s",
              file=sys.stderr)
        results.append(r)
        spark.catalog.clearCache()
        shutil.rmtree(work, ignore_errors=True)
        k += 1
    return results


def run(args, spec: dict, tmp: str, tree) -> dict:
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    print(
        f"perfbench: workload={args.workload} seed={args.seed} cores={cores} "
        f"driver_mem={DRIVER_MEM}",
        file=sys.stderr,
    )
    scratch = os.path.join(tmp, "work")

    t0 = time.monotonic()
    spark = start_session(tmp, cores)
    spark.range(1).count()
    session_s = time.monotonic() - t0
    t1 = time.monotonic()
    wl.generate(spark, args.seed, os.path.join(tmp, "inputs"))
    generate_s = time.monotonic() - t1
    wl.warmup(spark, os.path.join(scratch, "warmup"))
    setup_s = time.monotonic() - t0

    tl = trace.Timeline()
    # a traced run measures one untraced operation, the base of its
    # tracing-overhead figures
    ops = measure(wl, spark, 0 if args.trace else args.seconds, tl, scratch)
    e2e = {
        "setup_s": setup_s,
        "items_per_s": statistics.median(r.items / r.wall_s for r in ops),
        "step_s": statistics.median(r.step_s for r in ops),
        "peak_pss_mb": tree.peak_mb(),
    }
    if args.trace:
        metrics, traced_op = traced(wl, spark, args, tmp, cores, e2e, scratch)
        metrics.update({"session.start_s": session_s, "sources.generate_s": generate_s})
        ops.append(traced_op)
        wanted = spec["per_layer"]
    else:
        metrics = e2e
        wanted = spec["end_to_end"]
    checks = [ok for r in ops for _, ok in r.checks]
    for r in ops:
        for what, ok in r.checks:
            if not ok:
                print(f"perfbench: check failed: {what}", file=sys.stderr)
    # a layer the workload never enters reads 0; a name the spec lacks
    # is a typo
    unknown = set(metrics) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": all(checks),
        "attempted": len(checks),
        "failed": checks.count(False),
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }


def _restart_context(spark, tmp: str, cores: int, event_log: str):
    """Stop the SparkContext and start one with the event log on, in the
    same JVM, so the JIT and the codegen cache stay warm."""
    import gc

    from pyspark.sql.udf import UserDefinedFunction

    spark.stop()
    # module-level UDFs cache their JVM side, which holds the stopped
    # context's Python accumulator; the new context must rebuild it
    for obj in gc.get_objects():
        if isinstance(obj, UserDefinedFunction):
            obj._judf_placeholder = None
    spark = start_session(tmp, cores, event_log=event_log)
    # start the new context's Python workers
    spark.range(0, 64, 1, 8).mapInPandas(lambda it: it, "id long").count()
    return spark


def traced(wl, spark, args, tmp, cores, e2e, scratch):
    """One traced operation in a fresh context with the event log on;
    returns the per-layer metrics and the operation's result."""
    from perfbench import inputs, trace

    log_dir = os.path.join(tmp, "eventlog")
    spark = _restart_context(spark, tmp, cores, log_dir)
    tl = trace.Timeline()
    work = os.path.join(scratch, "traced")
    with trace.snapshot_hooks(tl):
        r = wl.op(spark, tl, work)
    layers = wl.probe(spark, work) if hasattr(wl, "probe") else {}
    spark.stop()  # finishes the event log

    op = tl.named("op")[0]
    log = trace.read_event_log(log_dir)
    oplog = log.window(op.t0, op.t1)
    layers.update(trace.spark_totals(oplog, op.t0, op.t1))
    layers.update(wl.layers(oplog, tl, op))
    sample = [
        inputs.seeded_page_row(i, 2000, inputs.Spelling.from_seed(args.seed), 32, 32, None)
        for i in range(200)
    ]
    layers.update(trace.kernel_timers(
        [(url, html) for url, _, html, _, _ in sample], inputs.url_sample(args.seed, 2000)
    ))
    layers.update({
        "overhead.items_per_s": r.items / r.wall_s - e2e["items_per_s"],
        "overhead.step_s": r.step_s - e2e["step_s"],
    })
    return layers, r


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import sharepointcrawler_spark  # noqa: F401  (fails fast without the package)

    from perfbench import procs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    tmp_parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=tmp_parent)
    # pyspark's launcher and the Python workers use the temp dir too
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # a SIGTERM unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    tree = procs.ProcessTree().start()
    try:
        result = run(args, spec, tmp, tree)
    finally:
        try:
            shutdown_jvm()
        finally:
            tree.stop_sampling()
            left = tree.wait_all_gone(timeout_s=60)
            if left:
                print(f"perfbench: killed lingering processes {left}", file=sys.stderr)
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(tmp_parent)
            except OSError:  # another run still uses it
                pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
