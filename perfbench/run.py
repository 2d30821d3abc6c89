"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Starts one local Spark session at
``local[nproc]`` with the engine's defaults, then repeats the rest of the
set-up (Python-worker warm-up and seeded input materialization)
``SETUP_REPS`` times: ``setup_s`` is the session start plus the median
repetition. It runs the workload once untimed and checks that output,
and one untimed run of the timed shape, then repeats timed runs until
they add up to ``--seconds`` and there are at least ``MIN_RUNS`` of them,
checking each one untimed after it.
With ``--trace 1`` it adds one traced run and the per-layer measurements.
The last stdout line is the JSON result; the resolved configuration, every
sample and the trace are written under ``perfbench/results/`` and
``perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import ai_textbook_processor_spark  # noqa: E402,F401  fails fast outside a checkout

import procstat  # noqa: E402
import sparkstats  # noqa: E402
from tracer import Tracer  # noqa: E402

SETUP_REPS = 3
# The host's speed changes from second to second: two consecutive runs of
# one invocation can differ by a quarter. The median of at least three
# runs keeps one slow run out of the result.
MIN_RUNS = 3
WARM_DOCS_PER_LANE = 32

END_TO_END = {"setup_s": "s", "run_s": "s", "docs_per_s": "1/s", "cpu_s": "s"}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, nproc: int):
    from ai_textbook_processor_spark.session import get_spark

    # Only placement settings, so that every file Spark writes stays in the
    # checkout. SPARK_LOCAL_DIRS would override spark.local.dir, so it is
    # set instead. -XX:-UsePerfData stops each JVM writing /tmp/hsperfdata_*.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def warm_workers(spark, nproc: int) -> None:
    """Start and import every Python worker (two passes, as bench.py does,
    so each task slot's worker is warm)."""
    from ai_textbook_processor_spark.corpus import corpus_df
    from ai_textbook_processor_spark.plans.pipeline import extract_documents
    from workloads import noop

    for _ in range(2):
        noop(extract_documents(
            corpus_df(spark, WARM_DOCS_PER_LANE * nproc, seed=1, num_partitions=nproc)
        ))


def fused_procs(spark) -> int:
    """The process count the engine gives the fused stage in this session:
    build (not run) a fused plan and record what ``plans.pipeline`` passes
    to the batch-function factory."""
    from ai_textbook_processor_spark.corpus import corpus_df
    from ai_textbook_processor_spark.operators import extract as E
    from ai_textbook_processor_spark.plans.pipeline import extract_documents

    seen = []
    factory = E.make_generate_extract_score_batch_fn

    def recording(*args, **kwargs):
        seen.append(kwargs.get("procs", 1))
        return factory(*args, **kwargs)

    E.make_generate_extract_score_batch_fn = recording
    try:
        extract_documents(corpus_df(spark, 1, seed=1))
    finally:
        E.make_generate_extract_score_batch_fn = factory
    if not seen:
        raise RuntimeError("extract_documents built no fused stage for corpus_df input")
    return seen[0]


def resolved_config(spark, args, nproc: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    conf = spark.conf
    task_cpus = int(conf.get("spark.task.cpus", "1"))
    procs = fused_procs(spark)
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "master": spark.sparkContext.master,
        "task_cpus": task_cpus, "lanes": nproc // task_cpus,
        "arrow_batch": int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "fused_procs": procs, "fused_helpers": procs - 1,
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
        "versions": {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "pandas": pandas.__version__, "python": sys.version.split()[0]},
    }


def stop_all(spark) -> None:
    """Stop Spark, close the JVM and wait until no descendant is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(procstat.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree_pids()[1:]:  # [0] is this process
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(HERE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    nproc = _nproc()
    wl = WORKLOADS[args.workload](args.seed, work, nproc)

    spark = None
    try:
        t0 = time.monotonic()
        spark = start_session(work, nproc)
        session_s = time.monotonic() - t0
        result, record = measure(wl, args, spark, session_s, nproc)
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, m in result["metrics"].items():
        print(f"metric {name} {m['value']!r} {m['unit']}")
    print("config " + json.dumps(record["config"], sort_keys=True))
    print(json.dumps(result))
    return 0


def measure(wl, args, spark, session_s: float, nproc: int):
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.monotonic()
        if wl.python_workers:
            warm_workers(spark, nproc)
        wl.materialize(spark, rep)
        reps.append(time.monotonic() - t0)
    sc = spark.sparkContext
    config = resolved_config(spark, args, nproc)

    sc.setJobGroup("perfbench-prepare", "untimed warm run + check")
    t0 = time.monotonic()
    attempted, problems = wl.prepare(spark)
    prepare_s = time.monotonic() - t0
    failed = min(attempted, len(problems))

    # The prepare run's plan differs from a timed run's (it collects what it
    # checks). The first run of the timed shape still pays for JIT warm-up,
    # 10 to 30% of its time and CPU, by an amount that varies from
    # invocation to invocation; so that run is untimed too.
    sc.setJobGroup("perfbench-warm", "untimed warm run + check")
    t0 = time.monotonic()
    res = wl.op(spark)
    got = wl.check(spark, res)
    warm_s = time.monotonic() - t0
    attempted += res.get("attempted", 1)
    failed += min(res.get("attempted", 1), len(got))
    problems += [f"warm run: {p}" for p in got]

    ops = []
    start = time.monotonic()
    timed_s = 0.0  # the window counts timed runs only, not their checks
    while True:
        group = f"perfbench-run-{len(ops)}"
        sc.setJobGroup(group, "timed run")
        # start every run from a collected JVM heap, so its time does not
        # depend on what ran before it
        sc._jvm.System.gc()
        cpu0 = procstat.tree_cpu_s()
        t0 = time.monotonic()
        try:
            res = wl.op(spark)
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
            problems.append(f"run {len(ops)} raised")
            ops.append(None)
            timed_s += time.monotonic() - t0
        else:
            cpu = procstat.tree_cpu_s() - cpu0
            timed_s += time.monotonic() - t0
            sc.setJobGroup(f"{group}-check", "untimed check")
            got = wl.check(spark, res)
            n = res.get("attempted", 1)
            attempted += n
            failed += min(n, len(got))
            problems += got
            stats = sparkstats.group_stats(sc, group)
            ops.append({"res": res, "cpu_s": cpu, "spark": stats})
        if timed_s >= args.seconds and len(ops) >= MIN_RUNS and any(ops):
            break
        if len(ops) >= 3 and not any(ops):  # every run fails: stop early
            break

    good = [o for o in ops if o]
    if not good:
        raise RuntimeError(f"no run of {wl.name} succeeded: {problems}")
    med = statistics.median
    run_s = med(o["res"]["run_s"] for o in good)
    values = {
        "setup_s": session_s + med(reps),
        "run_s": run_s,
        "docs_per_s": wl.docs_per_op / run_s,
        "cpu_s": med(o["cpu_s"] for o in good),
    }
    metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}
    record = {
        "config": config, "session_s": session_s, "setup_reps_s": reps,
        "prepare_s": prepare_s, "warm_s": warm_s,
        "window_s": time.monotonic() - start, "timed_s": timed_s, "problems": problems,
        "runs": ops,
        "attempted": attempted, "failed": failed,
    }
    if args.trace:
        metrics, traced = traced_metrics(wl, spark, args, config, good, run_s, record)
        attempted += traced.get("attempted", 0)
        problems += traced.get("problems", [])
        failed += min(traced.get("attempted", 0), len(traced.get("problems", [])))
        record.update(attempted=attempted, failed=failed)
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }
    record["result"] = result
    return result, record


def traced_metrics(wl, spark, args, config, good, run_s, record) -> dict:
    import layers
    from per_layer import PER_LAYER, spark_layer
    from workloads import CFG

    sc = spark.sparkContext
    group = "perfbench-traced"
    sc.setJobGroup(group, "traced run")
    tracer = Tracer(run_id=f"{wl.name}-seed{args.seed}-traced")
    try:
        with procstat.PeakRss() as rss:
            traced = wl.traced(spark, tracer, group)
    finally:
        tracer.restore()
    values = {name: 0.0 for name in PER_LAYER}
    values.update(layers.measure(
        CFG, args.seed, config["arrow_batch"], config["fused_procs"], wl.big_docs()
    ))
    values.update(spark_layer(good, config["lanes"]))
    values["peak_rss_mb"] = rss.peak / 2**20
    values.update({k: v for k, v in traced.items() if k in PER_LAYER})
    if wl.name == "extract_fused":
        floor_s = wl.docs_per_op * values["extract.fused_batch_us_per_doc"] / 1e6 / config["lanes"]
        values["spark.python_floor_frac"] = floor_s / run_s
        print(f"note python floor explains {floor_s / run_s:.1%} of run_s "
              f"({floor_s:.3f} of {run_s:.3f} s); the Spark-side gap "
              f"(boundary, ingest, scheduling) is {1 - floor_s / run_s:.1%}")
    values["trace.overhead_s"] = traced["run_s"] - run_s

    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    tracer.dump(
        os.path.join(HERE, "traces", f"{wl.name}-seed{args.seed}.json"),
        {"traced_run_s": traced["run_s"], "untraced_median_run_s": run_s,
         "overhead_s": values["trace.overhead_s"]},
    )
    for name, own in sorted(tracer.self_times().items()):
        print(f"self {name} {own:.4f} s")
    record["per_layer"] = values
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}, traced


if __name__ == "__main__":
    sys.exit(main())
