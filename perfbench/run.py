"""Benchmark runner: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Generates (or reuses) the seed's inputs, sets the engine up, then runs
the workload's operations once each, in order, one at a time, each to a
collected result or a committed write: exactly one cold pass, the way
these batch jobs run in a fresh process. ``--seconds`` does not add
passes (a second pass of a process is a warm one, a different kind of
figure); a pass shorter than it is noted on stderr. Every operation's
output is checked; an operation that raises, fails its check or
schedules no Spark job counts as failed. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones,
folded from spans recorded here and from Spark's event log). The traced
run also writes its spans and folded counters to
``.bench_work/trace-<workload>-<seed>.json``.

Everything the run writes stays under ``.bench_work/`` in the checkout,
and every process it starts (the JVM and its Python workers) has ended
before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEMORY = "2g"  # session.py's 16g default does not fit beside other tenants

sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from measure import (  # noqa: E402
    RssSampler,
    Tracer,
    cpu_seconds,
    fold_event_log,
    host_steal_seconds,
    process_start_epoch,
    stop_tree,
    union_seconds,
)

# Per-layer metric names, in the order printed. Op metrics follow.
LAYER_METRICS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "sources.warm_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "driver.gap_s": "s",
    "operators.build_s": "s",
    "operators.collect_s": "s",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.worker_wait_s": "s",
    "pyworker.cpu_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "pipeline.build_s": "s",
    "lakehouse.create_s": "s",
    "lakehouse.merge_s": "s",
    "lakehouse.read_s": "s",
    "sinks.write_s": "s",
    "lakehouse.files_rewritten": "count",
    "lakehouse.files_carried": "count",
    "read_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "trace.pass_s": "s",
    "process.peak_rss_mb": "MB",
}
END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s"}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(nproc: int, trace: bool, run_dir: str) -> None:
    """Everything the engine, the JVM and the Python workers read from
    the environment, set before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    args = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
    ]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{run_dir}/eventlog",
        ]
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def _versions(spark) -> dict:
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = process_start_epoch()

    if not os.path.isdir(os.path.join(ROOT, "jobminer_spark")):
        _fail(f"no engine source (jobminer_spark/) under {ROOT}")

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    inputs = os.path.join(WORK, "inputs", f"seed{a.seed}")
    t0 = time.time()
    gen.generate(inputs, a.seed)
    gen_s = time.time() - t0

    nproc = len(os.sched_getaffinity(0))
    _environment(nproc, bool(a.trace), run_dir)
    tracer = Tracer(bool(a.trace))
    # peak memory is a per-layer metric: the untraced run does not sample it
    sampler = RssSampler(os.getpid()) if a.trace else contextlib.nullcontext()
    try:
        with sampler:
            result = _run(a, tracer, inputs, run_dir, nproc, t_start, gen_s)
    finally:
        # spark.stop() leaves the JVM running until this process exits:
        # end it, and every worker it started, before the run returns
        gateway = None
        if "pyspark" in sys.modules:
            from pyspark import SparkContext

            gateway = getattr(SparkContext._gateway, "proc", None)
        stop_tree(os.getpid(), gateway)
        shutil.rmtree(run_dir, ignore_errors=True)
    if a.trace:
        result["metrics"]["process.peak_rss_mb"] = sampler.peak_bytes / 2**20
    # the end-to-end metrics are measured untraced; the traced run states
    # its own pass time as trace.pass_s, for the tracing overhead
    units = _layer_units() if a.trace else END_TO_END
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    k: {"value": result["metrics"].get(k, 0.0), "unit": u} for k, u in units.items()
                },
            }
        )
    )


def _run(a, tracer: Tracer, inputs: str, run_dir: str, nproc: int, t_start: float, gen_s: float) -> dict:
    setup: dict[str, float] = {}
    t = time.time()
    from jobminer_spark import load_all_operators
    from jobminer_spark.session import get_spark
    from jobminer_spark.sources.parquet import load_table

    load_all_operators()
    from workloads import WORKLOADS, Ctx

    setup["registry.load_s"] = time.time() - t
    if a.workload not in WORKLOADS:
        _fail(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[a.workload]
    t = time.time()
    spark = get_spark(f"perfbench-{a.workload}")
    setup["session.start_s"] = time.time() - t
    sc = spark.sparkContext
    try:
        t = time.time()
        for name in wl.tables:
            load_table(spark, inputs, name).count()
        setup["sources.warm_s"] = time.time() - t

        from checks import Oracle

        ctx = Ctx(spark, inputs, os.path.join(run_dir, "tables"), tracer, Oracle(inputs))
        wl.prepare(ctx)
        header = {
            "workload": wl.name,
            "seed": a.seed,
            "sf": 0.01,
            "documents": gen.N_DOCUMENTS,
            "nproc": nproc,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "trace": a.trace,
            "input_gen_s": round(gen_s, 3),
            **_versions(spark),
        }
        print("# " + json.dumps(header), flush=True)

        setup_s = time.time() - t_start - gen_s
        p = {"ops": {}, "cpu": 0.0, "pycpu": 0.0, "steal": 0.0, "read": 0.0, "check": 0.0}
        attempted = failed = 0
        failures: dict[str, str] = {}
        tracker = sc.statusTracker()
        for op in wl.ops():
            sc.setJobGroup(op.name, op.name)
            loose = set(tracker.getJobIdsForGroup(None))
            c0, w0 = cpu_seconds(os.getpid())
            g0 = host_steal_seconds()
            ts = time.time()
            err = None
            try:
                with tracer.span(f"op.{op.name}", op=op.name):
                    res = op.run(ctx)
            except Exception as e:  # noqa: BLE001 - an operation that raises is counted failed
                err = f"{type(e).__name__}: {e}"[:300]
            te = time.time()
            c1, w1 = cpu_seconds(os.getpid())
            g1 = host_steal_seconds()
            n_jobs = len(tracker.getJobIdsForGroup(op.name)) + len(
                set(tracker.getJobIdsForGroup(None)) - loose
            )
            sc.setJobGroup("check", "output checks")
            if err is None and n_jobs == 0:
                err = "scheduled no Spark job (a memoized result was timed)"
            tc = time.time()
            if err is None:
                try:
                    err = op.check(ctx, res)
                except Exception as e:  # noqa: BLE001 - a check that raises fails the op
                    err = f"check raised {type(e).__name__}: {e}"[:300]
            p["check"] += time.time() - tc
            attempted += 1
            if err is not None:
                failed += 1
                failures.setdefault(op.name, err)
            p["ops"][op.name] = {"wall": te - ts, "start": ts, "end": te, "jobs": n_jobs}
            p["cpu"] += c1 - c0
            p["pycpu"] += w1 - w0
            p["steal"] += g1 - g0
            if op.read:
                p["read"] += te - ts
        sc.setJobGroup("check", "output checks")
        tc = time.time()
        p["storage"] = wl.finish(ctx)
        p["check"] += time.time() - tc
        p["wall"] = sum(o["wall"] for o in p["ops"].values())
        print(
            f"# pass: {p['wall']:.2f}s cpu {p['cpu']:.2f}s host steal {p['steal']:.2f}s "
            f"checks {p['check']:.2f}s "
            + " ".join(f"{n}={o['wall']:.2f}/{o['jobs']}" for n, o in p["ops"].items()),
            file=sys.stderr, flush=True,
        )
        if p["wall"] < a.seconds:
            print(f"# the pass took less than --seconds {a.seconds:g}", file=sys.stderr)
        for name, err in failures.items():
            print(f"# FAILED {name}: {err}", file=sys.stderr)
    finally:
        spark.stop()

    metrics = {"setup_s": setup_s, "pass_s": p["wall"], "cpu_s": p["cpu"]}
    if a.trace:
        metrics.update(_layers(p, tracer, run_dir, setup, a, wl))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _layer_units() -> dict[str, str]:
    """Every per-layer metric: the layer metrics, then two per operation
    of every workload (a workload prints 0 for the others' operations)."""
    from workloads import WORKLOADS

    units = dict(LAYER_METRICS)
    for w in WORKLOADS.values():
        for op in w.ops():
            units[f"op.{op.name}.wall_s"] = "s"
            units[f"op.{op.name}.jobs"] = "count"
    return units


def _layers(p: dict, tracer: Tracer, run_dir: str, setup: dict, a, wl) -> dict:
    """Per-layer metrics of the traced run's pass."""
    logs = os.listdir(os.path.join(run_dir, "eventlog"))
    jobs = fold_event_log(os.path.join(run_dir, "eventlog", logs[0]))
    windows = {name: (o["start"], o["end"]) for name, o in p["ops"].items()}
    mine = [
        j for j in jobs.values()
        if j["group"] in windows
        or (j["group"] is None and any(s <= j["start"] <= e for s, e in windows.values()))
    ]
    m: dict[str, float] = {name: 0.0 for name in LAYER_METRICS}
    m.update(setup)
    m["spark.jobs"] = len(mine)
    m["spark.stages"] = sum(j["stages"] for j in mine)
    m["spark.tasks"] = sum(j["tasks"] for j in mine)
    m["spark.exec_run_s"] = sum(j["run_ms"] for j in mine) / 1e3
    m["spark.exec_cpu_s"] = sum(j["cpu_ns"] for j in mine) / 1e9
    m["spark.gc_s"] = sum(j["gc_ms"] for j in mine) / 1e3
    m["spark.worker_wait_s"] = m["spark.exec_run_s"] - m["spark.exec_cpu_s"]
    m["spark.input_mb"] = sum(j["input_b"] for j in mine) / 2**20
    m["spark.shuffle_read_mb"] = sum(j["shuffle_read_b"] for j in mine) / 2**20
    m["spark.shuffle_write_mb"] = sum(j["shuffle_write_b"] for j in mine) / 2**20
    m["spark.spill_mb"] = sum(j["spill_b"] for j in mine) / 2**20
    busy = union_seconds([(j["start"], j["end"]) for j in mine if j["end"] is not None])
    m["driver.gap_s"] = p["wall"] - busy
    m["pyworker.cpu_s"] = p["pycpu"]
    m["read_s"] = p["read"]
    m["trace.pass_s"] = p["wall"]
    m.update(p["storage"])
    for name, secs in tracer.self_times(set(windows)).items():
        if not name.startswith("op."):
            m[name + "_s"] = secs
    for name, o in p["ops"].items():
        m[f"op.{name}.wall_s"] = o["wall"]
        m[f"op.{name}.jobs"] = o["jobs"]
    path = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": a.seed, "spans": tracer.spans,
                   "jobs": jobs, "metrics": m}, f)
    return m


if __name__ == "__main__":
    main()
