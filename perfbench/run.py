#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 8 --trace 0

Run from the repository root. Reads the fixture rows committed under
perfbench/data, starts the engine's local Spark session with
``SPARK_GRAFT_CPUS`` = the usable CPU count less one and every other
engine setting at its default, sets up the workload, runs its ops back to
back for ``--seconds`` and at least a minimum of ops, checks the
outputs, and prints one
JSON line last: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of BENCHMARK.json with ``--trace 0``, the
per-layer ones with ``--trace 1``). The line before it records the
host, versions and the run's extra figures.
"""

from __future__ import annotations

import argparse
import functools
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
DATA = os.path.join(HERE, "data")
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import NullTracer, Tracer, rebind  # noqa: E402

ENGINE_CACHES = ("spark-warehouse/ann_index", "spark-warehouse/dedup_store")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def pin_environment(work: str) -> None:
    """Keep every file the run makes inside the checkout and size the
    local Spark master to the CPUs this process may use, less one for
    this client, the Spark driver's own threads (scheduler, compiler,
    collector) and the Python workers' feeders. In four interleaved
    pairs of curation runs, op_p50_s spread 0.89-1.21 s with every CPU
    running tasks and 0.90-0.94 s with one CPU left free."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(stats.nproc() - 1, 1))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def job_floor_ms(spark, n: int = 3) -> float:
    """Median wall of a one-task job (the scheduler's per-job floor)."""
    rdd = spark.sparkContext.parallelize([1], 1)
    rdd.count()
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        rdd.count()
        ts.append(time.perf_counter() - t0)
    return stats.median(ts) * 1000.0


def stop_engine(spark) -> None:
    """Stop the session, then close the Spark JVM's stdin (it exits on
    EOF) and wait until the process has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def trace_loader(tracer) -> None:
    """Wrap the engine's table loader and footer-metadata helpers, and
    rebind them in every engine module that imported them by name."""
    load_mod = importlib.import_module("sparkify_datalake_spark.sources.load")
    engine = [m for n, m in sys.modules.items()
              if n.startswith("sparkify_datalake_spark") and m is not None]
    orig = load_mod.load

    @functools.wraps(orig)
    def load(spark, sf_dir, name):
        before = len(load_mod._RELATION_CACHE.get(spark) or {})
        with tracer.span("load"):
            df = orig(spark, sf_dir, name)
        hit = len(load_mod._RELATION_CACHE.get(spark) or {}) == before
        if getattr(tracer, "cycle", False):  # the counted first pass
            tracer.count("load.calls_cycle")
            tracer.count("load.hits_cycle", hit)
        return df

    rebind(engine, "load", load)
    for attr in ("table_rows", "scan_width", "column_minmax"):
        fn = getattr(load_mod, attr)

        def wrapped(*a, _fn=fn, **kw):
            with tracer.span("load.metadata"):
                return _fn(*a, **kw)

        rebind(engine, attr, functools.wraps(fn)(wrapped))


def provenance(spark, seed: int) -> dict:
    import duckdb
    import pyspark

    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                with open(p) as fh:
                    commit = fh.read().strip()
    try:
        from bench import engine_tree_digest

        digest = engine_tree_digest()
    except ImportError:
        digest = "unknown"
    return {
        "seed": seed,
        "nproc": stats.nproc(),
        "git_commit": commit,
        "engine_tree": digest,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "master": spark.sparkContext.master,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sparkify_datalake_spark")):
        print("perfbench: engine package not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Ctx

    spec = load_spec()
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    for m in spec["end_to_end"] + spec["per_layer"]:
        stats.check_metric_name(m["name"])

    work = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    for d in ENGINE_CACHES:  # build-once caches: every run pays their build
        shutil.rmtree(os.path.join(ROOT, d), ignore_errors=True)

    tracer = Tracer() if args.trace else NullTracer()
    cpu0 = stats.cpu_times()
    runner = spark = None
    try:
        t_setup = time.perf_counter()
        t0 = time.perf_counter()
        from sparkify_datalake_spark.session import get_spark

        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        t_floor = time.perf_counter()
        floor_before = job_floor_ms(spark)
        t_setup += time.perf_counter() - t_floor  # the probe is not set-up
        if tracer.enabled:
            trace_loader(tracer)
        ctx = Ctx(spark, DATA, work, os.path.join(CACHE, "oracle"), args.seed,
                  tracer)
        runner = WORKLOADS[args.workload](ctx)
        runner.setup()
        setup_s = time.perf_counter() - t_setup

        lat: list[float] = []
        t_run = time.perf_counter()
        deadline = t_run + args.seconds
        while not runner.exhausted and (
            time.perf_counter() < deadline or runner.unfinished
        ):
            t = time.perf_counter()
            try:
                runner.step()
            except Exception as exc:  # an op that raises counts as failed
                ctx.fail(f"op raised {type(exc).__name__}: {str(exc)[:300]}")
            lat.append(time.perf_counter() - t)
        wall = time.perf_counter() - t_run

        n_checked = runner.check()
        floor_after = job_floor_ms(spark)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = stats.vm_hwm_mb(jvm_pid) + stats.vm_hwm_mb()
        host = stats.host_usage(cpu0, stats.cpu_times())
        info = provenance(spark, args.seed)
        lake = runner.lake_metrics(wall) if hasattr(runner, "lake_metrics") else {}
        layers = runner.layer_metrics(tracer) if tracer.enabled else {}
    finally:
        if runner is not None and hasattr(runner, "stop"):
            runner.stop()
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(lat) + n_checked
    failed = min(len(ctx.errors), attempted)
    tail_s, tail_q = stats.tail(lat)
    e2e = {"setup_s": setup_s, "op_p50_s": stats.kind_p50(runner.kinds())}
    if tracer.enabled:
        summ = tracer.summary()
        layer = {
            "spark.job_floor_ms": floor_before,
            "spark.job_floor_after_ms": floor_after,
            "session.get_spark_s": get_spark_s,
            "host.steal_ratio": host["steal_ratio"],
            "host.cpu_util": host["cpu_util"],
            "host.peak_rss_mb": rss,
            "trace.op_p50_s": e2e["op_p50_s"],
            "op_tail_s": tail_s,
            "ops_per_s": len(lat) / wall,
            **lake,
            **layers,
        }
        metrics = {}
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": float(layer.get(m["name"], 0.0)),
                                  "unit": m["unit"]}
        tracer.dump(os.path.join(CACHE, f"trace-{args.workload}-{args.seed}.json"))
        extra = {"spans": summ}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        extra = {"lake": lake, "op_tail_s": tail_s, "ops_per_s": len(lat) / wall}
    context = {
        "workload": args.workload,
        **info,
        "ops": len(lat),
        "op_p50_by_kind": {k: stats.median(v) for k, v in runner.kinds().items()},
        "op_tail_percentile": tail_q,
        "op_tail_samples": len(lat),
        "job_floor_ms": [floor_before, floor_after],
        "host": host,
        "peak_rss_mb": rss,
        "errors": ctx.errors[:20],
        **extra,
    }
    print("# " + json.dumps(context, default=str))
    print(json.dumps({
        "correct": not ctx.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
