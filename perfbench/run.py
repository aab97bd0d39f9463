"""Benchmark entry point for the weather ingest engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``.perfbench/`` (removed again on exit), sets up a session sized
to the machine five times (the median is ``setup_s``), runs the workload's
closed loop for ``--seconds``, checks every output, and prints two JSON
lines: the full record, then the result line with the metrics that
``BENCHMARK.json`` names (end-to-end ones with ``--trace 0``, per-layer ones
with ``--trace 1``). Exits non-zero without a result line when the engine
is missing or a run cannot complete.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback
import types

import sparkstats
from spans import Tracer, median, tail, totals_by_name
from workloads import WORKLOADS, Env

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Session set-ups per run; ``setup_s`` is their median.
SETUPS = 5


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal not found")


def size_to_box(work: str) -> dict:
    """Point the engine's session factory at this machine (its defaults
    assume 32 cores and a 48 GB heap) and keep every temporary file inside
    ``work``. Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(8192, max(2048, _mem_total_mb() // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # keep the whole run in the status store for the traced totals
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    return {"cpus": cpus, "driver_heap_mb": heap_mb, "confs": confs}


def load_engine() -> types.SimpleNamespace:
    """Import the engine's public modules and the parity helpers from the
    checkout; raises ImportError when they are not there."""
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    from weather_data_ingestion_gcp_spark import jobs, plans, schemas, session
    from weather_data_ingestion_gcp_spark.operators import clean, dedup
    from weather_data_ingestion_gcp_spark.sources import landing
    from weather_data_ingestion_gcp_spark.streaming import pipeline

    import_s = time.perf_counter() - t0
    path = os.path.join(ROOT, "tools", "parity.py")
    if not os.path.exists(path):
        raise ImportError(f"{path} not found")
    spec = importlib.util.spec_from_file_location("perfbench_parity", path)
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    return types.SimpleNamespace(
        plans=plans, session=session, jobs=jobs, schemas=schemas, clean=clean,
        dedup=dedup, landing=landing, pipeline=pipeline, parity=parity,
        import_s=import_s,
    )


def stop_spark(spark) -> None:
    """Stop the session (if one was built) and the JVM, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def warmup(spark) -> None:
    """The session's first jobs: scheduler, codegen and a shuffle."""
    rows = spark.range(0, 1 << 16, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    if sum(r["count"] for r in rows) != 1 << 16:
        raise RuntimeError("warm-up returned a wrong count")


def setup(env, box: dict, tracer) -> dict:
    """Build a session (stopping the previous one) and warm it."""
    if env.spark is not None:
        env.spark.stop()
        env.spark = None
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        env.spark = env.engine.session.get_spark("perfbench", extra_confs=box["confs"])
    env.spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    with tracer.span("session.warmup"):
        warmup(env.spark)
    t2 = time.perf_counter()
    return {"get_spark_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}


#: Span name -> per-layer metric of its self time per operation.
SPAN_METRICS = {
    "plans.build": "plans.build_s",
    "exec.collect": "exec.collect_s",
    "landing.clean": "landing.clean_s",
    "landing.write": "landing.write_s",
    "stream.drain": "stream.pipeline_self_s",
    "jobs.load_and_transform": "jobs.load_and_transform_self_s",
    "jobs.append_hourly": "jobs.append_hourly_s",
    "jobs.refresh_daily": "jobs.refresh_daily_s",
    "jobs.log": "jobs.log_s",
    "jobs.cleanup_hourly": "jobs.cleanup_hourly_s",
    "jobs.read_daily": "jobs.read_daily_s",
}


def layer_metrics(spans_in_window, outcome, setups) -> dict[str, float]:
    ops = max(outcome.ops, 1)
    totals = totals_by_name(spans_in_window)
    pl = {m: totals.get(s, (0.0, 0.0, 0))[1] / ops for s, m in SPAN_METRICS.items()}
    build, exe = pl["plans.build_s"], pl["exec.collect_s"]
    pl["plans.build_share"] = build / (build + exe) if build + exe > 0 else 0.0
    pl["session.get_spark_s"] = median([s["get_spark_s"] for s in setups])
    pl["session.warmup_s"] = median([s["warmup_s"] for s in setups])
    batches = outcome.batch_s
    pl["stream.batch_s_p50"] = median(batches) if batches else 0.0
    pl["stream.batch_s_tail"] = tail(batches)[0] if batches else 0.0
    layers_self = sum(v[1] for v in totals.values())
    pl["trace.wall_s"] = outcome.elapsed
    pl["trace.layers_self_s"] = layers_self
    pl["trace.untraced_s"] = outcome.elapsed - layers_self
    pl["trace.coverage"] = layers_self / outcome.elapsed if outcome.elapsed else 0.0
    pl["fail_ratio"] = outcome.failed / ops
    pl.update(outcome.per_layer)
    return pl


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        spec = load_spec()
        engine = load_engine()
    except (ImportError, OSError, ValueError) as exc:
        print(f"perfbench: cannot load the engine: {exc}", file=sys.stderr)
        return 2

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tracer = Tracer(enabled=bool(args.trace))
    env = Env(engine=engine, work=work, seed=args.seed, seconds=args.seconds, tracer=tracer)
    try:
        box = size_to_box(work)
        wl = WORKLOADS[args.workload]()
        t_prep = time.perf_counter()
        inputs = wl.prepare(env)
        # The workload runs in the first session, right after the JVM
        # launch, as an hourly job does; the other set-ups follow it.
        t_setup = time.perf_counter()
        setups = [setup(env, box, tracer)]
        t_run = time.perf_counter()
        outcome = wl.run(env)
        t_resetup = time.perf_counter()
        setups += [setup(env, box, tracer) for _ in range(SETUPS - 1)]
        # The JIT compiles what the first set-up ran while the first pass
        # runs, so how the work splits between the two varies from run to
        # run; their sum, the cold job's wall time, varies less.
        job_s = setups[0]["setup_s"] + outcome.elapsed
        phases = {
            "prepare_s": t_setup - t_prep, "first_setup_s": t_run - t_setup,
            "run_s": t_resetup - t_run, "job_s": job_s,
            "resetups_s": time.perf_counter() - t_resetup,
        }
        import pyspark

        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": box["cpus"],
            "master": env.spark.sparkContext.master,
            "driver_heap_mb": box["driver_heap_mb"],
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "inputs": inputs, "setups": setups, "import_s": engine.import_s,
            "ops": outcome.ops, "failed": outcome.failed, "errors": outcome.errors,
            "elapsed_s": outcome.elapsed, "phases": phases,
        }
        record.update(outcome.record)
        if not outcome.query_s:
            raise RuntimeError("no operation completed")
        q_tail, q_label = tail(outcome.query_s)
        b_tail, b_label = tail(outcome.batch_s) if outcome.batch_s else (None, None)
        summary = {
            "setup_s": (median([s["setup_s"] for s in setups]), "s"),
            "ops_per_s": (outcome.ops / job_s, "1/s"),
            "query_s_p50": (median(outcome.query_s), "s"),
            "query_s_tail": (q_tail, "s"),
            "batch_s_p50": (median(outcome.batch_s) if outcome.batch_s else None, "s"),
            "batch_s_tail": (b_tail, "s"),
            "fail_ratio": (outcome.failed / outcome.ops, "ratio"),
            "peak_storage_mb": (outcome.peak_storage_mb, "MB"),
        }
        # every end-to-end figure, by name and unit; BENCHMARK.json bounds
        # the ones steady enough to gate on
        record["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in summary.items()}
        record["query_s"] = {"samples": len(outcome.query_s), "tail_at": q_label}
        record["batch_s"] = {"samples": len(outcome.batch_s), "tail_at": b_label}
        record["jvm_peak_rss_mb"] = sparkstats.jvm_peak_rss_mb(env.spark)
        e2e = {k: v for k, (v, _) in summary.items()}
        lo, hi = outcome.window
        window_spans = [s for s in tracer.spans if s.start >= lo and s.end <= hi]
        per_layer = {}
        if args.trace:
            per_layer = layer_metrics(window_spans, outcome, setups)
            per_layer["query_s_p50"] = e2e["query_s_p50"]
            per_layer["trace.ops_per_s"] = e2e["ops_per_s"]
            per_layer["query_s_tail"] = q_tail
            per_layer["store.peak_storage_mb"] = outcome.peak_storage_mb
            per_layer["jvm.peak_rss_mb"] = record["jvm_peak_rss_mb"]
        record["per_layer"] = per_layer
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark(env.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    key = "per_layer" if args.trace else "end_to_end"
    wanted = spec[key]
    source = per_layer if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing and not args.trace:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    # a layer this workload never calls did no work: report 0, and say so
    for name in missing:
        source[name] = 0.0
    record["not_applicable"] = missing
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.ops,
        # failed checks can outnumber operations; the record has them all
        "failed": min(outcome.failed, outcome.ops),
        "metrics": {
            m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
