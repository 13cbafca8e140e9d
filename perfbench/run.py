"""Benchmark command.

    python3 perfbench/run.py --workload crawl_wide_ttl --seed 1 --seconds 5 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed under ``.perfbench_work/``, starts Spark at local[nproc], measures the
workload for at least ``--seconds``, checks every output, and prints the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in BENCHMARK.json as the last line of standard output. The line
before it carries the run's details (nproc, Spark version, seed, the
workload's own figures). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return max(1, min(len(os.sched_getaffinity(0)), os.cpu_count() or 1))


def _start_spark(work: str, nproc: int, trace: bool):
    from nightcrawler_ds_pipeline_spark.session import get_spark

    import spans

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(spans.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
    spark = get_spark(cpus=nproc, extra_conf=conf)
    spark.range(1).count()
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the Python workers, and
    wait until each has exited."""
    from pyspark import SparkContext

    import stats

    procs = stats.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _metrics(result, spec: dict, trace: bool, log_totals: dict | None) -> dict:
    import stats

    lat = result.step_latencies
    if not trace:
        values = {
            "setup_s": result.setup_s,
            "step_geomean_s": stats.geomean(lat) if lat else 0.0,
            "throughput_per_s": stats.ratio_or_zero(result.units, sum(lat)),
        }
        names = spec["end_to_end"]
    else:
        values = dict(result.layers, **{"process.peak_rss_mb": result.peak_rss_mb})
        t = log_totals or {}
        k = result.trace_steps
        values.update(
            {
                "crawl.loop.spark_jobs": t.get("jobs", 0) / k,
                "crawl.loop.spark_stages": t.get("stages", 0) / k,
                "crawl.loop.spark_tasks": t.get("tasks", 0) / k,
            }
            if "crawl.politeness.dequeue_s" in values
            else {}
        )
        for key in ("executor_run_s", "gc_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            values[f"spark.{key}"] = t.get(key, 0)
        names = spec["per_layer"]
    # a layer the workload bypasses did no work: it reads 0
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }


def main(argv=None) -> int:
    args = _args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # the package must be importable here AND in Spark's Python workers,
    # which inherit PYTHONPATH from the JVM this process launches
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import nightcrawler_ds_pipeline_spark  # noqa: F401
        import pyspark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every file Spark, the JVM and the workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_FIXTURES"] = os.path.join(work, "fixtures")

    import spans
    import workloads

    nproc = _nproc()
    t0 = time.perf_counter()
    spark = _start_spark(work, nproc, bool(args.trace))
    ctx = workloads.Ctx(
        spark=spark,
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        session_s=time.perf_counter() - t0,
    )
    try:
        result = workloads.WORKLOADS[args.workload](ctx)
    finally:
        _stop_spark(spark)

    log_totals = None
    if args.trace:
        log_totals = spans.event_log_totals(
            os.path.join(work, "eventlog"), result.trace_windows
        )
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        result.tracer.dump(
            os.path.join(work_root, "traces", f"{args.workload}-{args.seed}.json")
        )
    shutil.rmtree(work, ignore_errors=True)

    metrics = _metrics(result, spec, bool(args.trace), log_totals)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "spark_version": pyspark.__version__,
        "trace": args.trace,
        "steps": len(result.step_latencies),
        "failed_frac": result.failed / result.attempted,
        "peak_rss_mb": result.peak_rss_mb,
        **result.detail,
        **({"event_log": log_totals} if log_totals else {}),
    }
    print(json.dumps({"perfbench": details}, default=str))
    print(
        json.dumps(
            {
                "correct": result.failed == 0 and result.attempted > 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
