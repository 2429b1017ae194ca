"""CDC lake benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload cdc_upsert_stream --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout of the repository; everything the run
writes goes under ``.perfbench/`` there. The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics from a traced run. The line before
it records the host, the inputs and a summary under per-workload
metric names. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("cdc_upsert_stream", "lake_reads")
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    engine importable by the driver and by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"  # the engine pins its session to UTC too
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included: temp files in
    # ``work`` and no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def start_spark(work: str, nproc: int, trace: bool):
    from etl_spark.session import get_spark
    from spans import trace_conf

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir)
        conf.update(trace_conf(event_dir))
    return get_spark("perfbench", parallelism=nproc, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (the
    gateway exits when its stdin closes; Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(out, setup_s: float, peak_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (out.rate(), "1/s"),
        "step_s_p50": (out.p50(), "s"),
        "stored_bytes_per_live_row": (out.stored_bytes_per_live_row, "B"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_layer(out, tracer, jobs, event_dir: str) -> dict:
    from spans import Attribution, layer_metrics, python_metrics_by_stage

    att = Attribution(tracer.spans, jobs)
    m = layer_metrics(
        att,
        python_metrics_by_stage(event_dir),
        micro_batches=out.micro_batches,
        read_rows=out.read_rows,
        files_live=out.files_live,
    )
    # the traced run's own end-to-end figures: set against the untraced
    # runs' they give the tracing overhead
    m["trace.throughput_per_s"] = out.rate()
    m["trace.step_s_p50"] = out.p50()
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_spark", "__init__.py")):
        print(
            f"perfbench: no etl_spark package under {ROOT}; run from a checkout",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_env(run_dir)

    from host import PeakRss, host_record
    from spans import PER_LAYER, Tracer, harvest_jobs
    from workloads import WORKLOADS, Ctx

    host = host_record(ROOT)
    tracer = Tracer() if args.trace else None
    jobs: list[dict] = []
    try:
        with PeakRss() as rss:
            spark = start_spark(run_dir, host["nproc"], bool(args.trace))
            try:
                ctx = Ctx(spark, run_dir, args.seed, args.seconds, tracer, T_PROCESS)
                ctx.note("session up")
                out = WORKLOADS[args.workload](ctx)
                rss.sample()
                if tracer is not None:
                    jobs = harvest_jobs(spark, out.wall_start, out.wall_end)
            finally:
                stop_spark(spark)
        ctx.note("spark stopped")
        setup_s = out.timed_start - T_PROCESS
        if tracer is None:
            metrics = end_to_end(out, setup_s, rss.peak_mb())
        else:
            values = per_layer(out, tracer, jobs, os.path.join(run_dir, "eventlog"))
            metrics = {name: (values[name], unit) for name, unit, _ in PER_LAYER}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    summary = dict(out.summary)
    summary.update(
        {
            "stored_bytes_per_live_row": (out.stored_bytes_per_live_row, "B"),
            "peak_rss_mb": (rss.peak_mb(), "MB"),
            "ops_failed_ratio": (out.failed / max(out.attempted, 1), "ratio"),
            "setup_s": (setup_s, "s"),
        }
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "inputs": out.inputs,
        "summary": _with_units(summary),
        "checks": out.checks,
        "steps_s": out.steps_s,
        "peak_rss_mb_by_process": rss.by_process(),
        "spans": tracer.spans if tracer is not None else None,
    }
    artifacts = os.path.join(work, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(artifacts, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    brief = {k: record[k] for k in ("workload", "seed", "trace", "host", "inputs", "summary")}
    print("perfbench " + json.dumps(brief, default=str))
    result = {
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": max(out.attempted, 1),
        "failed": out.failed,
        "metrics": _with_units(metrics),
    }
    print(json.dumps(result), flush=True)
    return 0


def _with_units(d: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in d.items()}


if __name__ == "__main__":
    sys.exit(main())
