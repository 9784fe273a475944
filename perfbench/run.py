"""Benchmark entry point.

    python3 perfbench/run.py --workload stac_search --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads: ``stac_search`` and
``operator_batch`` (see ``perfbench/README.md``). The
inputs are generated from ``--seed`` inside ``.perfbench_work/`` and
removed at exit. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the run's stamps (machine, load, inputs).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import the benchmark as the ``perfbench`` package

WORKLOADS = ("stac_search", "operator_batch")

# A plain median over every unit is left out: unit latencies cluster by
# type (5 ms item GETs next to 500 ms spatial searches; 50 ms to 1.1 s
# operators), the median falls in a gap between clusters and moved by
# 11-19% between seeds where these moved by 10% or less.
END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p90_ms", "ms"),
    ("type_geomean_ms", "ms"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    from perfbench.operators import OPERATORS
    from perfbench.traffic import CLASSES

    out = [
        ("setup.session_s", "s"),
        ("workload.search_spatial_p50_ms", "ms"),
        ("workload.search_attr_p50_ms", "ms"),
        ("workload.page_p50_ms", "ms"),
        ("workload.item_p50_ms", "ms"),
        ("workload.ingest_visible_ms", "ms"),
        ("workload.op_geomean_ms", "ms"),
        ("api.self_ms_p50", "ms"),
        ("operators.build_ms_p50", "ms"),
        ("operators.collect_ms_p50", "ms"),
        ("operators.actions_per_search", "count"),
        ("operators.spatial_refine_ms_p50", "ms"),
        ("operators.spatial_envelope_ms_p50", "ms"),
        ("operators.refine_keep_ratio", "ratio"),
        ("geo.refine_us_per_row", "us"),
        ("stac.serialize_us_per_item", "us"),
        ("sources.point_read_ms_p50", "ms"),
        ("sources.items_df_miss_ms", "ms"),
        ("sources.index_build_ms", "ms"),
        ("sources.write_ms_p50", "ms"),
        ("sources.files_per_collection", "count"),
    ]
    for what in ("jobs", "stages", "tasks"):
        out += [(f"spark.{what}_per_request.{c}", "count") for c in CLASSES]
    for op in OPERATORS:
        out += [(f"plans.{op}.{p}_ms", "ms") for p in ("construct", "plan", "exec")]
        out.append((f"plans.{op}.jobs", "count"))
    out += [(f"trace_overhead.{name}", unit) for name, unit in END_TO_END if name != "setup_s"]
    return out


# ---------------------------------------------------------------------------
# stamps: recorded with every run, never used to discard one
# ---------------------------------------------------------------------------

def host_stamp() -> dict:
    t0 = time.perf_counter()
    sum(i * i for i in range(300_000))  # host speed, comparable across runs
    out = {"loadavg": list(os.getloadavg()), "python_loop_ms": (time.perf_counter() - t0) * 1000.0}
    try:
        with open("/proc/pressure/cpu") as fh:
            out["cpu_pressure"] = fh.read().split("\n")[0]
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        out["steal_s"] = int(cpu[8]) / os.sysconf("SC_CLK_TCK")  # time stolen by the hypervisor
    except (OSError, IndexError, ValueError):
        pass
    return out


def source_stamp() -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "stac_fastapi_duckdb_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"git_commit": commit, "source_digest": h.hexdigest()[:16]}


# ---------------------------------------------------------------------------

def configure(workload: str, work: str) -> int:
    """Process environment for the session and its Python workers."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the Spark Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    if workload == "operator_batch":
        os.environ["SPARK_GRAFT_CACHE_INPUTS"] = "1"
    return cpus


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, work: str, cpus: int) -> tuple[dict, dict]:
    import stac_fastapi_duckdb_spark

    # measure the checkout's own source, never an installed copy
    if not os.path.abspath(stac_fastapi_duckdb_spark.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"stac_fastapi_duckdb_spark imported from outside {ROOT}")

    from perfbench.stats import median

    stamps = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": cpus, "start": host_stamp(), **source_stamp()}
    t0 = time.perf_counter()
    if args.workload == "operator_batch":
        from perfbench.operators import OperatorRun

        wl = OperatorRun(args.seed, work)
    else:
        from perfbench.stac import StacRun

        wl = StacRun(args.seed, work)
        from perfbench.traffic import RequestStream, stream_digest

        probe = RequestStream(args.seed, wl.base)
        stamps["request_digest"] = stream_digest(probe.deck() + probe.deck())
    stamps["input_digest"] = wl.input_digest
    stamps["generate_s"] = time.perf_counter() - t0

    t1 = time.perf_counter()
    from stac_fastapi_duckdb_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t1
    stamps["master"] = spark.sparkContext.master
    stamps["default_parallelism"] = spark.sparkContext.defaultParallelism
    try:
        wl.start(spark)
        reps = wl.setup()
        setup_s = session_s + median(reps)
        stamps["setup_reps_s"] = reps
        t2 = time.perf_counter()
        wl.warm()
        stamps["warm_s"] = time.perf_counter() - t2
        elapsed = wl.measure(args.seconds, "timed")
        e2e = wl.end_to_end("timed", elapsed)
        e2e["setup_s"] = setup_s
        stamps["timed_s"] = elapsed
        stamps["detail"] = {k: v for k, v in e2e.items() if k not in dict(END_TO_END)}
        layer: dict[str, float] = {}
        if args.trace:
            t_elapsed, tracer = wl.traced(args.seconds)
            traced = wl.end_to_end("traced", t_elapsed)
            layer = wl.per_layer(tracer)
            if hasattr(wl, "spatial_probe"):
                layer.update(wl.spatial_probe())
            layer["setup.session_s"] = session_s
            for name, _ in END_TO_END:
                if name == "setup_s":
                    continue
                delta = traced[name] - e2e[name]
                layer[f"trace_overhead.{name}"] = -delta if name == "throughput_per_s" else delta
            for name in ("search_spatial_p50_ms", "search_attr_p50_ms", "page_p50_ms",
                         "item_p50_ms", "op_geomean_ms"):
                if name in e2e:
                    layer[f"workload.{name}"] = e2e[name]
        wl.check()
    finally:
        stop_spark(spark)
    stamps["end"] = host_stamp()
    stamps["total_s"] = time.perf_counter() - T_START
    stamps["failures"] = wl.failures[:20]

    if args.trace:
        names = per_layer_metrics()
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in names}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    result = {"correct": wl.failed == 0 and wl.attempted > 0, "attempted": wl.attempted,
              "failed": wl.failed, "metrics": metrics}
    return stamps, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        cpus = configure(args.workload, work)
        stamps, result = run(args, work, cpus)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    for f in stamps["failures"]:
        print("FAILED:", f, file=sys.stderr)
    print(json.dumps({"stamps": stamps}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
