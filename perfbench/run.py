"""Log-lake benchmark: one command, three workloads.

    python3 perfbench/run.py --workload search|ingest|analytics \
        --seed N --seconds S --trace 0|1

Runs the workload through the engine's public entry points, checks
every answer, and prints the metrics by name with their units. The last
line of standard output is one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (no wrapper is
installed); with --trace 1 the same run is traced and the metrics are
the per-layer split (see README.md). Exit code 0 means every answer was
right; 1 means a wrong answer or a failed operation; 2 means the
engine's sources are not beside this directory.

Everything the run writes goes under .perfbench-work/ in the checkout
and is removed at exit, except the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench-work"

# name -> unit; search and ingest print all of these with --trace 0.
# Pooled and p90 latencies and peak RSS are printed as notes, not
# metrics: they do not repeat from run to run within the bound
# (README.md).
END_TO_END = {
    "setup_s": "s",
    "query_total_s": "s",
    "queries_per_s": "1/s",
    "ingest_events_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
}
# analytics has no ingest path, so it prints only the query metrics
ANALYTICS_END_TO_END = ("setup_s", "query_total_s", "queries_per_s")


def per_layer_unit(name: str) -> str:
    if name.removeprefix("trace.") in END_TO_END:
        return END_TO_END[name.removeprefix("trace.")]
    if name.endswith("ms") or name.endswith("_ms_per_1k"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if "ratio" in name or name.endswith("per_input_byte") or name.endswith("per_row_returned"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


# the per-layer metrics search and ingest print with --trace 1
LAKE_PER_LAYER = (
    "server.self_ms", "server.api_lock_wait_ms", "server.api_lock_held_ms",
    "engine.register_ms", "engine.query_ms", "engine.view_lock_wait_ms",
    "catalog.prune_ms", "catalog.files_total", "catalog.files_kept", "catalog.kept_ratio",
    "storage.scan_ms", "storage.staging_df_ms", "storage.staging_cache_hit_ratio",
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms", "spark.exec_ms",
    "spark.files_read", "spark.bytes_read", "spark.rows_read_per_row_returned",
    "spark.shuffle_bytes", "spark.peak_memory_bytes",
    "response.serialize_ms", "response.rows", "response.bytes",
    "counts.ms", "counts.fast_path_hit_ratio",
    "ingest.prepare_ms_per_1k", "ingest.events", "ingest.rejected",
    "flush.ms", "flush.to_dataframe_ms", "flush.write_ms", "flush.commit_ms",
    "flush.files_written", "flush.bytes_written",
    "compact.ms", "compact.swap_ms", "compact.files_in", "compact.files_out",
    "compact.bytes_rewritten", "storage.bytes_written_per_input_byte",
    "process.cpu_s", "process.write_bytes", "process.peak_rss_mb",
    "trace.query_total_s", "trace.queries_per_s", "trace.ingest_events_per_s",
    "trace.attributed_ratio", "trace.attributed_ratio_min",
)


def _prepare_environment(work: Path) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    size Spark from the cores this process may use."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.chdir(work)  # spark-warehouse/ and derby.log land here


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _per_layer(workload: str, outcome, tracer, instr) -> dict[str, float]:
    from . import tracing

    instr.wait_for_listener()
    instr.attach_spark_phases()
    inputs = outcome.layer_inputs
    if workload == "analytics":
        m = tracing.spark_phase_metrics(tracer, roots_prefix="query.")
        for name, secs in inputs["per_query_s"].items():
            m[f"queries.{name}_s"] = secs
        return m
    m = tracing.layer_metrics(tracer)
    written = m.pop("storage.bytes_written")
    m["storage.bytes_written_per_input_byte"] = written / inputs["raw_bytes"]
    m["ingest.rejected"] = inputs["rejected"]
    sizes = inputs["response_bytes"]
    m["response.bytes"] = sum(sizes) / len(sizes) if sizes else 0.0
    for name in ("query_total_s", "queries_per_s", "ingest_events_per_s"):
        m[f"trace.{name}"] = outcome.metrics[name]  # against the untraced run
    return {k: m[k] for k in LAKE_PER_LAYER if k in m}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "ingest", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "parseable_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine sources at {ROOT}/parseable_spark", file=sys.stderr)
        return 2
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    _prepare_environment(work)
    sys.path.insert(0, str(ROOT))

    from parseable_spark.session import get_spark

    from .analytics import run_analytics
    from .common import ProcessCounters
    from .lake import run_ingest, run_search

    run = {"search": run_search, "ingest": run_ingest, "analytics": run_analytics}[args.workload]
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    counters = ProcessCounters(spark.sparkContext._gateway.proc.pid)
    tracer = instr = None
    try:
        if args.trace:
            from .tracing import Instrumentation, Tracer

            tracer = Tracer()
            instr = Instrumentation(tracer, spark)
            instr.install(engine=args.workload != "analytics")
        outcome = run(spark, args.seed, args.seconds, str(work), instr, tracer)
        if args.trace:
            metrics = _per_layer(args.workload, outcome, tracer, instr)
            metrics.update(counters.deltas(), **{"process.peak_rss_mb": counters.peak_rss_mb()})
            dump = WORK / f"trace-{args.workload}-{args.seed}.json"
            dump.write_text(json.dumps(tracer.dump()))
            units = {k: per_layer_unit(k) for k in metrics}
        else:
            outcome.flags.append(f"peak RSS {counters.peak_rss_mb():.0f} MB (python + JVM)")
            names = ANALYTICS_END_TO_END if args.workload == "analytics" else END_TO_END
            metrics = {k: outcome.metrics[k] for k in names}
            units = END_TO_END
    except Exception:  # noqa: BLE001 — report the crash, print no result
        traceback.print_exc()
        return 1
    finally:
        if instr is not None:
            instr.uninstall()
        _stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    for note in outcome.flags:
        print(f"# {note}")
    for err in outcome.errors:
        print(f"# wrong: {err}")
    for name, value in metrics.items():
        print(f"{name:40s} {value:14.4f} {units[name]}")
    correct = outcome.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    from perfbench.run import main as _main  # run as a package module

    sys.exit(_main())
