"""Product-path benchmark for the earthquake ELT engine.

    python3 perfbench/run.py --workload daily_delta --seed 1 --seconds 16 --trace 0

Run from the repository root. Builds seeded USGS-shaped inputs, drives the
product path through its public entry points (workloads.py), checks every
operation against an independent model (reference.py) and prints, as the
last line of standard output, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the run records spans
and a Spark event log and reports per-layer metrics (tracing.py). The
metric names and units are read from BENCHMARK.json.

All scratch data lives under `.perfbench/` in the working directory and
is removed at exit; traced runs keep their spans in `.perfbench/traces/`.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the package under test

import tracing  # noqa: E402
import workloads  # noqa: E402
from gcp_data_pipeline_fyp_spark import session  # noqa: E402
from gcp_data_pipeline_fyp_spark.plans import pipeline  # noqa: E402
from gcp_data_pipeline_fyp_spark.sources.states import states_df  # noqa: E402
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse  # noqa: E402

# Pinned session shape: ambient settings (SPARK_GRAFT_CPUS,
# SPARK_GRAFT_SHUFFLE, SPARK_GRAFT_DRIVER_MEM) cannot change the program
# under measurement.
CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"

LAYERS = ["session", "staging", "ods", "geo", "dw", "dw_delta", "warehouse", "measures", "stream"]
STAGES = {
    "stage_staging": "staging", "stage_ods": "ods", "stage_geo": "geo",
    "stage_dw_full": "dw", "stage_dw_delta": "dw_delta",
}


def declared(kind: str) -> dict[str, str]:
    """name -> unit of the `end_to_end` or `per_layer` metrics in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def proc_cpu_s(stat_path: str) -> float:
    """User plus system CPU seconds of all threads of a process, from its
    /proc stat file (the command name may hold spaces and parentheses)."""
    with open(stat_path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def instrument(tracer: tracing.Tracer) -> None:
    """Wrap each layer's public functions (see tracing.Tracer.wrap)."""
    for name, layer in STAGES.items():
        tracer.wrap(pipeline, name, layer)

    def table(args):
        return {"table": args[2]}

    def files_before(args):
        return set(workloads.data_files(args[0].path(args[2])))

    def files_after(s, args, before):
        s.counts["files_written"] = len(set(workloads.data_files(args[0].path(args[2]))) - before)

    def staged_partitions(args):
        root = args[0].path(args[1])
        return sum(1 for e in os.listdir(root) if e.startswith(args[3] + "="))

    def count_partitions(s, _args, n):
        s.counts["partitions"] = n

    for method in ("overwrite", "append"):
        tracer.wrap(Warehouse, method, "warehouse", table, files_before, files_after)
    tracer.wrap(Warehouse, "swap", "warehouse", table)
    tracer.wrap(Warehouse, "swap_partitions", "warehouse", table, staged_partitions, count_partitions)


def per_layer(tracer: tracing.Tracer, ctx: workloads.Ctx, log_dir: str, rss: float) -> dict[str, float]:
    log = tracing.parse_event_log(log_dir)
    unattributed = tracing.attribute(tracer, log)
    if unattributed:
        raise RuntimeError(f"{len(unattributed)} jobs outside every span: {unattributed[:10]}")
    tour = {s.id for s in tracer.spans if "tour" in {a.layer for a in tracer.ancestors(s.id)}}
    workload = {s.id for s in tracer.spans} - tour
    reached = {s.layer for s in tracer.spans if s.id in workload}

    def keep(layer: str) -> set[int]:
        """A layer's figures come from the workload, or from the tour if it never got there."""
        return workload if layer in reached else tour

    def under(layer: str) -> list[tracing.Span]:
        return [s for s in tracer.spans if s.id in keep(layer)
                and layer in {a.layer for a in tracer.ancestors(s.id)}]

    out: dict[str, float] = {}
    for layer in LAYERS:
        out |= tracing.layer_metrics(tracer, log, layer, keep(layer))
    staged = tracing.records_written(tracer, log, keep("staging"), "warehouse", table="T_STG_earthquake")
    fed = sum(s.counts.get("rows", 0) for s in tracer.spans if s.id in keep("staging"))
    rewritten = tracing.records_written(tracer, log, {s.id for s in under("dw_delta")},
                                        "warehouse", table="T_FACT_Events_staging")
    out["session.peak_rss_mb"] = rss
    out["staging.accept_ratio"] = staged / fed
    out["dw_delta.partitions_rewritten"] = sum(s.counts.get("partitions", 0) for s in under("dw_delta"))
    out["dw_delta.rewrite_amp"] = rewritten / ctx.fact_rows_added
    out["measures.files_scanned"] = sum(s.counts.get("files_scanned", 0) for s in under("measures"))
    out["stream.batches"] = ctx.stream_batches
    out["stream.jobs_per_batch"] = out["stream.jobs"] / ctx.stream_batches
    out["stream.table_files"] = ctx.stream_table_files
    return out


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    tracer = tracing.Tracer() if traced else None
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                 "spark.eventLog.dir": "file://" + log_dir}
        instrument(tracer)
    ctx = workloads.Ctx(None, None, work, seed, tracer=tracer)
    wl = workloads.WORKLOADS[workload](ctx)  # inputs are generated before the clock starts
    ctx.n_ops = max(1, round(seconds / wl.nominal_op_s))
    root = tracer.span("bench", workload=workload) if traced else contextlib.nullcontext()
    with root:
        t0 = time.perf_counter()
        with ctx.span("session"):
            ctx.spark = session.get_spark(
                "perfbench", cpus=CORES, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        try:
            ctx.spark.sparkContext.setLogLevel("ERROR")
            ctx.states = states_df(ctx.spark)
            wl.warm_up()
            setup_s = time.perf_counter() - t0
            jvm_stat = f"/proc/{jvm_pid(ctx.spark)}/stat"
            jvm_cpu_s = proc_cpu_s(jvm_stat)
            wl.run()
            jvm_cpu_s = proc_cpu_s(jvm_stat) - jvm_cpu_s
            rss = jvm_peak_rss_mb(ctx.spark)
            if traced:
                workloads.cover_layers(ctx, set(LAYERS) - {s.layer for s in tracer.spans})
        finally:
            stop(ctx.spark)
    if tracer:
        tracer.unpatch()
    if not ctx.op_s:
        raise RuntimeError("no operation completed")
    cpu_per_op_s = (jvm_cpu_s + ctx.op_py_cpu_s) / ctx.attempted
    print(f"{workload} seed={seed} ops={len(ctx.op_s)} op_s={[round(x, 3) for x in ctx.op_s]} "
          f"cpu_per_op_s={cpu_per_op_s:.3f} setup_s={setup_s:.3f} peak_rss_mb={rss:.0f}",
          file=sys.stderr)
    if traced:
        values = per_layer(tracer, ctx, log_dir, rss)
        os.makedirs(os.path.join(".perfbench", "traces"), exist_ok=True)
        tracer.dump(os.path.join(".perfbench", "traces", f"{workload}-{seed}.json"))
        units = declared("per_layer")
    else:
        values = {"setup_s": setup_s, "cpu_per_op_s": cpu_per_op_s}
        units = declared("end_to_end")
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.abspath(os.path.join(".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark's scratch and the JVM's temp files stay inside the run directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
