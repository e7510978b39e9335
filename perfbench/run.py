"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload marts_refresh --seed 1 --seconds 7 --trace 0

Prints the run record as one JSON line, then, as the last line, the
result: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes goes under ``.perfbench/`` at
the checkout root; the traced run also keeps its spans there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import tracing

# Wall-clock time at which this process was created.
PROCESS_T0 = time.time() - tracing.process_age_s()

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("marts_refresh", "batch_replay", "signals_stream")

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s"}

PER_LAYER = (
    "session.start_s", "session.warm_pass_s", "session.driver_rss_mb",
    "session.jvm_heap_used_mb",
    "entry.build_ms", "entry.first_call_ms",
    "catalyst.optimize_ms", "catalyst.plan_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.outside_tasks_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.input_records",
    "exec.result_rows",
    "pyworker.tasks", "pyworker.task_run_ms", "pyworker.bytes_to_python",
    "pyworker.bytes_from_python",
    "sources.write_ms", "sources.files_written", "sources.bytes_written",
    "sources.bytes_per_input_byte", "sources.silver_files",
    "plans.silver_ms", "plans.gate_ms", "plans.gold_perf_ms", "plans.gold_summary_ms",
    "plans.recount_ms",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.get_batch_ms",
    "streaming.latest_offset_ms", "streaming.planning_ms", "streaming.wal_commit_ms",
    "streaming.batches_per_op", "streaming.no_data_batch_ms", "streaming.state_rows",
    "streaming.state_bytes", "streaming.silver_files", "streaming.rescan_ratio",
    "entry.self_ms", "catalyst.self_ms", "exec.self_ms", "sources.self_ms",
    "plans.self_ms", "streaming.self_ms",
    "trace.op_p50_ms", "trace.op_mean_ms",
)


def unit(name: str) -> str:
    if name.endswith(("_ratio", "_per_input_byte")):
        return "ratio"
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return u
    return "bytes" if "bytes" in name else "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(tmp: Path) -> None:
    """Point every scratch path of Spark, its Python workers and this
    process at ``tmp`` (set before pyspark starts the JVM)."""
    for d in ("local", "warehouse", "eventlog"):
        (tmp / d).mkdir(parents=True)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        TZ="UTC",
        TMPDIR=str(tmp),
        # Python workers import the engine package from the checkout.
        PYTHONPATH=str(ROOT) + (os.pathsep + pythonpath if pythonpath else ""),
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_LOCAL_DIRS=str(tmp / "local"),
        SPARK_WAREHOUSE_DIR=str(tmp / "warehouse"),
        SPARK_DRIVER_MEMORY="2g",
        # the IVF/PQ oracles need a frozen index state; none is queried here
        SPARK_GRAFT_ORACLE_SF="sf0.1",
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    os.chdir(tmp)


def start_spark(tmp: Path, traced: bool):
    from stock_market_data_pipeline_v2_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{tmp / 'eventlog'}",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — still running: kill it
            proc.kill()
            proc.wait()


def layer_metrics(run, tracer, jobs, tasks, session: dict):
    """Per-layer values: the mean over the timed ops of each op's value
    (so a layer's self times add up to ``trace.op_mean_ms``), plus the
    once-per-run session numbers. Returns them with the per-op rows."""
    rows = []
    for op in run.ops:
        spans = tracer.op_spans(op["op"])
        row = {k: v for k, v in op.items() if k not in ("op", "desc", "window")}
        row["entry.build_ms"] = tracing.spans_ms(spans, "entry.build")
        row["catalyst.optimize_ms"] = tracing.spans_ms(spans, "catalyst.optimize")
        row["catalyst.plan_ms"] = tracing.spans_ms(spans, "catalyst.plan")
        for layer, ms in tracing.self_ms_by_layer(spans).items():
            row[f"{layer}.self_ms"] = ms
        lo, hi = op["window"]
        if op["desc"] is not None:
            mine = [j for j in jobs if j["desc"] == op["desc"]]
        else:
            mine = [j for j in jobs if lo <= j["submit"] <= hi]
        row.update(tracing.exec_counters(mine, tasks, (lo, hi)))
        rows.append(row)
    out = tracing.mean_by_key(rows)
    first = [tracing.spans_ms(tracer.op_spans(op), "entry.build") for op in run.warm_ops]
    out["entry.first_call_ms"] = statistics.median(first) if first else 0.0
    out["trace.op_p50_ms"] = statistics.median(run.latencies) * 1000.0
    out["trace.op_mean_ms"] = statistics.fmean(run.latencies) * 1000.0
    out.update(session)
    return {name: out.get(name, 0.0) for name in PER_LAYER}, rows


def run_all(args) -> int:
    """Every workload, each in its own fresh process; one summary line
    per workload."""
    worst = 0
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        worst = max(worst, out.returncode)
        if out.returncode != 0:
            print(f"{name}: exit {out.returncode}")
            continue
        result = json.loads(out.stdout.strip().splitlines()[-1])
        metrics = " ".join(
            f"{k}={m['value']:.6g} {m['unit']}" for k, m in result["metrics"].items()
        )
        print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} {metrics}")
    return worst


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no engine sources in {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    # run the clean-up below on a plain kill too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    stamp = tracing.noise_stamp(str(ROOT))
    work = ROOT / ".perfbench"
    tmp = work / f"tmp-{os.getpid()}"
    isolate(tmp)
    try:
        import workloads

        tracer = tracing.Tracer(bool(args.trace))
        spark = start_spark(tmp, tracer.enabled)
        session_ready = time.time()
        try:
            ctx = workloads.Ctx(spark, args.seed, args.seconds, tracer, str(tmp))
            run = workloads.WORKLOADS[args.workload](ctx)
            jvm = spark._jvm.java.lang.Runtime.getRuntime()
            session = {
                "session.start_s": session_ready - PROCESS_T0,
                "session.warm_pass_s": run.warm_pass_s,
                "session.jvm_heap_used_mb": (jvm.totalMemory() - jvm.freeMemory()) / 2**20,
                "session.driver_rss_mb": tracing.rss_mb(os.getpid())
                + tracing.rss_mb(spark.sparkContext._gateway.proc.pid),
            }
            spark_version = spark.version
        finally:
            stop_spark(spark)
        jobs, tasks = tracing.read_event_log(str(tmp / "eventlog")) if tracer.enabled else ([], [])
    finally:
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)

    if not run.latencies:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    op_rows = run.ops
    if tracer.enabled:
        metrics, op_rows = layer_metrics(run, tracer, jobs, tasks, session)
    else:
        metrics = {
            "setup_s": run.warm_end - PROCESS_T0,
            "op_p50_ms": statistics.median(run.latencies) * 1000.0,
            "ops_per_s": len(run.latencies) / run.timed_s,
        }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "latencies_ms": [round(x * 1000.0, 3) for x in run.latencies],
        "problems": run.problems,
        "rounding_ties": run.ties,
        **tracing.close_stamp(stamp, spark_version),
    }
    runs = work / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    out = runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(out, "w") as f:
        json.dump({"record": record, "metrics": metrics, "ops": op_rows,
                   "spans": tracer.spans}, f)
    print(json.dumps({"run_record": record}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": len(run.latencies),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit(k) if args.trace else E2E_UNITS[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
