"""The benchmark workloads: each is a closed loop with one client (the
next operation starts only after the previous one returns) over inputs
generated from the seed. Inputs and their DuckDB reference answers are
made before an operation's timed region; answers are checked after it.

Sizes are fixed here; README.md says why each workload exists.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

import check
import gen
import tracing

# marts_refresh: the analyst path. A fresh snapshot per pass, so no
# per-session memo can hand back an already-built plan. After one warm
# pass the next pass still runs up to ~40% slower than later ones. A
# second warm pass removes that but costs ~10 s of set-up per run, which
# the run budget lacks on a busy host; every run times the same second
# pass instead.
MARTS_MIX = (
    "daily_bars",
    "daily_returns",
    "rolling_indicators",
    "stock_performance",
    "daily_summary",
    "realtime_signals",
    "macd",
    "tick_gap_report",
)
MARTS_SYMBOLS, MARTS_DAYS, MARTS_TICKS_PER_DAY = 8, 30, 200

# batch_replay: one trading day per operation into one growing lake.
# The warm pass lands three days: the first creates the silver zone, the
# others take the merge path every later day takes. After two, the next
# day still ran 10-20% slower than the days after it.
BATCH_SYMBOLS, BATCH_TICKS_PER_DAY, BATCH_WARM_DAYS = 20, 500, 3

# signals_stream: one 15-minute slice file per operation. Windows first
# close on the third file, so the warm pass runs two gold recomputes.
STREAM_SYMBOLS, STREAM_TICKS_PER_SLICE, STREAM_WARM_FILES = 8, 20, 4
WATERMARK = pd.Timedelta(minutes=15)  # start_signals_stream's delay
HOUR = pd.Timedelta(hours=1)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tracer: tracing.Tracer
    tmp: str


@dataclass
class Run:
    """What a workload hands back: latencies of the timed operations,
    verdicts, and per-op layer values for the traced run."""

    latencies: list[float] = field(default_factory=list)
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    ties: list[str] = field(default_factory=list)  # accepted rounding ties
    warm_end: float = 0.0  # time.time() when the warm pass finished
    warm_pass_s: float = 0.0
    # one dict per timed op: "op", "desc", "window" (epoch ms) + layer values
    ops: list[dict] = field(default_factory=list)
    warm_ops: list[str] = field(default_factory=list)

    @property
    def timed_s(self) -> float:
        return sum(self.latencies)

    def record(
        self, op: str, latency: float, problem: str | None, ties: list[str] = ()
    ) -> None:
        self.latencies.append(latency)
        self.ties.extend(f"{op}: {t}" for t in ties)
        if problem is not None:
            self.failed += 1
            self.problems.append(f"{op}: {problem}")


def _begin_op(ctx: Ctx, op: str) -> None:
    ctx.tracer.op = op
    ctx.spark.sparkContext.setJobDescription(op)


def _error(exc: BaseException) -> str:
    traceback.print_exc()
    return f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"


# --- marts_refresh ---------------------------------------------------


def _marts_snapshot(ctx: Ctx, index: int) -> str:
    table = gen.marts_snapshot(
        ctx.seed, index, MARTS_SYMBOLS, MARTS_DAYS, MARTS_TICKS_PER_DAY
    )
    return gen.write_events(table, os.path.join(ctx.tmp, f"marts{index}"))


def _marts_pass(ctx, run, queries, index, sf_dir, expected) -> float:
    """One pass of the mix in seeded order; returns its timed seconds."""
    order = gen.rng_for(ctx.seed, 4, index).permutation(len(MARTS_MIX))
    tr, pass_s, results = ctx.tracer, 0.0, []
    for i in order:
        name = MARTS_MIX[i]
        op = f"marts:{index}:{name}"
        _begin_op(ctx, op)
        df = rows = error = None
        w0, t0 = time.time(), time.perf_counter()
        try:
            with tr.span("op"):
                with tr.span("entry.build"):
                    df = queries[name](ctx.spark, sf_dir)
                if tr.enabled:
                    qe = df._jdf.queryExecution()
                    with tr.span("catalyst.optimize"):
                        qe.optimizedPlan()
                    with tr.span("catalyst.plan"):
                        qe.executedPlan()
                with tr.span("exec.execute"):
                    rows = df.collect()
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            error = _error(exc)
        latency = time.perf_counter() - t0
        pass_s += latency
        if expected is None:
            run.warm_ops.append(op)
            continue
        results.append((op, name, df, rows, error, latency, w0))
    for op, name, df, rows, error, latency, w0 in results:
        ties = []
        if error is None:
            error, ties = check.compare(check.rows_frame(df.columns, rows), expected[name])
        run.record(op, latency, error, ties)
        run.ops.append(
            {
                "op": op,
                "desc": op,
                "window": _span_window(ctx.tracer, op, "exec.execute", w0, latency),
                "exec.result_rows": len(rows or []),
            }
        )
    return pass_s


def _span_window(tr, op, name, w0, latency) -> tuple[float, float]:
    for s in tr.op_spans(op):
        if s["name"] == name:
            return s["start"] * 1000.0, s["end"] * 1000.0
    return w0 * 1000.0, (w0 + latency) * 1000.0


def marts_refresh(ctx: Ctx) -> Run:
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    run = Run()
    t0 = time.perf_counter()
    _marts_pass(ctx, run, queries, 0, _marts_snapshot(ctx, 0), None)
    run.warm_pass_s, run.warm_end = time.perf_counter() - t0, time.time()
    index = 1
    while True:
        sf_dir = _marts_snapshot(ctx, index)
        con = check.connect({"events": [f"{sf_dir}/events.parquet"]})
        expected = {name: con.execute(oracles[name]).df() for name in MARTS_MIX}
        con.close()
        failed_before = run.failed
        pass_s = _marts_pass(ctx, run, queries, index, sf_dir, expected)
        # whole passes only, so every run times the same mix; a pass in
        # which every op failed would only repeat itself
        if run.timed_s + pass_s > ctx.seconds or run.failed - failed_before == len(MARTS_MIX):
            return run
        index += 1


# --- batch_replay ----------------------------------------------------


def _parquet_files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def _read_zone(path: str):
    con = check.connect({})
    df = con.execute(
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    ).df()
    con.close()
    return df


def _gold_problem(lake: str, expected: dict) -> tuple[str | None, list[str]]:
    """First difference between the lake's gold zones and the reference,
    and the rounding ties accepted on the way."""
    ties = []
    for zone, want in expected.items():
        problem, zone_ties = check.compare(_read_zone(f"{lake}/gold/{zone}"), want)
        ties += [f"{zone}: {t}" for t in zone_ties]
        if problem is not None:
            return f"{zone}: {problem}", ties
    return None, ties


def batch_replay(ctx: Ctx) -> Run:
    import __spark_entry__ as entry
    from stock_market_data_pipeline_v2_spark.plans import pipeline

    oracles = entry.oracle_sql()
    days = gen.batch_days(ctx.seed, BATCH_SYMBOLS, BATCH_TICKS_PER_DAY)
    lake = os.path.join(ctx.tmp, "lake")
    run, files = Run(), []
    tr = ctx.tracer
    plan_spans = {
        "write_parquet": "sources.write_parquet",
        "write_clustered": "sources.write_clustered",
        "validate": "plans.validate",
        "stock_performance": "plans.stock_performance",
        "daily_summary": "plans.daily_summary",
    }

    def land_day(k: int) -> str:
        sf_dir = gen.write_events(next(days), os.path.join(ctx.tmp, f"day{k}"))
        files.append(f"{sf_dir}/events.parquet")
        return sf_dir

    def one_day(op: str, sf_dir: str):
        _begin_op(ctx, op)
        with tr.span("plans.run_batch_pipeline"):
            return pipeline.run_batch_pipeline(ctx.spark, sf_dir, lake, incremental=True)

    with tr.wrapped(pipeline, plan_spans):
        t0 = time.perf_counter()
        for k in range(BATCH_WARM_DAYS):
            one_day(f"batch:{k}", land_day(k))
            run.warm_ops.append(f"batch:{k}")
        run.warm_pass_s, run.warm_end = time.perf_counter() - t0, time.time()
        while run.timed_s < ctx.seconds:
            k += 1
            op = f"batch:{k}"
            sf_dir = land_day(k)
            con = check.connect({"events": files})
            expected = {
                zone: con.execute(oracles[zone]).df()
                for zone in ("stock_performance", "daily_summary")
            }
            con.close()
            before = _parquet_files(lake) if tr.enabled else {}
            result, error = None, None
            w0, t0 = time.time(), time.perf_counter()
            try:
                result = one_day(op, sf_dir)
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                error = _error(exc)
            latency = time.perf_counter() - t0
            ties = []
            if error is None:
                error, ties = _gold_problem(lake, expected)
            run.record(op, latency, error, ties)
            if result is None:  # the lake is in an unknown state
                break
            row = {"op": op, "desc": op, "window": (w0 * 1000.0, (w0 + latency) * 1000.0)}
            if tr.enabled:
                row.update(_batch_layers(tr.op_spans(op), before, lake, files[-1]))
                if result is not None:
                    row["exec.result_rows"] = (
                        result.silver_rows + result.performance_rows + result.summary_rows
                    )
            run.ops.append(row)
    return run


def _batch_layers(spans, before, lake, input_file) -> dict[str, float]:
    """Stage split of one pipeline day from its spans: silver runs up to
    the gate, gold_perf up to the first clustered write's end,
    gold_summary up to the second's, recount to the end."""
    root = next(s for s in spans if s["name"] == "plans.run_batch_pipeline")
    gate = next(s for s in spans if s["name"] == "plans.validate")
    writes = sorted(
        (s for s in spans if s["name"] == "sources.write_clustered"),
        key=lambda s: s["start"],
    )
    after = _parquet_files(lake)
    written = [p for p, meta in after.items() if before.get(p) != meta]
    bytes_written = sum(after[p][1] for p in written)
    write_ms = tracing.spans_ms(spans, "sources.write_parquet") + tracing.spans_ms(
        spans, "sources.write_clustered"
    )
    return {
        "plans.silver_ms": (gate["start"] - root["start"]) * 1000.0,
        "plans.gate_ms": tracing.duration_ms(gate),
        "plans.gold_perf_ms": (writes[0]["end"] - gate["end"]) * 1000.0,
        "plans.gold_summary_ms": (writes[1]["end"] - writes[0]["end"]) * 1000.0,
        "plans.recount_ms": (root["end"] - writes[1]["end"]) * 1000.0,
        "sources.write_ms": write_ms,
        "sources.files_written": len(written),
        "sources.bytes_written": bytes_written,
        "sources.bytes_per_input_byte": bytes_written / os.path.getsize(input_file),
        "sources.silver_files": sum(1 for p in after if "/silver/" in p),
    }


# --- signals_stream --------------------------------------------------


def _parquet_rows(root: str) -> int:
    return sum(pq.read_metadata(p).num_rows for p in _parquet_files(root))


def _finalized(expected, watermark):
    """Reference rows the stream must have emitted by ``watermark``:
    windows that have closed, and, for the value check, only windows
    whose whole hour has closed (the stream's 1-hour MA sees finalized
    15-minute windows only)."""
    closed = expected[expected["window_end_at"] <= watermark]
    hour_end = closed["window_start_at"].dt.floor("h") + HOUR
    return closed, closed[hour_end <= watermark]


def _stream_problem(gold, expected, watermark) -> tuple[str | None, list[str]]:
    closed, full_hours = _finalized(expected, watermark)
    got_keys = sorted(zip(gold["symbol"], gold["window_start_at"]))
    want_keys = sorted(zip(closed["symbol"], closed["window_start_at"]))
    if got_keys != want_keys:
        return (
            f"gold windows {len(got_keys)} != finalized reference windows {len(want_keys)}",
            [],
        )
    hour_end = gold["window_start_at"].dt.floor("h") + HOUR
    return check.compare(gold[hour_end <= watermark], full_hours)


def signals_stream(ctx: Ctx) -> Run:
    import __spark_entry__ as entry
    from stock_market_data_pipeline_v2_spark.streaming.jobs import start_signals_stream

    oracle = entry.oracle_sql()["realtime_signals"]
    base = os.path.join(ctx.tmp, "stream")
    drop, stage, twin = (os.path.join(base, d) for d in ("drop", "stage", "twin"))
    silver, gold = os.path.join(base, "silver"), os.path.join(base, "gold")
    for d in (drop, stage, twin):
        os.makedirs(d)
    slices = gen.tick_slices(ctx.seed, STREAM_SYMBOLS, STREAM_TICKS_PER_SLICE)
    tr, run, twins = ctx.tracer, Run(), []
    listener = None
    if tr.enabled:
        listener = tracing.progress_listener()
        ctx.spark.streams.addListener(listener)
    query = start_signals_stream(
        ctx.spark, drop, silver, gold, os.path.join(base, "checkpoint")
    )
    max_ts = None
    try:
        k = 0
        t_warm = time.perf_counter()
        while k < STREAM_WARM_FILES or run.timed_s < ctx.seconds:
            table = next(slices)
            name = f"slice{k:05d}"
            pq.write_table(table, f"{twin}/{name}.parquet")
            twins.append(f"{twin}/{name}.parquet")
            gen.write_tick_file(table, f"{stage}/{name}.json")
            ts_max = table.column("ts").to_pandas().max()
            max_ts = ts_max if max_ts is None else max(max_ts, ts_max)
            warm = k < STREAM_WARM_FILES
            op = f"stream:{k}"
            expected = None
            if not warm:
                con = check.connect({"events": twins})
                expected = con.execute(oracle).df()
                con.close()
            silver_before = _parquet_rows(silver) if tr.enabled and not warm else 0
            error = None
            _begin_op(ctx, op)
            w0, t0 = time.time(), time.perf_counter()
            try:
                with tr.span("streaming.op"):
                    os.rename(f"{stage}/{name}.json", f"{drop}/{name}.json")
                    query.processAllAvailable()
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                error = _error(exc)
            latency = time.perf_counter() - t0
            k += 1
            if warm:
                run.warm_ops.append(op)
                if k == STREAM_WARM_FILES:
                    run.warm_pass_s = time.perf_counter() - t_warm
                    run.warm_end = time.time()
                continue
            if error is not None:  # the query has stopped
                run.record(op, latency, error)
                break
            gold_df = _read_zone(gold)
            error, ties = _stream_problem(gold_df, expected, max_ts - WATERMARK)
            run.record(op, latency, error, ties)
            row = {
                "op": op,
                "desc": None,
                "window": (w0 * 1000.0, (w0 + latency) * 1000.0),
                "exec.result_rows": len(gold_df),
            }
            if tr.enabled:
                silver_after = _parquet_rows(silver)
                landed = max(silver_after - silver_before, 1)
                row["streaming.silver_files"] = len(_parquet_files(silver))
                row["streaming.rescan_ratio"] = silver_after / landed
            run.ops.append(row)
    finally:
        last = query.lastProgress
        query.stop()
    if listener is not None:
        _drain(listener, last["batchId"] if last else -1)
        for row in run.ops:
            lo, hi = row["window"]
            mine = [
                e for e in listener.events
                if lo <= tracing.progress_epoch(e) * 1000.0 <= hi
            ]
            row.update(tracing.stream_counters(mine))
    return run


def _drain(listener, last_batch: int, timeout: float = 10.0) -> None:
    """Progress events arrive on Spark's listener bus asynchronously;
    wait for the last batch's event."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if any(e["batchId"] >= last_batch for e in listener.events):
            return
        time.sleep(0.05)


WORKLOADS = {
    "marts_refresh": marts_refresh,
    "batch_replay": batch_replay,
    "signals_stream": signals_stream,
}
