"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider

Seeded inputs must be reproducible, and each workload's checker must
turn a perturbed expected answer into a failed operation.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _inputs(seed: int, out: str) -> list[str]:
    """Every kind of input file a workload lands, for ``seed``."""
    snap = gen.write_events(gen.marts_snapshot(seed, 1, 3, 2, 50), f"{out}/marts")
    day = next(gen.batch_days(seed, 3, 50))
    day_dir = gen.write_events(day, f"{out}/day")
    tick = f"{out}/slice.json"
    gen.write_tick_file(next(gen.tick_slices(seed, 3, 5)), tick)
    return [f"{snap}/events.parquet", f"{day_dir}/events.parquet", tick]


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = [_digest(p) for p in _inputs(5, str(tmp_path / "a"))]
    b = [_digest(p) for p in _inputs(5, str(tmp_path / "b"))]
    c = [_digest(p) for p in _inputs(6, str(tmp_path / "c"))]
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_tick_file_matches_its_events_twin(tmp_path):
    table = next(gen.tick_slices(3, 2, 4))
    path = str(tmp_path / "t.json")
    gen.write_tick_file(table, path)
    con = check.connect({})
    got = con.execute(
        f"SELECT symbol, CAST(timestamp AS TIMESTAMP) AS ts, price "
        f"FROM read_json_auto('{path}')"
    ).df()
    twin = table.select(["event_type", "ts", "value"]).to_pandas()
    twin.columns = ["symbol", "ts", "price"]
    assert check.compare(got, twin)[0] is None


@pytest.fixture(scope="module")
def oracles():
    import __spark_entry__ as entry

    return entry.oracle_sql()


@pytest.fixture(scope="module")
def snapshot(tmp_path_factory):
    d = gen.write_events(
        gen.marts_snapshot(9, 1, 3, 5, 60), str(tmp_path_factory.mktemp("snap"))
    )
    return check.connect({"events": [f"{d}/events.parquet"]})


def _perturb(df, column):
    out = df.copy()
    out.loc[out.index[0], column] = out[column].iloc[0] + 1
    return out


@pytest.mark.parametrize("name", workloads.MARTS_MIX)
def test_marts_checker_fails_a_perturbed_answer(snapshot, oracles, name):
    answer = snapshot.execute(oracles[name]).df()
    if answer.empty:
        pytest.skip(f"{name} is empty on this tiny snapshot")
    numeric = [c for c in answer.columns if answer[c].dtype.kind in "if"]
    assert check.compare(answer, answer.copy())[0] is None
    assert check.compare(answer, _perturb(answer, numeric[0]))[0] is not None
    assert check.compare(answer, answer.iloc[1:])[0] is not None


def test_batch_checker_fails_a_perturbed_answer(snapshot, oracles, tmp_path):
    lake = str(tmp_path)
    expected = {}
    for zone in ("stock_performance", "daily_summary"):
        answer = snapshot.execute(oracles[zone]).df()
        os.makedirs(f"{lake}/gold/{zone}")
        pq.write_table(pa.Table.from_pandas(answer), f"{lake}/gold/{zone}/part-0.parquet")
        expected[zone] = answer
    assert workloads._gold_problem(lake, expected)[0] is None
    bad = dict(expected, daily_summary=_perturb(expected["daily_summary"], "total_volume"))
    assert workloads._gold_problem(lake, bad)[0].startswith("daily_summary")


def test_stream_checker_fails_a_perturbed_answer(oracles):
    slices = list(itertools.islice(gen.tick_slices(4, 3, 20), 9))
    con = check.connect({})
    con.register("events", pa.concat_tables(slices))
    expected = con.execute(oracles["realtime_signals"]).df()
    max_ts = pa.concat_tables(slices).column("ts").to_pandas().max()
    watermark = max_ts - workloads.WATERMARK
    closed, full_hours = workloads._finalized(expected, watermark)
    assert 0 < len(full_hours) < len(closed) < len(expected)
    gold = closed.copy()
    assert workloads._stream_problem(gold, expected, watermark)[0] is None
    assert workloads._stream_problem(gold.iloc[1:], expected, watermark)[0] is not None
    wrong = gold.copy()
    row = full_hours.index[0]
    wrong.loc[row, "ma_15m"] = wrong.loc[row, "ma_15m"] + 0.01
    assert workloads._stream_problem(wrong, expected, watermark)[0] is not None


def test_rounding_tie_passes_only_on_rounded_aggregates(snapshot, oracles):
    answer = snapshot.execute(oracles["daily_summary"]).df()
    row = answer.index[0]

    def shifted(column, by):
        out = answer.copy()
        out.loc[row, column] = out.loc[row, column] + by
        return out

    # one unit of the 4th decimal on a round(avg(x), 4) column: a tie
    problem, ties = check.compare(shifted("avg_intraday_range_pct", 1e-4), answer)
    assert problem is None and ties[0].startswith("avg_intraday_range_pct: 1 rows")
    # two units, or half a unit, is a wrong answer
    assert check.compare(shifted("avg_intraday_range_pct", 2e-4), answer)[0] is not None
    assert check.compare(shifted("avg_intraday_range_pct", 5e-5), answer)[0] is not None
    # one unit on a column that is not a rounded average is a wrong answer
    assert check.compare(shifted("best_return_pct", 1e-4), answer)[0] is not None
