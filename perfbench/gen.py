"""Seeded input generators for the benchmark workloads.

Every input the engine sees is made here from ``--seed``: the same seed
gives byte-identical files, another seed gives other files. Prices are
a per-symbol geometric random walk rounded to cents; volumes ride in
the ``props`` JSON as ``{"k": n}``, which is where the engine's bar and
tick operators read them (``operators/bars.py``, ``operators/realtime.py``).
"""

from __future__ import annotations

import itertools
import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
TICK_SIGMA = 0.002  # per-tick log-return stddev

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def symbols(n: int) -> list[str]:
    return [f"S{i:03d}" for i in range(n)]


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, workload, part), so adding a
    part never shifts the numbers of another."""
    return np.random.default_rng([seed, *stream])


@dataclass
class Walk:
    """Running per-symbol price state, carried across days or slices."""

    names: list[str]
    prices: np.ndarray

    @classmethod
    def start(cls, rng: np.random.Generator, n_sym: int) -> "Walk":
        return cls(symbols(n_sym), rng.uniform(20.0, 500.0, n_sym))

    def ticks(self, rng: np.random.Generator, sym_idx: np.ndarray) -> np.ndarray:
        """Advance the walk by one tick for each entry of ``sym_idx``
        (in order) and return the cent-rounded prices."""
        steps = np.exp(rng.normal(0.0, TICK_SIGMA, len(sym_idx)))
        out = np.empty(len(sym_idx))
        for s in range(len(self.names)):
            mask = sym_idx == s
            path = self.prices[s] * np.cumprod(steps[mask])
            out[mask] = path
            if mask.any():
                self.prices[s] = path[-1]
        return np.maximum(np.round(out, 2), 0.01)


def _events(
    rng: np.random.Generator,
    walk: Walk,
    t0_us: int,
    span_us: int,
    counts: np.ndarray,
    first_id: int,
) -> pa.Table:
    """Events-shaped ticks for every symbol over [t0, t0 + span):
    ``counts[s]`` ticks for symbol s, at distinct whole-second times."""
    sym_idx = np.repeat(np.arange(len(walk.names)), counts)
    secs = np.concatenate(
        [np.sort(rng.choice(span_us // 1_000_000, c, replace=False)) for c in counts]
    )
    ts = t0_us + secs * 1_000_000 + rng.integers(0, 1_000_000, len(secs))
    order = np.lexsort((sym_idx, ts))
    sym_idx, ts = sym_idx[order], ts[order]
    price = walk.ticks(rng, sym_idx)
    volume = rng.integers(1, 1000, len(ts))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + len(ts), dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(1, 500, len(ts)),
            "event_type": pa.array([walk.names[i] for i in sym_idx], pa.string()),
            "value": price,
            "props": pa.array([f'{{"k": {v}}}' for v in volume], pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def write_events(table: pa.Table, sf_dir: str) -> str:
    """Land ``table`` as ``<sf_dir>/events.parquet`` (the testdata
    layout ``sources.io.load_table`` reads)."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, f"{sf_dir}/events.parquet")
    return sf_dir


def trading_days(
    rng: np.random.Generator, n_sym: int, ticks_per_day: int
) -> Iterator[pa.Table]:
    """Consecutive days from 2024-01-01, without end: ~``ticks_per_day``
    ticks (Poisson) per symbol-day; the walk and the event ids continue
    from day to day."""
    walk = Walk.start(rng, n_sym)
    next_id = 0
    for d in itertools.count():
        counts = rng.poisson(ticks_per_day, n_sym)
        day = _events(rng, walk, EPOCH_2024_US + d * DAY_US, DAY_US, counts, next_id)
        next_id += day.num_rows
        yield day


def marts_snapshot(
    seed: int, index: int, n_sym: int, days: int, ticks_per_day: int
) -> pa.Table:
    """A fresh ``days``-long events snapshot for pass ``index``."""
    rng = rng_for(seed, 1, index)
    return pa.concat_tables(itertools.islice(trading_days(rng, n_sym, ticks_per_day), days))


def batch_days(seed: int, n_sym: int, ticks_per_day: int) -> Iterator[pa.Table]:
    """The batch replay's days, one table each."""
    return trading_days(rng_for(seed, 2), n_sym, ticks_per_day)


SLICE_US = 15 * 60 * 1_000_000


def tick_slices(seed: int, n_sym: int, ticks_per_slice: int) -> Iterator[pa.Table]:
    """Consecutive 15-minute event-time slices, without end, each with
    exactly ``ticks_per_slice`` ticks per symbol, as events-shaped
    tables (the twin the batch oracle reads); :func:`write_tick_file`
    renders one as the stream's JSON drop file."""
    rng = rng_for(seed, 3)
    walk = Walk.start(rng, n_sym)
    counts = np.full(n_sym, ticks_per_slice)
    t0 = EPOCH_2024_US + 9 * 3600 * 1_000_000  # 09:00 UTC
    next_id = 0
    for k in itertools.count():
        part = _events(rng, walk, t0 + k * SLICE_US, SLICE_US, counts, next_id)
        next_id += part.num_rows
        yield part


def write_tick_file(table: pa.Table, path: str) -> None:
    """One JSON-lines file in the ``schemas.RAW_TICKS`` shape; the
    timestamp keeps whole microseconds so the stream parses the very
    instant its events twin holds."""
    cols = table.to_pydict()
    with open(path, "w") as f:
        for sym, ts, price, props in zip(
            cols["event_type"], cols["ts"], cols["value"], cols["props"]
        ):
            row = {
                "symbol": sym,
                "timestamp": ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
                "price": price,
                "open": price,
                "high": price,
                "low": price,
                "volume": json.loads(props)["k"],
            }
            f.write(json.dumps(row) + "\n")
