"""Seeded load generator for the meter-pipeline benchmark.

Runs in one thread (NumPy only, no Spark) and writes the inputs the
program sees: wire-JSON delivery files, one per 15-minute tick, in the
envelope ``sources.kafka.to_wire`` produces. The seed picks the start
date, the meter-id offset, which deliveries are redelivered or arrive
late, and which lines are corrupted; the same seed writes the same
bytes. Every expected total the benchmark checks comes from here,
computed without Spark.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

TICK = dt.timedelta(minutes=15)
MALFORMED_SHARE = 0.005
LATE_DELIVERIES = 1
REDELIVERED_DELIVERIES = 1
MAX_METER_OFFSET = 5000


@dataclass
class Readings:
    """Cumulative register readings for ``n_meters`` × ``n_ticks``.

    Arrays are indexed ``[meter, tick]``; ``prod`` is -1 where the meter
    has no solar (the wire omits the field, the fact table holds NULL).
    ``malformed`` marks lines the wire writer corrupts."""

    start: dt.datetime
    meter_ids: np.ndarray
    cons: np.ndarray
    prod: np.ndarray
    status: np.ndarray
    malformed: np.ndarray

    @property
    def n_meters(self) -> int:
        return len(self.meter_ids)

    @property
    def n_ticks(self) -> int:
        return self.cons.shape[1]

    @property
    def max_meter_id(self) -> int:
        return int(self.meter_ids[-1])

    def day(self, tick: int) -> dt.date:
        return (self.start + tick * TICK).date()

    def valid_totals(self, ticks: range | None = None) -> dict[str, int]:
        """Row count and consumption checksum of the well-formed readings
        in ``ticks`` (all ticks when None) — what the fact table must hold
        once every delivery has landed, however often it was sent."""
        sl = slice(None) if ticks is None else slice(ticks.start, ticks.stop)
        ok = ~self.malformed[:, sl]
        return {
            "rows": int(ok.sum()),
            "cons_sum": int(self.cons[:, sl][ok].sum()),
        }

    def mart_totals(self) -> dict[str, int]:
        """The marts' grand totals once every well-formed reading has
        landed: staging's deltas telescope per meter to the register at
        its last landed reading (the first reading's delta is the register
        itself), so summed consumption/production equal Σ over meters of
        that register."""
        ok = ~self.malformed
        last = self.n_ticks - 1 - np.argmax(ok[:, ::-1], axis=1)
        landed = ok.any(axis=1)
        rows = np.arange(self.n_meters)
        solar = landed & (self.prod[:, 0] >= 0)
        return {
            "rows": int(ok.sum()),
            "cons_mwh": int(self.cons[rows, last][landed].sum()),
            "prod_mwh": int(self.prod[rows, last][solar].sum()),
        }

    def meter_rows(self, meter: int, ticks: range) -> int:
        """Well-formed readings of meter index ``meter`` in ``ticks``."""
        return int((~self.malformed[meter, ticks.start : ticks.stop]).sum())


def plan(seed: int) -> tuple[np.random.Generator, dt.datetime, int]:
    """(rng, start timestamp, meter-id offset) for ``seed``."""
    rng = np.random.default_rng(seed)
    start = dt.datetime(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
    return rng, start, int(rng.integers(0, MAX_METER_OFFSET))


def make_readings(
    rng: np.random.Generator,
    start: dt.datetime,
    meter_offset: int,
    n_meters: int,
    n_ticks: int,
) -> Readings:
    """Reference-shaped readings (producer/meter_simulator.py profile):
    peak/night/day base load with ±20 % jitter, solar on even meter ids
    during daylight, status V/E/R at 98/1.5/0.5 %, integer mWh
    registers starting from a random meter reading."""
    meter_ids = np.arange(1, n_meters + 1, dtype=np.int64) + meter_offset
    hour = ((np.arange(n_ticks) + start.hour * 4) // 4) % 24
    peak = ((hour >= 6) & (hour < 9)) | ((hour >= 17) & (hour < 22))
    night = (hour >= 22) | (hour < 6)
    lo = np.where(peak, 2000.0, np.where(night, 500.0, 1000.0))
    span = np.where(peak, 3000.0, np.where(night, 1000.0, 2000.0))
    u = rng.random((n_meters, n_ticks))
    jit = 0.8 + 0.4 * rng.random((n_meters, n_ticks))
    cons_delta = np.floor((lo + span * u) * jit * 250.0).astype(np.int64)
    register = rng.integers(0, 50_000_000, size=(n_meters, 1))
    cons = register + np.cumsum(cons_delta, axis=1)

    solar_fac = np.where((hour >= 6) & (hour < 18), 1.0 - np.abs(hour - 12) / 6.0, 0.0)
    sol_peak = 3000.0 + 3000.0 * rng.random((n_meters, n_ticks))
    sol_jit = 0.8 + 0.4 * rng.random((n_meters, n_ticks))
    prod_delta = np.floor(sol_peak * solar_fac * sol_jit * 250.0).astype(np.int64)
    prod = np.cumsum(prod_delta, axis=1)
    prod[meter_ids % 2 == 1, :] = -1

    r = rng.random((n_meters, n_ticks))
    status = np.where(r < 0.98, "V", np.where(r < 0.995, "E", "R"))
    malformed = rng.random((n_meters, n_ticks)) < MALFORMED_SHARE
    return Readings(start, meter_ids, cons, prod, status, malformed)


def tick_lines(rd: Readings, tick: int) -> str:
    """One delivery's wire JSON: every meter's reading at ``tick``."""
    ts = (rd.start + tick * TICK).strftime("%Y-%m-%dT%H:%M:%S")
    out = []
    for i in range(rd.n_meters):
        prod = int(rd.prod[i, tick])
        line = (
            f'{{"meter_id":{rd.meter_ids[i]},"reading_timestamp":"{ts}",'
            f'"reading_consumption_milliwatts":{rd.cons[i, tick]},'
            + (f'"reading_production_milliwatts":{prod},' if prod >= 0 else "")
            + f'"status":"{rd.status[i, tick]}"}}'
        )
        if rd.malformed[i, tick]:
            line = line[: len(line) // 2]
        out.append(line)
    return "\n".join(out) + "\n"


def write_tick(rd: Readings, tick: int, path: str) -> int:
    """Write tick ``tick``'s delivery to ``path``; returns its
    malformed-line count."""
    with open(path, "w") as fh:
        fh.write(tick_lines(rd, tick))
    return int(rd.malformed[:, tick].sum())


def delivery_order(rng: np.random.Generator, n_ticks: int) -> list[int]:
    """Tick of each delivery, in arrival order. The seed picks which ticks
    (a fixed number of them) arrive late, 1-8 ticks after their slot, and
    which are sent a second time; the copies arrive after every original,
    so copies of the first date land after it has rolled over. Counts and
    placement rules do not depend on the seed, so every seed drains in the
    same number of batches and commits."""
    slots = np.arange(n_ticks, dtype=np.float64)
    late = rng.choice(n_ticks, size=LATE_DELIVERIES, replace=False)
    slots[late] += rng.integers(1, 9, size=len(late)) + 0.5
    redo = rng.choice(n_ticks, size=REDELIVERED_DELIVERIES, replace=False)
    again = n_ticks + 8 + np.arange(1, len(redo) + 1, dtype=np.float64)
    keys = np.concatenate([slots, again])
    ticks = np.concatenate([np.arange(n_ticks), redo])
    return [int(t) for t in ticks[np.argsort(keys, kind="stable")]]


def write_backlog(
    rd: Readings, order: list[int], source_dir: str, mtime0: float
) -> int:
    """Stage every delivery of ``order`` in ``source_dir``, stamped with
    strictly increasing mtimes so the file source reads them in arrival
    order. Returns the malformed lines delivered, copies included."""
    os.makedirs(source_dir, exist_ok=True)
    bad = 0
    for k, tick in enumerate(order):
        path = os.path.join(source_dir, f"d{k:05d}_t{tick:05d}.json")
        bad += write_tick(rd, tick, path)
        os.utime(path, (mtime0 + k, mtime0 + k))
    return bad
