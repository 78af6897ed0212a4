"""The benchmark's workloads: closed loops with one client driving the
meter pipeline's public functions on generated inputs.

Each workload is a fixed amount of work, so every run of it takes the
same samples; set-up (session start, generation, warm-up ops) is timed
apart from the measured ops. Every op is counted as
attempted, a raised exception counts it as failed (and as missing from
every latency percentile) without stopping the run, and the outputs are
checked against totals computed by the generator.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import gen

# Rows per delivery: one reading per meter per 15-minute tick, at the
# repo's own measured per-tick scale (20k meters, as bench.py's meter
# legs); see README.md for the derivation and what the run budget cut.
METERS = 20_000
BACKLOG_START_HOUR = 22
BACKLOG_TICKS = 11  # 22:00 → 00:30: the backlog crosses a date boundary
BACKLOG_BUILDS = 4  # the first is a warm-up, left out of the samples
BACKLOG_LOOKUPS = 8
LIVE_PREV_TICKS = 1  # the previous day's last tick, fed in set-up
LIVE_TICKS = 4  # today's first hour
LIVE_REFRESH_EVERY = 2  # ticks between incremental refreshes of today
LIVE_LOOKUPS_PER_REFRESH = 2  # meter-history and billing-row lookups each


@dataclass
class Ledger:
    """Attempted/failed ops per op type and latency samples per metric."""

    tracer: object
    attempted: Counter = field(default_factory=Counter)
    failed: Counter = field(default_factory=Counter)
    samples: dict[str, list[float]] = field(default_factory=dict)
    checks: list[tuple[str, bool, str]] = field(default_factory=list)

    def op(self, kind: str, fn, *args, **kwargs):
        """Run one measured op; returns (result, seconds) or (None, inf)."""
        self.attempted[kind] += 1
        self.tracer.begin_op()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                out = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — a failed op is recorded, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed[kind] += 1
            return None, math.inf
        return out, time.perf_counter() - t0

    def sample(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: object
    recorder: object
    ledger: Ledger
    phases: dict[str, float] = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up phase for the run record."""
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0


def fingerprint(df) -> tuple[int, int]:
    """(rows, order-free content hash) of a DataFrame."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


def drain(ctx: Ctx, source: str, target: str, checkpoint: str, **kw) -> float:
    """One availableNow drain of ``source``; returns its wall seconds."""
    from smart_meter_data_pipeline_spark.streaming.ingest_stream import (
        start_ingest_stream,
    )

    t0 = time.perf_counter()
    with ctx.tracer.span("stream.query_start"):
        q = start_ingest_stream(ctx.spark, source, target, checkpoint, available_now=True, **kw)
    with ctx.tracer.span("stream.await"):
        q.awaitTermination()
    return time.perf_counter() - t0


def flush_listeners(ctx: Ctx) -> None:
    """Deliver every queued progress event to the recorder."""
    with ctx.tracer.span("op.flush"):
        ctx.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def batch_seconds(progress: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]


def build_marts(ctx: Ctx, readings, n_meters: int):
    """``build_all_marts``. Traced runs replay its composition
    (operators/meter_pipeline.py build_all_marts: persisted staging, then
    each mart over it) so the marts spans partition the call."""
    from smart_meter_data_pipeline_spark.operators import meter_pipeline as mp

    if not ctx.tracer.enabled:
        return mp.build_all_marts(ctx.spark, readings, n_meters)
    stg = mp.stg_transform(readings).select(
        "reading_timestamp",
        "meter_id",
        "consumption_delta_mwh",
        "production_delta_mwh",
        "net_delta_mwh",
        "is_valid",
        "is_estimated",
        "is_error",
        "has_solar",
    ).persist()
    try:
        dims = mp.gen_dim_meters(ctx.spark, n_meters)
        # the billing mart's job computes and caches staging; the trace
        # splits this span where the cache-filling stage ends
        with ctx.tracer.span("marts.stg_billing") as sp:
            billing = mp.fact_customer_billing_daily(
                stg,
                dims,
                mp.gen_dim_customers(ctx.spark, n_meters),
                mp.gen_dim_tariff_rates(ctx.spark),
            ).localCheckpoint(eager=True)
        ctx.tracer.cached(sp)
        with ctx.tracer.span("marts.grid"):
            grid = mp.fact_grid_load_hourly(
                stg, dims, mp.gen_dim_grid_zones(ctx.spark)
            ).localCheckpoint(eager=True)
        return billing, grid
    finally:
        stg.unpersist()


def lookup(ctx: Ctx, make_df):
    """A plain read: collect ``make_df()``, a filtered scan of a layout."""
    with ctx.tracer.span("lookup.read"):
        df = make_df()
        rows = df.collect()
    if ctx.tracer.enabled:
        ctx.tracer.count("lookup.files_opened", len(df.inputFiles()))
    return rows


# ---------------------------------------------------------------------------
# ingest_backlog
# ---------------------------------------------------------------------------


def backlog_setup(ctx: Ctx) -> dict:
    from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

    with ctx.phase("generate"):
        rng, start, offset = gen.plan(ctx.seed)
        rd = gen.make_readings(
            rng, start + dt.timedelta(hours=BACKLOG_START_HOUR), offset, METERS, BACKLOG_TICKS
        )
        order = gen.delivery_order(rng, BACKLOG_TICKS)
        mtime0 = time.time() - len(order) - 60
        malformed = gen.write_backlog(rd, order, ctx.path("src"), mtime0)
        gen.write_backlog(rd, order[:1], ctx.path("warm_src"), mtime0)
        # lookups alternate between the backlog's two dates
        lookups = [
            (int(rng.integers(0, METERS)), (k % 2) * (BACKLOG_TICKS - 1))
            for k in range(BACKLOG_LOOKUPS)
        ]
    # warm-up, discarded: a one-delivery drain into a scratch table and
    # lookups on it, so the measured drain and lookups do not pay for
    # compiling their code (the first measured build is the builds' warm-up)
    with ctx.phase("warm_drain"):
        drain(ctx, ctx.path("warm_src"), ctx.path("warm"), ctx.path("warm_ck"), sink="manifest",
              quarantine_target=ctx.path("warm_q"))
        flush_listeners(ctx)
    warm = ManifestTable(ctx.path("warm"))
    with ctx.phase("warm_lookups"):
        for meter, tick in lookups:
            backlog_lookup(ctx, warm, rd, meter, tick)
    return {"rd": rd, "order": order, "malformed": malformed, "lookups": lookups}


def backlog_lookup(ctx: Ctx, table, rd, meter: int, tick: int):
    from pyspark.sql import functions as F

    day = rd.day(tick)
    return lookup(
        ctx,
        lambda: table.read(ctx.spark).filter(
            (F.col("meter_id") == int(rd.meter_ids[meter]))
            & (F.to_date("reading_timestamp") == F.lit(day))
        ),
    )


def backlog_build(ctx: Ctx, table, rd):
    return build_marts(ctx, table.read(ctx.spark), rd.max_meter_id)


def backlog_run(ctx: Ctx, s: dict) -> None:
    from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

    led, rd = ctx.ledger, s["rd"]
    ctx.recorder.progress.clear()
    t_drain = time.time()
    _, secs = led.op(
        "drain",
        drain,
        ctx,
        ctx.path("src"),
        ctx.path("fact"),
        ctx.path("ck"),
        sink="manifest",
        quarantine_target=ctx.path("quarantine"),
    )
    flush_listeners(ctx)
    s["progress"] = list(ctx.recorder.progress)
    landed = rd.valid_totals()
    led.sample("ingest_rows_per_s", landed["rows"] / secs)
    batches = batch_seconds(s["progress"])
    led.attempted["batch"] += len(batches)
    for b in batches:
        led.sample("ingest_batch_s", b)
    # delivery k is read by batch k // maxFilesPerTrigger (4), in mtime order
    ends = [_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
            for p in s["progress"]]
    for k in range(len(s["order"])):
        b = k // 4
        led.sample("tick_freshness_s", ends[b] - t_drain if b < len(ends) else math.inf)

    table = ManifestTable(ctx.path("fact"))
    s["builds"], s["lookup_rows"] = [], []
    # reads before the builds: the first read after a build is up to twice
    # as slow as the rest, which widened the lookup median's spread
    for meter, tick in s["lookups"]:
        rows, secs = led.op("lookup", backlog_lookup, ctx, table, rd, meter, tick)
        led.sample("lookup_s", secs)
        s["lookup_rows"].append((meter, tick, rows))
    for k in range(BACKLOG_BUILDS):
        out, secs = led.op("build", backlog_build, ctx, table, rd)
        if k:
            led.sample("mart_refresh_s", secs)
        if out is not None:
            s["builds"].append(out)


def backlog_check(ctx: Ctx, s: dict) -> None:
    from pyspark.sql import functions as F

    from smart_meter_data_pipeline_spark.sources.manifest import PK, ManifestTable

    led, rd = ctx.ledger, s["rd"]
    df = ManifestTable(ctx.path("fact")).read(ctx.spark)
    want = rd.valid_totals()
    got = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("reading_consumption_milliwatts").alias("cons_sum"),
    ).first().asDict()
    led.check("backlog rows and checksum", got == want, f"{got} vs {want}")
    dups = df.groupBy(*PK).count().filter(F.col("count") > 1).count()
    led.check("backlog duplicate keys", dups == 0, f"{dups}")
    q = ctx.spark.read.parquet(ctx.path("quarantine")).count()
    led.check("backlog quarantined", q == s["malformed"], f"{q} vs {s['malformed']}")

    prints = [(fingerprint(b), fingerprint(g)) for b, g in s["builds"]]
    led.check("rebuilds identical", len(set(prints)) == 1, f"{len(set(prints))} distinct")
    if s["builds"]:
        billing = s["builds"][0][0]
        tot = billing.agg(
            F.sum("total_reading_count").alias("rows"),
            F.sum(F.round(F.col("total_consumption_kwh") * 1e6).cast("bigint")).alias("cons_mwh"),
            F.sum(F.round(F.col("total_production_kwh") * 1e6).cast("bigint")).alias("prod_mwh"),
        ).first().asDict()
        want = rd.mart_totals()
        led.check("rebuild totals", tot == want, f"{tot} vs {want}")
    for meter, tick, rows in s["lookup_rows"]:
        if rows is None:
            continue
        day = rd.day(tick)
        ticks = [t for t in range(rd.n_ticks) if rd.day(t) == day]
        want = rd.meter_rows(meter, range(ticks[0], ticks[-1] + 1))
        led.check(f"lookup meter {meter} on {day}", len(rows) == want, f"{len(rows)} vs {want}")


# ---------------------------------------------------------------------------
# live_day
# ---------------------------------------------------------------------------


def live_setup(ctx: Ctx) -> dict:
    from smart_meter_data_pipeline_spark.operators import meter_pipeline as mp

    today0 = LIVE_PREV_TICKS
    n_today = LIVE_TICKS
    with ctx.phase("generate"):
        rng, start, offset = gen.plan(ctx.seed)
        rd = gen.make_readings(rng, start - today0 * gen.TICK, offset, METERS, today0 + n_today)
        os.makedirs(ctx.path("staged"))
        os.makedirs(ctx.path("src"))
        for t in range(today0 + n_today):
            gen.write_tick(rd, t, os.path.join(ctx.path("staged"), f"t{t:05d}.json"))
        n_refresh = LIVE_TICKS // LIVE_REFRESH_EVERY
        lookups = [
            int(m) for m in rng.integers(0, METERS, size=n_refresh * LIVE_LOOKUPS_PER_REFRESH)
        ]
    n = rd.max_meter_id
    s = {
        "rd": rd,
        "today": rd.day(today0),
        "ticks": range(today0, today0 + n_today),
        "lookups": lookups,
        "dims": [
            mp.gen_dim_meters(ctx.spark, n),
            mp.gen_dim_customers(ctx.spark, n),
            mp.gen_dim_tariff_rates(ctx.spark),
            mp.gen_dim_grid_zones(ctx.spark),
        ],
        "lookup_rows": [],
        "progress": [],
    }
    # warm-up, discarded: the feeder lands the previous day's last tick,
    # so today's refreshes read a real LAG overlap partition, and that
    # day's marts are refreshed
    with ctx.phase("warm_ticks"):
        for t in range(today0):
            live_tick(ctx, t)
    with ctx.phase("warm_refresh"):
        live_refresh(ctx, s, rd.day(0))
        flush_listeners(ctx)
    return s


def live_tick(ctx: Ctx, tick: int) -> float:
    name = f"t{tick:05d}.json"
    os.rename(os.path.join(ctx.path("staged"), name), os.path.join(ctx.path("src"), name))
    t0 = time.perf_counter()
    drain(ctx, ctx.path("src"), ctx.path("fact"), ctx.path("ck"))
    return time.perf_counter() - t0


def live_refresh(ctx: Ctx, s: dict, day: dt.date) -> None:
    from smart_meter_data_pipeline_spark.operators.incremental import refresh_marts_incremental

    with ctx.tracer.span("incremental.refresh"):
        refresh_marts_incremental(
            ctx.spark,
            ctx.path("fact"),
            ctx.path("billing"),
            ctx.path("grid"),
            [day],
            *s["dims"],
        )


def live_meter_lookup(ctx: Ctx, s: dict, meter: int):
    from pyspark.sql import functions as F

    return lookup(
        ctx,
        lambda: ctx.spark.read.parquet(ctx.path("fact")).filter(
            (F.col("reading_date") == F.lit(s["today"]))
            & (F.col("meter_id") == int(s["rd"].meter_ids[meter]))
        ),
    )


def live_billing_lookup(ctx: Ctx, s: dict, meter: int):
    from pyspark.sql import functions as F

    return lookup(
        ctx,
        lambda: ctx.spark.read.parquet(ctx.path("billing")).filter(
            (F.col("billing_date") == F.lit(s["today"]))
            & (F.col("customer_id") == int(s["rd"].meter_ids[meter]))
        ),
    )


def live_run(ctx: Ctx, s: dict) -> None:
    """Today's ticks; after every ``LIVE_REFRESH_EVERY``-th tick, refresh
    today's marts and run meter-history and billing-row lookups."""
    led, rd, ticks = ctx.ledger, s["rd"], s["ticks"]
    drain_s, rows = 0.0, 0
    for t in ticks:
        ctx.recorder.progress.clear()
        secs = led.op("tick", live_tick, ctx, t)[1]
        flush_listeners(ctx)
        led.sample("tick_freshness_s", secs)
        s["progress"] += ctx.recorder.progress
        batches = batch_seconds(ctx.recorder.progress)
        led.attempted["batch"] += len(batches)
        for b in batches:
            led.sample("ingest_batch_s", b)
        drain_s += secs
        rows += rd.valid_totals(range(t, t + 1))["rows"]
        k, pos = divmod(t - ticks.start, LIVE_REFRESH_EVERY)
        if pos < LIVE_REFRESH_EVERY - 1:
            continue
        led.sample("mart_refresh_s", led.op("refresh", live_refresh, ctx, s, s["today"])[1])
        upto = range(ticks.start, t + 1)
        per = LIVE_LOOKUPS_PER_REFRESH
        for meter in s["lookups"][k * per : (k + 1) * per]:
            for kind, fn in (("meter", live_meter_lookup), ("billing", live_billing_lookup)):
                out, secs = led.op("lookup", fn, ctx, s, meter)
                led.sample("lookup_s", secs)
                s["lookup_rows"].append((kind, meter, upto, out))
    led.sample("ingest_rows_per_s", rows / drain_s)


def live_check(ctx: Ctx, s: dict) -> None:
    from pyspark.sql import functions as F

    from smart_meter_data_pipeline_spark.operators.meter_pipeline import build_all_marts

    led, rd, today = ctx.ledger, s["rd"], s["today"]
    fact = ctx.spark.read.parquet(ctx.path("fact"))
    want = rd.valid_totals(s["ticks"])
    got = (
        fact.filter(F.col("reading_date") == F.lit(today))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("reading_consumption_milliwatts").alias("cons_sum"),
        )
        .first()
        .asDict()
    )
    led.check("live rows and checksum", got == want, f"{got} vs {want}")
    # both dates were refreshed incrementally: the previous day in set-up,
    # today once an hour
    billing, grid = build_all_marts(ctx.spark, fact, rd.max_meter_id)
    inc_b = ctx.spark.read.parquet(ctx.path("billing")).select(*billing.columns)
    inc_g = ctx.spark.read.parquet(ctx.path("grid")).select(*grid.columns)
    fb, ib = fingerprint(billing), fingerprint(inc_b)
    led.check("incremental billing == full", fb == ib and fb[0] > 0, f"{ib} vs {fb}")
    fg, ig = fingerprint(grid), fingerprint(inc_g)
    led.check("incremental grid == full", fg == ig and fg[0] > 0, f"{ig} vs {fg}")
    for kind, meter, upto, rows in s["lookup_rows"]:
        if rows is None:
            continue
        want = rd.meter_rows(meter, upto)
        got = len(rows) if kind == "meter" else (rows[0]["total_reading_count"] if rows else 0)
        led.check(f"{kind} lookup {meter}", got == want, f"{got} vs {want}")


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WORKLOADS = {
    "ingest_backlog": (backlog_setup, backlog_run, backlog_check),
    "live_day": (live_setup, live_run, live_check),
}
