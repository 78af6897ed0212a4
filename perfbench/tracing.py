"""Traced mode: spans around every call into a pipeline layer, plus the
Spark counters of the jobs each span ran.

Spans are kept in memory and turned into per-layer metrics when the run
ends. Each span sets a Spark job group on the thread that opens it, so a
job is charged to the innermost span that launched it; jobs launched by
the stream's own thread outside any wrapper are charged, by submission
time, to the innermost span open at that moment. Counters come from the
Spark driver's status store, which is kept with the UI off.

The wrappers are installed on the package's module attributes from here;
the package itself is not edited. A span's self time is its duration
minus the part covered by its children.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

CORES = 4
LAYERS = ("stream", "ingest", "manifest", "incremental", "marts", "lookup")
COUNTERS = (
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "cpu_busy_share",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
STREAM_PHASES = {
    "stream.latest_offset_s": ("latestOffset",),
    "stream.planning_s": ("queryPlanning",),
    "stream.add_batch_s": ("addBatch",),
    "stream.commit_s": ("commitOffsets", "walCommit"),
}
LAYER_METRICS = (
    ["session.start_s", "stream.query_start_s"]
    + list(STREAM_PHASES)
    + ["stream.batches", "stream.rows_in", "stream.rejected", "stream.backlog_max"]
    + [
        "ingest.append_s",
        "ingest.rows_offered",
        "ingest.rows_written",
        "ingest.written_ratio",
        "ingest.antijoin_input_bytes",
        "ingest.files_written",
        "ingest.partition_files",
        "manifest.append_s",
        "manifest.commits",
        "manifest.commit_retries",
        "manifest.files_added",
        "manifest.log_bytes",
        "manifest.bytes_per_row",
        "incremental.refresh_s",
        "incremental.dates_rebuilt",
        "incremental.fact_files_scanned",
        "marts.stg_s",
        "marts.billing_s",
        "marts.grid_s",
        "marts.stg_cached_bytes",
        "lookup.files_opened",
    ]
    + [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS]
    + [f"{layer}.self_s" for layer in ("op",) + LAYERS]
    + [
        "failed_op_share",
        "trace.measured_s",
        "trace.untraced_s",
        "trace.spans_s",
        "trace.overhead_s",
    ]
)


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_per_row"):
        return "bytes/row"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_ratio")):
        return "ratio"
    return "count"


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: every hook is free."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def begin_op(self) -> None:
        pass

    def count(self, name: str, value: float = 1.0) -> None:
        pass

    def peak(self, name: str, value: float) -> None:
        pass

    def cached(self, sp) -> None:
        pass


class Tracer(NullTracer):
    """Records spans and counters; ``install`` wraps the layer entry
    points the workloads reach."""

    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.counters: dict[str, float] = {}
        self.op_id = 0
        self.cache_rdds: dict[int, set[int]] = {}
        self.seen_cached: set[int] = set()
        self.window = (0.0, 0.0)
        self._lock = threading.Lock()

    def begin_op(self) -> None:
        self.op_id += 1

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def peak(self, name: str, value: float) -> None:
        self.counters[name] = max(self.counters.get(name, 0.0), value)

    def cached(self, sp: Span) -> None:
        """Note the staging RDD that ``sp`` cached and its size: of the
        RDDs first seen cached now, the oldest (the mart's own
        checkpoint is cached after it)."""
        infos = {i.id(): i for i in self.sc._jsc.sc().getRDDStorageInfo()}
        new = sorted(set(infos) - self.seen_cached)
        self.seen_cached |= set(infos)
        if new:
            stg = infos[new[0]]
            self.cache_rdds[sp.span_id] = {stg.id()}
            self.peak("marts.stg_cached_bytes", stg.memSize() + stg.diskSize())

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            sid = len(self.spans)
            parent = self.stack[-1] if self.stack else None
            sp = Span(sid, name, self.op_id, parent, 0.0)
            self.spans.append(sp)
            if parent is not None:
                self.spans[parent].children.append(sid)
            self.stack.append(sid)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{sid}")
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.stack.remove(sid)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``after(result,
        args)`` records counters from the call's result."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args)
            return out

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the call sites the workloads reach inside the package."""
        from smart_meter_data_pipeline_spark.operators import incremental
        from smart_meter_data_pipeline_spark.sources import manifest
        from smart_meter_data_pipeline_spark.streaming import ingest_stream

        fn = ingest_stream.idempotent_append

        def traced_flock(spark, batch, target):
            before = _partition_files(target)
            with self.span("ingest.append"):
                n = fn(spark, batch, target)
            after = _partition_files(target)
            grown = [d for d, files in after.items() if len(files) > len(before.get(d, ()))]
            self.count("ingest.rows_written", n)
            self.count(
                "ingest.files_written",
                sum(len(after[d]) - len(before.get(d, ())) for d in grown),
            )
            self.count(
                "ingest.antijoin_input_bytes",
                sum(_size(before.get(d, ())) for d in grown),
            )
            self.peak("ingest.partition_files", max((len(f) for f in after.values()), default=0))
            return n

        ingest_stream.idempotent_append = traced_flock

        def written(out, args):
            self.count("ingest.rows_written", out)

        self.wrap(manifest.ManifestTable, "idempotent_append", "manifest.append", written)

        put = manifest._put_if_absent

        def counted_put(path, payload):
            ok = put(path, payload)
            self.count("manifest.commits" if ok else "manifest.commit_retries")
            return ok

        manifest._put_if_absent = counted_put

        def targets(out, args):
            self.count("incremental.dates_rebuilt", len(out))

        self.wrap(incremental, "_rebuild_targets", "incremental.targets", targets)

        stg = incremental.stg_for_dates

        def traced_stg(spark, fact_dir, dates):
            scan = incremental._with_overlap(dates)
            files = _partition_files(fact_dir)
            self.count(
                "incremental.fact_files_scanned",
                sum(len(files.get(str(d), ())) for d in scan),
            )
            return stg(spark, fact_dir, dates)

        incremental.stg_for_dates = traced_stg

    # ------------------------------------------------------------------
    # Harvest
    # ------------------------------------------------------------------

    def _self_times(self) -> dict[int, float]:
        out = {}
        for sp in self.spans:
            covered = _union(
                [(self.spans[c].start, self.spans[c].end) for c in sp.children]
            )
            out[sp.span_id] = sp.duration - covered
        return out

    def _jobs(self) -> list[dict]:
        """Every job of the run with its group, submission time and the
        summed metrics of the stages it ran; for the jobs of a span that
        cached RDDs, also when the first stage holding one ended."""
        jvm_sc = self.sc._jsc.sc()
        jvm_sc.listenerBus().waitUntilEmpty()
        store = jvm_sc.statusStore()
        jobs = store.jobsList(None)
        seen_stages: set[int] = set()
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            rec = {
                "group": group,
                "submitted": sub.get().getTime() / 1000.0,
                "tasks": j.numTasks() - j.numSkippedTasks(),
                "failed_tasks": j.numFailedTasks(),
                "executor_run_s": 0.0,
                "input_bytes": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                seen_stages.add(sid)
                rec["executor_run_s"] += st.executorRunTime() / 1000.0
                rec["input_bytes"] += st.inputBytes()
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                cached = self.cache_rdds.get(_span_of(group), set())
                rdds = st.rddIds()
                if st.completionTime().isDefined() and any(
                    rdds.apply(r) in cached for r in range(rdds.size())
                ):
                    rec["cache_filled"] = min(
                        rec.get("cache_filled", math.inf),
                        st.completionTime().get().getTime() / 1000.0,
                    )
            out.append(rec)
        return out

    def _owner(self, job: dict) -> Span | None:
        sid = _span_of(job["group"])
        if sid is not None:
            return self.spans[sid]
        best = None
        for sp in self.spans:
            if sp.start <= job["submitted"] <= sp.end and (
                best is None or sp.start >= best.start
            ):
                best = sp
        return best

    def metrics(self, progress: list[dict], extra: dict[str, float]) -> dict[str, float]:
        """All per-layer metrics of the run (0 for a layer it never
        reached)."""
        m = {name: 0.0 for name in LAYER_METRICS}
        m.update({k: v for k, v in self.counters.items() if k in m})
        m.update({k: v for k, v in extra.items() if k in m})
        self_t = self._self_times()
        lo, hi = self.window
        in_window = [sp for sp in self.spans if lo <= sp.start and sp.end <= hi]
        for sp in in_window:
            layer = sp.layer if sp.layer in LAYERS else "op"
            m[f"{layer}.self_s"] += self_t[sp.span_id]
            key = {
                "stream.query_start": "stream.query_start_s",
                "ingest.append": "ingest.append_s",
                "manifest.append": "manifest.append_s",
                "incremental.refresh": "incremental.refresh_s",
                "marts.grid": "marts.grid_s",
            }.get(sp.name)
            if key:
                m[key] += sp.duration
            if sp.parent is None:
                m["trace.spans_s"] += sp.duration
        filled: dict[int, float] = {}
        for job in self._jobs():
            sp = self._owner(job)
            if sp is None or sp.layer not in LAYERS or not (lo <= sp.start and sp.end <= hi):
                continue
            for c in COUNTERS:
                if c in job:
                    m[f"{sp.layer}.{c}"] += job[c]
            if "cache_filled" in job:
                filled[sp.span_id] = min(filled.get(sp.span_id, math.inf), job["cache_filled"])
        # staging ends with the first stage that holds its cached RDD (the
        # one that fills the cache); the rest of the span is the billing
        # mart over it
        for sp in in_window:
            if sp.name == "marts.stg_billing":
                split = min(max(filled.get(sp.span_id, sp.end), sp.start), sp.end)
                m["marts.stg_s"] += split - sp.start
                m["marts.billing_s"] += sp.end - split
        for layer in LAYERS:
            busy = m[f"{layer}.self_s"] * CORES
            m[f"{layer}.cpu_busy_share"] = m[f"{layer}.executor_run_s"] / busy if busy else 0.0
        for p in progress:
            d = p["durationMs"]
            for name, keys in STREAM_PHASES.items():
                m[name] += sum(d.get(k, 0) for k in keys) / 1000.0
            obs = p["observedMetrics"].get("ingest", {})
            m["stream.batches"] += 1
            m["stream.rows_in"] += p["numInputRows"]
            m["stream.rejected"] += obs.get("rejected", 0)
            m["ingest.rows_offered"] += obs.get("consumed", 0) - obs.get("rejected", 0)
            m["stream.backlog_max"] = max(m["stream.backlog_max"], p["backlog"])
        if m["ingest.rows_offered"]:
            m["ingest.written_ratio"] = m["ingest.rows_written"] / m["ingest.rows_offered"]
        m["trace.measured_s"] = hi - lo
        return m

    def dump(self, path: str) -> None:
        """Write the spans out (one JSON object per line)."""
        self_t = self._self_times()
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "name": sp.name,
                            "op": sp.op_id,
                            "parent": sp.parent,
                            "start": sp.start,
                            "end": sp.end,
                            "self_s": self_t[sp.span_id],
                        }
                    )
                    + "\n"
                )


def manifest_counts(table: str) -> dict[str, float]:
    """Commit-log size and data bytes per row of a manifest table (empty
    when ``table`` is not one)."""
    commits = os.path.join(table, "_commits")
    if not os.path.isdir(commits):
        return {}
    log_bytes, files, rows = 0, 0, 0
    for name in os.listdir(commits):
        if name.endswith(".json"):
            path = os.path.join(commits, name)
            log_bytes += os.path.getsize(path)
            with open(path) as fh:
                c = json.load(fh)
            files += len(c.get("added", []))
            rows += c.get("count", 0)
    data = 0
    for dirpath, _, names in os.walk(os.path.join(table, "_data")):
        data += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names if n.endswith(".parquet"))
    return {
        "manifest.log_bytes": log_bytes,
        "manifest.files_added": files,
        "manifest.bytes_per_row": data / rows if rows else 0.0,
    }


def _partition_files(table_dir: str) -> dict[str, list[str]]:
    """``{date: [parquet paths]}`` of a ``reading_date=``-partitioned
    table."""
    out: dict[str, list[str]] = {}
    if not os.path.isdir(table_dir):
        return out
    for name in os.listdir(table_dir):
        if name.startswith("reading_date="):
            part = os.path.join(table_dir, name)
            out[name.split("=", 1)[1]] = [
                os.path.join(part, f) for f in os.listdir(part) if f.endswith(".parquet")
            ]
    return out


def _span_of(group: str | None) -> int | None:
    """Span id of a ``pb-<id>`` job group."""
    return int(group[3:]) if group and group.startswith("pb-") else None


def _size(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
