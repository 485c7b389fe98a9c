"""The traced run: spans around calls into each layer, Spark job
groups, a streaming-query listener and Spark's event log, reduced to
the per-layer metrics.

Every span is recorded from this file, around the program's public
functions; no engine code changes.  Module attributes are patched
before the workload calls a factory, because ``lake_sink`` and
``replicate`` import these names inside their function bodies.

The drive-loop attempt counter is on in every run: it counts each
``start()`` of a bounded stream drain, so a drain that paid the
Python-worker spawn-timeout retry (a ~10 s restart) counts as failed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict
from statistics import median

from .harness import dir_bytes
from .query_mix import FAMILIES, IDS

P = "aws_datalake_framework_api_spark"

#: (module, attribute, span name) wrapped while a traced unit runs
WRAPPED = (
    (f"{P}.txlog", "TxLogTable.read", "txlog.read_ms"),
    (f"{P}.txlog", "TxLogTable.overwrite", "txlog.overwrite_ms"),
    (f"{P}.txlog", "TxLogTable.append", "txlog.append_ms"),
    (f"{P}.txlog", "TxLogTable.upsert_keys", "txlog.upsert_keys_ms"),
    (f"{P}.sources.delta", "merge_delta", "delta.merge_s"),
    (f"{P}.sources.iceberg", "merge_iceberg", "iceberg.merge_s"),
    (f"{P}.sources.iceberg", "delete_by_key_iceberg", "iceberg.delete_by_key_s"),
    (f"{P}.sources.merge_clauses", "pin", "merge_clauses.pin_s"),
)
TXLOG_WRITES = ("txlog.overwrite_ms", "txlog.append_ms", "txlog.upsert_keys_ms")
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution")
API_KINDS = ("read", "create", "update", "delete")


def layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``, in report order."""
    out = [
        ("failed_frac", "frac"),
        ("trace.overhead_pct", "%"),
        ("process.peak_rss_mb", "MB"),
        ("spark.jobs", "count"), ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.jobs_per_op.read", "count"),
        ("spark.jobs_per_op.write", "count"),
        ("driver.outside_jobs_s", "s"),
        ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
        ("spark.spill_mb", "MB"),
    ]
    out += [(f"api.dispatch.{k}_ms", "ms") for k in API_KINDS]
    out += [
        ("catalog.audit_flush_ms", "ms"), ("catalog.status_update_ms", "ms"),
        ("txlog.read_ms", "ms"), ("txlog.overwrite_ms", "ms"),
        ("txlog.append_ms", "ms"), ("txlog.upsert_keys_ms", "ms"),
        ("txlog.bytes_written_per_op", "B"), ("txlog.audit_dirs", "count"),
        ("stream.ingest_drain_s", "s"), ("stream.replicate_drain_s", "s"),
    ]
    out += [(f"stream.phase.{p}_ms", "ms") for p in PHASES]
    out += [
        ("stream.outside_batch_s", "s"), ("stream.drain_attempts", "count"),
        ("stream.spawn_retries", "count"),
        ("delta.merge_s", "s"), ("iceberg.delete_by_key_s", "s"),
        ("iceberg.merge_s", "s"), ("merge_clauses.pin_s", "s"),
        ("lake.read_delta_s", "s"), ("lake.read_iceberg_s", "s"),
        ("iceberg.delete_files", "count"),
        ("delta.bytes_written_per_changed_row", "B"),
        ("iceberg.bytes_written_per_changed_row", "B"),
        ("query.build_s", "s"), ("query.exec_s", "s"),
    ]
    out += [(f"query.family.{f}_s", "s") for f in FAMILIES]
    out += [(f"query.id.{q}_s", "s") for q in IDS]
    return out


def _resolve(modname: str, attr: str):
    import importlib

    owner = importlib.import_module(modname)
    *path, leaf = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, leaf


class Tracer:
    """Spans and counters of the traced units of a run.

    ``active`` switches tracing on and off between units, so a traced
    run can interleave untraced and traced units and report the
    tracing overhead from the same process."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.windows: list[tuple[str, float, float]] = []
        self.unit_s: list[tuple[bool, str, float]] = []
        self.units = 0
        self.attempts = 0
        self.drains = 0
        self.drain_runs: list[tuple[str, str]] = []
        self.progress: list[tuple[str, dict]] = []
        self.bytes: dict[str, int] = defaultdict(int)
        self.changed_rows = 0
        self._unit_t0 = time.perf_counter()
        self._stream_label = None
        self._originals = {}
        self._listener = None
        self._count_attempts()

    # ------------------------------------------------------------ patches

    def _count_attempts(self) -> None:
        """Always on: wrap the drive loop so every ``start()`` it
        makes is counted (and, while tracing, its run id is kept for
        the listener's phase attribution)."""
        import importlib

        drive = importlib.import_module(f"{P}.streaming.drive")
        orig = drive.run_stream_to_completion
        tracer = self

        @functools.wraps(orig)
        def run_stream_to_completion(start, *args, **kwargs):
            def counted_start():
                tracer.attempts += 1
                q = start()
                if tracer.active:
                    tracer.drain_runs.append((tracer._stream_label, str(q.runId)))
                return q

            tracer.drains += 1
            return orig(counted_start, *args, **kwargs)

        drive.run_stream_to_completion = run_stream_to_completion

    def _timed(self, fn, name: str):
        tracer = self
        is_txlog_write = name in TXLOG_WRITES

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = set(os.listdir(args[0].path)) if (
                is_txlog_write and os.path.isdir(args[0].path)) else set()
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.spans[name].append(time.perf_counter() - t0)
                if is_txlog_write:
                    root = args[0].path
                    new = set(os.listdir(root)) - before
                    tracer.bytes["txlog"] += sum(
                        dir_bytes(os.path.join(root, d)) for d in new
                    )

        return wrapper

    def _patch(self, on: bool) -> None:
        for modname, attr, name in WRAPPED:
            owner, leaf = _resolve(modname, attr)
            if on:
                orig = owner.__dict__[leaf]
                self._originals[(modname, attr)] = orig
                setattr(owner, leaf, self._timed(orig, name))
            else:
                setattr(owner, leaf, self._originals.pop((modname, attr)))

    def listen(self) -> None:
        """Register the streaming-query listener for the whole traced
        run; :meth:`unlisten` removes it once every traced drain's
        progress events have arrived."""
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class _Phases(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append((str(p.runId), dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Phases()
        self.spark.streams.addListener(self._listener)

    def unlisten(self, timeout: float = 10.0) -> int:
        """Wait until every traced drain's run id has reported progress
        (listener events arrive asynchronously), then remove the
        listener.  Returns the number of drains still unreported."""
        want = {r for _, r in self.drain_runs}
        deadline = time.time() + timeout
        while want - {r for r, _ in self.progress} and time.time() < deadline:
            time.sleep(0.1)
        self.spark.streams.removeListener(self._listener)
        self._listener = None
        return len(want - {r for r, _ in self.progress})

    def set_active(self, on: bool) -> None:
        if on != self.active:
            self._patch(on)
            self.active = on

    # ------------------------------------------------------------ recording

    @contextlib.contextmanager
    def op(self, label: str):
        """One workload operation: its Spark jobs run under job group
        ``label`` and its wall window attributes event-log jobs
        (stream jobs run outside the caller's group) to it."""
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(label, label)
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((label, t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)

    @contextlib.contextmanager
    def stream(self, label: str):
        self._stream_label = label
        with self.span(f"stream.{label}_drain_s"):
            yield
        self._stream_label = None

    @contextlib.contextmanager
    def table_growth(self, sizes, changed_rows: int):
        """Bytes the enclosed writes add to each table, per changed row;
        ``sizes()`` returns the tables' on-disk bytes."""
        if not self.active:
            yield
            return
        before = sizes()
        yield
        for name, b0, b1 in zip(("delta", "iceberg"), before, sizes()):
            self.bytes[name] += b1 - b0
        self.changed_rows += changed_rows

    def add(self, name: str, value: float) -> None:
        """Record a value measured by the workload itself."""
        if self.active:
            self.spans[name].append(value)

    def count_unit(self, kind: str = "round") -> None:
        """Close one unit (request / round) of ``kind`` and record its
        wall time under the current tracing state."""
        now = time.perf_counter()
        self.unit_s.append((self.active, kind, now - self._unit_t0))
        self._unit_t0 = now
        if self.active:
            self.units += 1

    def start_unit(self) -> None:
        self._unit_t0 = time.perf_counter()

    # ------------------------------------------------------------ report

    def per_layer(self, workload, event_log: str | None) -> dict[str, float]:
        """Every metric of :func:`layer_names`; a layer the workload
        does not reach reads 0."""
        n = max(self.units, 1)
        out = {name: 0.0 for name, _ in layer_names()}
        out["failed_frac"] = workload.failed / max(workload.attempted, 1)
        out["trace.overhead_pct"] = self._overhead_pct()
        for name, vals in self.spans.items():
            if name.endswith("_ms"):
                out[name] = 1000 * sum(vals) / len(vals)
            else:
                out[name] = sum(vals) / n
        out["stream.drain_attempts"] = float(self.attempts)
        out["stream.spawn_retries"] = float(self.attempts - self.drains)
        if self.bytes["txlog"]:
            out["txlog.bytes_written_per_op"] = self.bytes["txlog"] / n
        if self.changed_rows:
            for f in ("delta", "iceberg"):
                out[f"{f}.bytes_written_per_changed_row"] = (
                    self.bytes[f] / self.changed_rows
                )
        self._stream_phases(out, n)
        if event_log:
            out.update(_reduce_event_log(event_log, self.windows, n))
        return out

    def _overhead_pct(self) -> float:
        """Mean ratio of each traced unit's time to the mean untraced
        time of units of its kind, as a percentage above 1."""
        plain: dict[str, list[float]] = defaultdict(list)
        for active, kind, dt in self.unit_s:
            if not active:
                plain[kind].append(dt)
        ratios = [
            dt / (sum(plain[kind]) / len(plain[kind]))
            for active, kind, dt in self.unit_s if active and plain[kind]
        ]
        return 100 * (sum(ratios) / len(ratios) - 1) if ratios else 0.0

    def _stream_phases(self, out: dict, n: int) -> None:
        runs = {r for _, r in self.drain_runs}
        totals: dict[str, float] = defaultdict(float)
        for run_id, dur in self.progress:
            if run_id in runs:
                for p in PHASES:
                    totals[p] += float(dur.get(p, 0))
        for p in PHASES:
            out[f"stream.phase.{p}_ms"] = totals[p] / n
        if runs:
            drained = sum(
                sum(self.spans.get(f"stream.{s}_drain_s", []))
                for s in ("ingest", "replicate")
            )
            out["stream.outside_batch_s"] = (
                drained - totals["triggerExecution"] / 1000
            ) / n


# ------------------------------------------------------------ event log


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _reduce_event_log(path: str, windows, n: int) -> dict[str, float]:
    """Jobs, stages, tasks and executor counters of the jobs submitted
    inside a traced operation's window, per unit, plus the driver time
    outside any job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_run: set[int] = set()
    tasks = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"t0": ev["Submission Time"] / 1000, "t1": None}
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                stages_run.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = tasks[ev["Stage ID"]]
                t["n"] += 1
                t["run"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                t["sr"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                t["sw"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                t["spill"] += m.get("Disk Bytes Spilled", 0)

    def in_window(job, w):
        # event-log times are whole milliseconds
        return w[1] - 0.001 <= job["t0"] <= w[2]

    per_kind = defaultdict(list)
    picked: set[int] = set()
    outside = 0.0
    for w in windows:
        mine = [j for j, job in jobs.items() if in_window(job, w)]
        picked.update(mine)
        per_kind[w[0].split(":")[1] if w[0].startswith("api:") else "unit"].append(
            len(mine))
        spans = [
            (jobs[j]["t0"], min(jobs[j]["t1"] or w[2], w[2])) for j in mine
        ]
        outside += (w[2] - w[1]) - _union_s(spans)
    stage_ids = [s for s, j in stage_job.items() if j in picked]
    agg = defaultdict(float)
    for s in stage_ids:
        for k, v in tasks.get(s, {}).items():
            agg[k] += v
    mb = 1024 * 1024
    out = {
        "spark.jobs": len(picked) / n,
        "spark.stages": sum(s in stages_run for s in stage_ids) / n,
        "spark.tasks": agg["n"] / n,
        "driver.outside_jobs_s": outside / n,
        "spark.executor_run_s": agg["run"] / n,
        "spark.executor_cpu_s": agg["cpu"] / n,
        "spark.gc_s": agg["gc"] / n,
        "spark.shuffle_read_mb": agg["sr"] / mb / n,
        "spark.shuffle_write_mb": agg["sw"] / mb / n,
        "spark.spill_mb": agg["spill"] / mb / n,
    }
    reads = per_kind.get("read", [])
    writes = [c for k in ("create", "update", "delete", "status_update")
              for c in per_kind.get(k, [])]
    if reads:
        out["spark.jobs_per_op.read"] = median(reads)
    if writes:
        out["spark.jobs_per_op.write"] = median(writes)
    return out
