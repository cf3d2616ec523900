"""Span tracing from outside the package.

``Tracer.install`` replaces the public functions of each layer with a
wrapper that records a span (name, start, end, thread, parent) and sets
a Spark job group for the calls it makes.  The package itself is not
touched: callers look these functions up as module attributes at call
time, so the wrapper sees every call.

Spans stay in memory; ``summarize`` turns them into per-layer self
time, call counts, and Spark jobs/stages/tasks/bytes.  Self time is a
span's duration minus the part covered by nested spans on its thread.
The controller runs tables on a thread pool whose threads do not
inherit the main thread's job group, which is why every wrapper sets
the group itself, on its own thread.
"""

from __future__ import annotations

import calendar
import itertools
import json
import statistics
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import cdc
from aws_big_data_blog_dmscdc_walkthrough_spark.pipeline import controller
from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
    catalog,
    lake_writer,
    landing,
    manifest,
)
from aws_big_data_blog_dmscdc_walkthrough_spark.state import store
from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import cdc_stream

GROUP_KEY = "spark.jobGroup.id"

# (owner, attribute, span name).  A function bound under two names (the
# stream imports prepare_dms_batch by name) is wrapped at both places.
TRACED = [
    (controller, "run_once", "controller.run_once"),
    (controller, "process_table", "controller.process_table"),
    (controller, "prepare_dms_batch", "controller.prepare_dms_batch"),
    (cdc_stream, "prepare_dms_batch", "controller.prepare_dms_batch"),
    (landing, "discover_tables", "landing.discover_tables"),
    (landing, "file_mtime", "landing.file_mtime"),
    (landing, "read_incremental", "landing.read_incremental"),
    (landing, "read_initial", "landing.read_initial"),
    (store.JsonStateStore, "put", "store.put"),
    (store.JsonStateStore, "get_or_create", "store.get_or_create"),
    (cdc, "latest_changes", "cdc.latest_changes"),
    (cdc, "merge_parts", "cdc.merge_parts"),
    (cdc, "apply_changes", "cdc.apply_changes"),
    (lake_writer, "write_initial", "lake_writer.write_initial"),
    (lake_writer, "merge_incremental", "lake_writer.merge_incremental"),
    (lake_writer, "merge_on_read_incremental", "lake_writer.merge_on_read_incremental"),
    (lake_writer, "compact_table", "lake_writer.compact_table"),
    (lake_writer, "target_exists", "lake_writer.target_exists"),
    (manifest, "commit_manifest", "manifest.commit_manifest"),
    (manifest, "list_data_files", "manifest.list_data_files"),
    (manifest, "read_manifest", "manifest.read_manifest"),
    (manifest, "stats_for_commit", "manifest.stats_for_commit"),
    (manifest, "read_table", "manifest.read_table"),
    (manifest, "read_table_with_positions", "manifest.read_table_with_positions"),
    (catalog, "register_table", "catalog.register_table"),
    (cdc_stream, "start_cdc_stream", "cdc_stream.start_cdc_stream"),
]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    window: int = -1  # index of the timed pass it ran in, -1 outside


class Tracer:
    """Records spans while ``window`` >= 0 (inside a timed pass)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.window = -1
        self.windows: list[tuple[str, float, float]] = []  # (label, start, end)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- wrapping -------------------------------------------------------
    def install(self) -> None:
        for owner, attr, name in TRACED:
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name))
            self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            if tracer.window < 0:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def span(self, name: str):
        return _SpanScope(self, name)

    # -- timed windows --------------------------------------------------
    def begin(self, label: str) -> None:
        self.window = len(self.windows)
        self.windows.append((label, time.perf_counter(), 0.0))

    def end(self) -> None:
        label, start, _ = self.windows[self.window]
        self.windows[self.window] = (label, start, time.perf_counter())
        self.window = -1

    # -- Spark accounting -----------------------------------------------
    def spark_stats(self) -> tuple[dict, dict]:
        """(job id -> job record, stage id -> stage record) from the UI
        REST API; the traced session runs with the UI on and high
        job/stage retention."""
        base = self.sc.uiWebUrl
        app = self.sc.applicationId

        def get(endpoint):
            url = f"{base}/api/v1/applications/{app}/{endpoint}"
            with urllib.request.urlopen(url, timeout=60) as resp:
                return json.load(resp)

        jobs = {j["jobId"]: j for j in get("jobs")}
        stages = {}
        for s in get("stages"):
            if s.get("status") == "COMPLETE":
                stages[s["stageId"]] = s
        return jobs, stages


class _SpanScope:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        parent = stack[-1].id if stack else None
        span = Span(next(t._ids), self.name, parent, threading.get_ident(),
                    time.perf_counter(), window=t.window)
        self.prev_group = t.sc.getLocalProperty(GROUP_KEY)
        t.sc.setLocalProperty(GROUP_KEY, f"pb-{span.id}")
        stack.append(span)
        self.span = span
        return span

    def __exit__(self, *exc):
        t = self.tracer
        self.span.end = time.perf_counter()
        t._local.stack.pop()
        t.sc.setLocalProperty(GROUP_KEY, self.prev_group)
        with t._lock:
            t.spans.append(self.span)
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its direct children's
    intervals (children are the spans on the same thread that name it
    as parent)."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (s.end - s.start) - covered
    return out


def summarize(tracer: Tracer, jobs: dict, stages: dict, label: str) -> dict:
    """Per-layer totals over the windows labelled ``label``: calls, wall
    (summed over threads), self time, and the Spark jobs/stages/tasks/
    bytes of the job groups the layer's spans set (the innermost span
    owns a job)."""
    selft = self_times(tracer.spans)
    by_group = defaultdict(list)
    for j in jobs.values():
        group = j.get("jobGroup") or ""
        if group.startswith("pb-"):
            by_group[int(group[3:])].append(j)
    layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        if s.window < 0 or tracer.windows[s.window][0] != label:
            continue
        row = layers[s.name]
        row["calls"] += 1
        row["wall_s"] += s.end - s.start
        row["self_s"] += selft[s.id]
        for j in by_group.get(s.id, ()):
            _add_job(row, j, stages)
    return {name: dict(row) for name, row in sorted(layers.items())}


def _add_job(row, job: dict, stages: dict) -> None:
    row["jobs"] += 1
    for sid in job.get("stageIds", ()):
        st = stages.get(sid)
        if st is None:  # skipped: its shuffle output was reused
            continue
        row["stages"] += 1
        row["tasks"] += st.get("numCompleteTasks", 0)
        row["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
        row["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        row["output_bytes"] += st.get("outputBytes", 0)


def window_totals(tracer: Tracer, jobs: dict, stages: dict, label: str) -> dict:
    """Spark totals over every job submitted inside a window labelled
    ``label``, whether or not a traced layer owns it."""
    wall0 = time.time() - time.perf_counter()  # perf_counter -> epoch
    bounds = [(a + wall0, b + wall0) for lab, a, b in tracer.windows if lab == label]
    row: dict = defaultdict(float)
    for j in jobs.values():
        sub = _epoch(j.get("submissionTime"))
        if sub is not None and any(a <= sub <= b for a, b in bounds):
            _add_job(row, j, stages)
    return dict(row)


def _epoch(stamp: str | None) -> float | None:
    """Parse the REST API's ``2026-01-01T00:00:00.000GMT`` stamps."""
    if not stamp:
        return None
    head, _, rest = stamp.partition(".")
    millis = int(rest[:3] or 0)
    secs = calendar.timegm(time.strptime(head, "%Y-%m-%dT%H:%M:%S"))
    return secs + millis / 1000.0


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run

LANDING = ("landing.discover_tables", "landing.file_mtime",
           "landing.read_incremental", "landing.read_initial")
MANIFEST_CATALOG = ("manifest.commit_manifest", "manifest.list_data_files",
                    "manifest.read_manifest", "manifest.stats_for_commit",
                    "manifest.read_table", "manifest.read_table_with_positions",
                    "catalog.register_table")


def per_layer_metrics(tracer: Tracer, loop, ledger, shape, pass_s: list[float],
                      traced: list[bool], landed_files: list[int],
                      get_spark_s: float) -> tuple[dict, dict]:
    """(metric name -> (value, unit), span summary) for a traced run.

    Per-pass values are means over the traced passes (every other timed
    pass is traced; the untraced ones give the tracing overhead).
    """
    jobs, stages = tracer.spark_stats()
    layers = summarize(tracer, jobs, stages, "pass")
    initial = summarize(tracer, jobs, stages, "initial")
    totals = window_totals(tracer, jobs, stages, "pass")
    on = [p for p, t in zip(pass_s, traced) if t]
    off = [p for p, t in zip(pass_s, traced) if not t]
    n = len(on)

    def per_pass(layer: str, field: str = "wall_s") -> float:
        return layers.get(layer, {}).get(field, 0.0) / n

    def mean(values) -> float:
        return float(statistics.fmean(values)) if values else 0.0

    ledger_on = [r for r, t in zip(ledger.per_pass[1:], traced) if t]
    tables = ledger.table_state()
    commits = per_pass("manifest.commit_manifest", "calls")
    run_once = layers.get("controller.run_once", {}).get("wall_s", 0.0)
    busy = layers.get("controller.process_table", {}).get("wall_s", 0.0)
    # the stream loop keeps one progress list per drain, the initial
    # load's first: the timed passes are the last len(traced)
    progress = getattr(loop, "progress", [])[-len(traced):]
    drains = [pr for pr, t in zip(progress, traced) if t]
    batches = [[b for b in d if b.get("numInputRows", 0) > 0] for d in drains]
    triggers = [b["durationMs"].get("triggerExecution", 0) / 1000.0
                for d in batches for b in d]
    m = {
        "controller.table_busy_s": (busy / n, "s"),
        "controller.table_concurrency": (busy / run_once if run_once else 0.0, "ratio"),
        "landing.discover_s": (per_pass("landing.discover_tables"), "s"),
        "landing.files_listed": (mean([c for c, t in zip(landed_files, traced) if t]), "count"),
        "landing.file_mtime_calls": (per_pass("landing.file_mtime", "calls"), "count"),
        "landing.read_plan_s": (per_pass("landing.read_incremental", "self_s")
                                + per_pass("controller.prepare_dms_batch", "self_s"), "s"),
        "store.put_s": (per_pass("store.put"), "s"),
        "store.put_calls": (per_pass("store.put", "calls"), "count"),
        "lake_writer.merge_self_s": (per_pass("lake_writer.merge_incremental", "self_s"), "s"),
        "lake_writer.write_initial_s": (
            initial.get("lake_writer.write_initial", {}).get("wall_s", 0.0), "s"),
        "lake_writer.mor_merge_self_s": (
            per_pass("lake_writer.merge_on_read_incremental", "self_s"), "s"),
        "lake_writer.compact_s": (per_pass("lake_writer.compact_table"), "s"),
        "lake_writer.target_exists_calls": (per_pass("lake_writer.target_exists", "calls"), "count"),
        "lake_writer.bytes_written": (mean([r["bytes_written"] for r in ledger_on]), "bytes"),
        "lake_writer.files_added": (mean([r["files_added"] for r in ledger_on]), "count"),
        "lake_writer.files_removed": (mean([r["files_removed"] for r in ledger_on]), "count"),
        "lake_writer.live_files_end": (mean([t["live_files"] for t in tables]), "count"),
        "manifest.commit_s": (per_pass("manifest.commit_manifest"), "s"),
        "manifest.list_data_files_s": (per_pass("manifest.list_data_files"), "s"),
        "manifest.list_data_files_calls": (per_pass("manifest.list_data_files", "calls"), "count"),
        "manifest.read_manifest_calls": (per_pass("manifest.read_manifest", "calls"), "count"),
        "manifest.read_table_s": (per_pass("manifest.read_table"), "s"),
        "manifest.dv_files_live": (float(sum(t["dv_files_live"] for t in tables)), "count"),
        "manifest.versions": (mean([t["versions"] for t in tables]), "count"),
        "catalog.register_s": (per_pass("catalog.register_table"), "s"),
        "cdc_stream.drain_s": (mean(on) if shape.stream else 0.0, "s"),
        "cdc_stream.batches_per_drain": (mean([len(b) for b in batches]), "count"),
        "cdc_stream.trigger_s": (mean(triggers), "s"),
        "session.get_spark_s": (get_spark_s, "s"),
        "spark.jobs": (totals.get("jobs", 0.0) / n, "count"),
        "spark.stages": (totals.get("stages", 0.0) / n, "count"),
        "spark.tasks": (totals.get("tasks", 0.0) / n, "count"),
        "spark.shuffle_read_bytes": (totals.get("shuffle_read_bytes", 0.0) / n, "bytes"),
        "spark.shuffle_write_bytes": (totals.get("shuffle_write_bytes", 0.0) / n, "bytes"),
        "spark.output_bytes": (totals.get("output_bytes", 0.0) / n, "bytes"),
        "spark.jobs_per_commit": (totals.get("jobs", 0.0) / n / commits if commits else 0.0, "count"),
        "trace.pass_s_p50": (statistics.median(on), "s"),
        "trace.overhead_s": (statistics.median(on) - statistics.median(off), "s"),
    }
    # run_once's own thread only waits for the table pool: leave it out
    busy_all = sum(r["self_s"] for k, r in layers.items() if k != "controller.run_once")
    shares = {
        "pass_wall_s": mean(on),
        "busy_s": busy_all / n,
        "merge_self_share": per_pass("lake_writer.merge_incremental", "self_s") * n / busy_all
        if busy_all else 0.0,
        "manifest_catalog_landing_share": sum(
            layers.get(k, {}).get("self_s", 0.0) for k in LANDING + MANIFEST_CATALOG
        ) / busy_all if busy_all else 0.0,
    }
    summary = {
        "traced_passes": n,
        "per_pass": {k: {f: v / n for f, v in row.items()} for k, row in layers.items()},
        "initial_load": initial,
        "spark_per_pass": {k: v / n for k, v in totals.items()},
        "shares_of_busy": shares,
        "pass_s_traced": on,
        "pass_s_untraced": off,
    }
    return m, summary
