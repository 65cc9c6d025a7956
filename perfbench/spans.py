"""Call timing, spans and Spark event-log attribution for the benchmark.

Everything here wraps the engine from the outside: bound methods on
the benchmark's own ``LakeTable`` / ``MetaStore`` handles are replaced
by timing wrappers, so the engine code itself is never edited.

- ``Recorder`` keeps the per-call records every run needs (merge wall
  time and commit record, read latencies, failures).
- With tracing on it also keeps spans (name, start, end, parent, run
  id) in memory, tags every wrapped call's Spark jobs with a job group
  so the event log can be attributed, and writes the spans at exit.
- ``parse_event_log`` folds a Spark JSON event log into per-group
  stage/task totals.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Recorder:
    """Per-run call log. ``traced`` switches spans and job groups on;
    the plain call timings are always kept (the end-to-end metrics
    come from them)."""

    def __init__(self, run_id: str, traced: bool, sc=None):
        self.run_id = run_id
        self.traced = traced
        self.sc = sc
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.spans: list[Span] = []
        self.calls: dict[str, list[dict]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # fallback parent for spans opened in worker threads that have
        # no span of their own open (the runner's pipeline pool)
        self.ambient: int | None = None

    # ----------------------------------------------------------- records
    def add(self, series: str, **rec) -> None:
        with self._lock:
            self.calls.setdefault(series, []).append(rec)

    def count_op(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(what)

    def values(self, series: str, key: str) -> list:
        return [r[key] for r in self.calls.get(series, []) if r.get(key) is not None]

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, ambient: bool = False, **attrs):
        """Time a block. Traced runs also record a span and, when
        ``group`` is given, route the block's Spark jobs to job group
        ``group`` (restored afterwards, so nested calls such as the
        inline compaction inside a merge get their own group)."""
        if not self.traced:
            yield None
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else self.ambient
        prev_group = None
        if group is not None and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, f"perfbench {name} {group}")
        stack.append(sid)
        if ambient:
            self.ambient = sid
        t0 = time.time()
        try:
            yield sid
        finally:
            t1 = time.time()
            stack.pop()
            if ambient:
                self.ambient = None
            if group is not None and self.sc is not None:
                if prev_group is not None:
                    self.sc.setJobGroup(prev_group, f"perfbench {prev_group}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, self.run_id, attrs))

    def group_id(self, prefix: str) -> str:
        return f"{prefix}.{next(self._ids)}"

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------- wrappers
def wrap_table(table, rec: Recorder) -> None:
    """Replace ``merge_batch`` and ``compact`` on this handle (instance
    attributes shadow the class methods, so the runner's calls and the
    inline auto-compaction inside ``merge_batch`` go through them) and
    time ``commit_delta`` / ``read_current`` on its metadata store."""
    from cityofphiladelphia_databridge_etl_tools_spark.lake.manifest import (
        ConcurrentCommitError,
    )
    from cityofphiladelphia_databridge_etl_tools_spark.lake.table import BASE

    merge, compact = table.merge_batch, table.compact
    store = table.store
    commit_delta, read_current = store.commit_delta, store.read_current

    def merge_batch(changes, batch_id, *a, **kw):
        t0 = time.time()
        ok, out = False, None
        try:
            with rec.span("lake.table.merge_batch", group=rec.group_id("merge"), batch=batch_id):
                out = merge(changes, batch_id, *a, **kw)
            ok = True
            return out
        finally:
            t1 = time.time()
            rec.count_op(ok, f"merge {batch_id}")
            rec.add(
                "merge", batch_id=batch_id, start=t0, end=t1, wall=t1 - t0, ok=ok,
                replay=ok and out is None,
                committed_at=getattr(out, "committed_at", None),
                rows_in=getattr(out, "rows_in", None),
                rows_out=getattr(out, "rows_deduped", None),
                touched=len(out.touched_buckets) if out is not None else None,
            )

    def compact_(*a, **kw):
        t0 = time.time()
        buckets = kw.get("buckets", a[0] if a else None)
        if buckets is None:  # compact() folds every bucket that is not one base file
            buckets = [b for b, es in table.manifest.bucket_files.items()
                       if not (len(es) == 1 and es[0][2] == BASE)]
        ok = False
        try:
            with rec.span("lake.table.compact", group=rec.group_id("compact")):
                compact(*a, **kw)
            ok = True
        finally:
            t1 = time.time()
            rec.add("compact", start=t0, end=t1, wall=t1 - t0, ok=ok,
                    buckets=len(buckets))

    def commit_delta_(parent, delta):
        t0 = time.time()
        try:
            with rec.span("lake.manifest.commit_delta"):
                return commit_delta(parent, delta)
        except ConcurrentCommitError:
            rec.add("cas_conflict", at=t0)
            raise
        finally:
            rec.add("commit_delta", wall=time.time() - t0)

    def read_current_():
        t0 = time.time()
        try:
            return read_current()
        finally:
            rec.add("read_current", wall=time.time() - t0)

    table.merge_batch, table.compact = merge_batch, compact_
    if rec.traced:
        store.commit_delta, store.read_current = commit_delta_, read_current_


def wrap_runner(runner, rec: Recorder) -> None:
    run_until = runner.run_until

    def run_until_(until_lsn, *a, **kw):
        t0 = time.time()
        try:
            with rec.span("streaming.runner.run_until", ambient=True, until=until_lsn):
                return run_until(until_lsn, *a, **kw)
        finally:
            rec.add("run_until", start=t0, wall=time.time() - t0)

    runner.run_until = run_until_


# -------------------------------------------------------------- event log
def _task_metrics(ev: dict) -> dict:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    info = ev.get("Task Info") or {}
    return {
        "run_ms": tm.get("Executor Run Time", 0),
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "wall_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
    }


def parse_event_log(path: str) -> dict:
    """Per-stage totals tagged with the job group of the job that ran
    them: ``{"jobs": {group: n_jobs}, "stages": [stage dict, ...]}``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    stages: dict[int, dict] = {}
    # a rolling (v2) log is a directory of numbered event files
    files = sorted(
        (os.path.join(path, n) for n in os.listdir(path) if n.startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) if os.path.isdir(path) else [path]
    for fp in files:
        with open(fp) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    st = stages.setdefault(sid, {"id": sid, "tasks": []})
                    st["tasks"].append(_task_metrics(ev))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], {"id": info["Stage ID"], "tasks": []})
                    st["wall_s"] = (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1e3
    out = []
    for sid, st in stages.items():
        tasks = st["tasks"]
        if not tasks:
            continue
        out.append({
            "id": sid,
            "group": stage_group.get(sid, ""),
            "wall_s": st.get("wall_s", 0.0),
            "n_tasks": len(tasks),
            "task_ms": sorted(t["run_ms"] for t in tasks),
            **{k: sum(t[k] for t in tasks) for k in ("run_ms", "cpu_ns", "spill", "shuffle_read", "shuffle_write")},
        })
    return {"jobs": jobs, "stages": out}


def find_event_log(log_dir: str) -> str | None:
    """The (single, finished) application log written under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if not names:
        return None
    return os.path.join(log_dir, max(names, key=lambda n: os.path.getmtime(os.path.join(log_dir, n))))
