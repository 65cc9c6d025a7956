"""The benchmark's workloads: CDC backfill and live tail with a reader.
Each one stages seeded ``changegen`` input, sets up
a table (several times, keeping the median), runs its measured loop,
passes the replay-oracle gate and reports raw measurements; ``run.py``
turns them into metrics.

Shared shape of a run:

1. start the Spark session (``local[nproc]``);
2. stage the input windows as parquet;
3. set the table up ``SETUP_REPS`` times (fresh directory each time,
   with its pre-load); the last one is kept, warmed up with
   ``warm_windows`` windows applied the way the measured loop applies
   them (the JIT's first passes stay off the clock) and compacted;
4. the measured loop (``--seconds``);
5. terminal compaction, then, in traced runs of the closed loop, a
   fixed read probe (the tail workload reads concurrently instead);
6. the correctness gate, off the clock.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from pyspark.sql import functions as F

from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA
from cityofphiladelphia_databridge_etl_tools_spark.lake import CompactionScheduler, LakeTable
from cityofphiladelphia_databridge_etl_tools_spark.streaming.runner import LsnWindowRunner

import common as C
from spans import Recorder, find_event_log, parse_event_log, wrap_runner, wrap_table

SETUP_REPS = 3
# rounds of the traced read probe after the closed loop's terminal
# compaction: three point reads, one change-feed read and one full count
# each
PROBE_ROUNDS = 6

WORKLOADS = {
    "cdc_backfill": {
        "loop": "closed",
        "pipeline_depth": 2,
        "preload": 10_000,
        "window": 50_000,
        # one pipelined pair, then a full compaction
        "warm_windows": 2,
        # fixed work: windows per second of --seconds, so that the clock
        # (windows + drain) lasts about --seconds on a 4-vCPU host and a
        # run neither stops mid-chunk nor runs out of staged input
        "windows_per_s": 0.67,
        "n_buckets": 16,
        "gen": {"n_convs": 50_000, "hot_frac": 0.2, "n_hot": 3, "p_delete": 0.05, "ts_jitter_s": 120},
        # the background scheduler owns maintenance; merges never fold inline
        "merge_kwargs": {"compact_threshold": 10**9},
        # the scheduler starts folding after the clock's second pair, so
        # it runs beside most merges in every run; starting mid-clock, it
        # split the merges into a fast and a slow half and the median
        # jumped between them from run to run
        "scheduler": {"threshold": 2, "interval_s": 0.5},
    },
    "cdc_tail_serve": {
        "loop": "open",
        "window": 2_000,
        "period_s": 1.5,
        "n_buckets": 4,
        "preload": 25_000,
        # back to back beside the reader, one of them replayed
        "warm_windows": 5,
        "duplicate_every": 10,
        "replay_every": 5,
        "reader_mix": ["key", "feed", "key", "snap"],
        "gen": {"n_convs": 50_000, "hot_frac": 0.2, "n_hot": 3, "p_delete": 0.05, "ts_jitter_s": 120},
    },
}


class Run:
    """One benchmark run: session, recorder, raw measurements."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.cores = os.cpu_count() or 1
        self.m: dict = {}
        self.checks: list[tuple[str, bool, str]] = []
        # per replay: windows it applied (0 when merge_batch returned None)
        self.replays: list[int] = []
        self.due: dict[str, float] = {}
        self.event_log_dir = os.path.join(work, "eventlog") if traced else None
        self.spark = None
        self.rec: Recorder | None = None

    # ---------------------------------------------------------- plumbing
    def gen(self) -> dict:
        return dict(self.cfg["gen"], seed=self.seed)

    def new_table(self, path: str) -> LakeTable:
        C.rmtree(path)
        return LakeTable.create(self.spark, path, TRANSCRIPT_SCHEMA, C.KEYS, C.ORDER,
                                n_buckets=self.cfg["n_buckets"])

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.checks.append((what, bool(ok), detail))

    def read_op(self, kind: str, table: LakeTable, make, act):
        """One timed read: ``make()`` plans the DataFrame, ``act(df)``
        runs it. Failures are counted, never raised."""
        rec = self.rec
        gid = rec.group_id(f"read.{kind}")
        t0 = time.time()
        try:
            with rec.span(f"read.{kind}", group=gid):
                df = make()
                t1 = time.time()
                extra = {}
                if rec.traced:
                    extra = {
                        "files_planned": len(df.inputFiles()),
                        "files_total": sum(len(es) for es in table.manifest.bucket_files.values()),
                        "resolve_share": C.resolve_bucket_share(table),
                    }
                t2 = time.time()  # the traced planning probes stay off both times
                out = act(df)
            t3 = time.time()
        except Exception as e:  # noqa: BLE001 — a failed read is counted, the run goes on
            rec.count_op(False, f"read {kind}: {e!r}"[:300])
            return None
        rec.count_op(True)
        rec.add("read", kind=kind, start=t0, plan=t1 - t0, exec=t3 - t2, wall=t1 - t0 + t3 - t2, **extra)
        return out

    def point_read(self, table, key):
        return self.read_op("key", table, lambda: table.read_key(key), lambda df: df.collect())

    def feed_read(self, table, cursor: int):
        def act(df):
            r = df.agg(F.count(F.lit(1)).alias("n"), F.max("lsn").alias("hi")).collect()[0]
            return int(r["n"]), (int(r["hi"]) if r["hi"] is not None else cursor)
        out = self.read_op("feed", table, lambda: table.changes_since(cursor), act)
        if out is not None:
            self.rec.add("feed_rows", rows=out[0])
        return out

    def snapshot_read(self, table):
        return self.read_op("snap", table, lambda: table.read(), lambda df: df.count())

    # ------------------------------------------------------------ phases
    def stage(self) -> None:
        """The pre-load window, the warm-up windows, then the measured
        windows."""
        cfg = self.cfg
        stage_dir = os.path.join(self.work, "stage")
        C.rmtree(stage_dir)
        if cfg["loop"] == "open":
            n = cfg["warm_windows"] + int(self.seconds / cfg["period_s"]) + 2
        else:
            n = cfg["warm_windows"] + self.backfill_windows()
        t0 = time.time()
        self.staged = C.stage_windows(self.spark, stage_dir, cfg["preload"], n, cfg["window"], **self.gen())
        self.keys = C.sample_keys(self.staged, 64)
        self.m["stage_s"] = time.time() - t0

    def prep(self, path: str) -> LakeTable:
        """Create the table and apply the pre-load window (the tail
        workload also registers the reader's cursor)."""
        table = self.new_table(path)
        pre = self.cfg["preload"]
        LsnWindowRunner(table, C.window_source(self.spark, self.staged),
                        events_per_batch=pre).run_until(pre)
        if self.cfg["loop"] == "open":
            table.register_cursor("perfbench-reader", pre)
        self.cursor = pre
        return table

    def warm_up(self, table: LakeTable) -> None:
        """The first ``warm_windows`` staged windows, applied the way the
        measured loop applies them (not recorded; the tail's reader runs
        beside them), then a full compaction. The clock starts on the
        compacted table at the lsn after them (``lsn0``)."""
        cfg, w = self.cfg, self.cfg["window"]
        pre = cfg["preload"]
        self.lsn0 = pre + cfg["warm_windows"] * w
        if cfg["loop"] == "open":
            self.rec = Recorder("warm-up", False)
            runner = LsnWindowRunner(
                table, C.window_source(self.spark, self.staged, cfg["duplicate_every"]), events_per_batch=w)
            self.tail_phase(table, runner, 0, cfg["warm_windows"], 0.0)
        else:
            runner = LsnWindowRunner(table, C.window_source(self.spark, self.staged),
                                     events_per_batch=w, merge_kwargs=cfg["merge_kwargs"])
            runner.run_until(self.lsn0, pipeline_depth=cfg["pipeline_depth"])
            # one read of each kind for the traced read probe
            table.read_key(self.keys[0]).collect()
            table.changes_since(pre - 1).count()
            table.read().count()
        table.compact()

    def setup(self) -> LakeTable:
        t0 = time.time()
        self.spark = C.start_session(self.cores, self.work, f"perfbench-{self.name}", self.event_log_dir)
        self.m["session_start_s"] = time.time() - t0
        self.m["cpu_control_s"] = C.cpu_control()
        self.stage()
        times = []
        path = os.path.join(self.work, "table")
        for _ in range(SETUP_REPS):
            t0 = time.time()
            table = self.prep(path)
            times.append(time.time() - t0)
        t0 = time.time()
        self.warm_up(table)
        warm = time.time() - t0
        self.m["prep_s"] = times
        self.m["setup_s"] = self.m["session_start_s"] + self.m["stage_s"] + statistics.median(times) + warm
        self.m["warmup_s"] = times[0] - statistics.median(times) + warm
        self.rec = Recorder(f"{self.name}-{self.seed}-{int(time.time())}", self.traced, self.spark.sparkContext)
        wrap_table(table, self.rec)
        self.m["gc0_s"] = C.jvm_stats(self.spark)["gc_s"]
        return table

    # ----------------------------------------------------- measured loops
    def backfill_windows(self) -> int:
        depth = self.cfg["pipeline_depth"]
        return depth * max(1, round(self.seconds * self.cfg["windows_per_s"] / depth))

    def closed_loop(self, table: LakeTable) -> None:
        cfg, rec = self.cfg, self.rec
        w, depth = cfg["window"], cfg["pipeline_depth"]
        end = self.lsn0 + self.backfill_windows() * w
        runner = LsnWindowRunner(table, C.window_source(self.spark, self.staged),
                                 events_per_batch=w, merge_kwargs=cfg["merge_kwargs"])
        wrap_runner(runner, rec)
        sched = CompactionScheduler(table, **cfg["scheduler"]).start()
        backlog_max, streak = 0, 0
        t0 = time.time()
        while (lo := runner.resume_lsn()) < end:
            hi = min(lo + depth * w, end)
            issued = time.time()
            for a in range(lo, hi, w):
                self.due[f"lsn-{a}-{a + w}"] = issued
            backlog_max = max(backlog_max, (hi - lo) // w)
            self.m["issued_hi"] = hi
            try:
                runner.run_until(hi, pipeline_depth=depth)
                streak = 0
            except Exception:  # noqa: BLE001 — counted by the merge wrapper; resume retries
                streak += 1
                if streak >= 3:
                    break
        t_loop = time.time()
        with rec.span("lake.maintenance.drain"):
            sched.stop(drain=True)
        self.m["scheduler"] = {"cycles": sched.cycles, "races": sched.races_lost, "errors": sched.errors}
        t1 = time.time()
        self.m["clock"] = (t0, t1)
        self.m["drain_s"] = t1 - t_loop
        self.m["applied_hi"] = table.manifest.lsn_contig_hi
        self.m["events"] = self.m["applied_hi"] - self.lsn0
        self.m["backlog_max"] = backlog_max
        self.m["input_bytes"] = self.applied_input_bytes()

    def tail_phase(self, table: LakeTable, runner, k0: int, n: int, period: float) -> tuple[list, list]:
        """Windows ``k0 .. k0+n-1`` of the staged stream, window ``k0+j``
        released at ``j * period`` s, beside the closed-loop reader, which
        stops when the writer is done. Every ``replay_every``-th window
        is replayed with ``run_until(from_lsn=...)`` after it commits.
        Returns each window's lateness against its release time and the
        backlog (windows due) when it started."""
        cfg, rec = self.cfg, self.rec
        w, pre = cfg["window"], cfg["preload"]
        late, backlog = [], []
        done = threading.Event()
        t0 = time.time() + 0.05

        def writer():
            with rec.span("tail.writer"):
                for j in range(n):
                    due = t0 + j * period
                    now = time.time()
                    if now < due:
                        time.sleep(due - now)
                    start = time.time()
                    late.append(start - due)
                    backlog.append(int((start - t0) // period) + 1 - j if period else 1)
                    lo = pre + (k0 + j) * w
                    self.due[f"lsn-{lo}-{lo + w}"] = due
                    try:
                        runner.run_until(lo + w)
                        if j % cfg["replay_every"] == cfg["replay_every"] - 1:
                            self.replays.append(len(runner.run_until(lo + w, from_lsn=lo)))
                    except Exception:  # noqa: BLE001 — counted by the merge wrapper
                        pass
            done.set()

        def reader():
            i = 0
            mix = cfg["reader_mix"]
            with rec.span("tail.reader"):
                while not done.is_set():
                    op = mix[i % len(mix)]
                    if op == "key":
                        self.point_read(table, self.keys[(i * 7 + self.seed) % len(self.keys)])
                    elif op == "feed":
                        out = self.feed_read(table, self.cursor)
                        if out is not None:
                            self.cursor = out[1]
                            try:
                                table.register_cursor("perfbench-reader", self.cursor)
                                rec.count_op(True)
                            except Exception as e:  # noqa: BLE001
                                rec.count_op(False, f"register_cursor: {e!r}")
                    else:
                        self.snapshot_read(table)
                    i += 1

        threads = [threading.Thread(target=writer, name="perfbench-writer"),
                   threading.Thread(target=reader, name="perfbench-reader")]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return late, backlog

    def open_loop(self, table: LakeTable) -> None:
        cfg, w = self.cfg, self.cfg["window"]
        n_windows = int(self.seconds / cfg["period_s"])
        runner = LsnWindowRunner(
            table, C.window_source(self.spark, self.staged, cfg["duplicate_every"]), events_per_batch=w)
        wrap_runner(runner, self.rec)
        self.due = {}
        late, backlog = self.tail_phase(table, runner, cfg["warm_windows"], n_windows, cfg["period_s"])
        # the clock runs from the first release to the last commit
        t0 = min(self.due.values())
        self.m["clock"] = (t0, max(self.rec.values("merge", "committed_at") or [time.time()]))
        self.m["drain_s"] = None
        self.m["issued_hi"] = self.lsn0 + n_windows * w
        self.m["applied_hi"] = table.manifest.lsn_contig_hi
        self.m["events"] = self.m["applied_hi"] - self.lsn0
        self.m["late"] = late
        self.m["backlog_max"] = max(backlog or [0])
        self.m["input_bytes"] = self.applied_input_bytes()

    def applied_input_bytes(self) -> int:
        """Staged bytes of the pre-load and every window the table applied
        (warm-up windows included)."""
        k = (self.m["applied_hi"] - self.cfg["preload"]) // self.cfg["window"]
        return sum(self.staged["bytes"][: k + 1])

    # ------------------------------------------------------- after clock
    def after(self, table: LakeTable) -> None:
        self.m["residual_delta_files"] = C.delta_files(table)
        self.m["live_bytes"] = C.live_bytes(table)
        self.m["commit_races_lost"] = table.commit_races_lost
        if self.m["drain_s"] is None:
            t0 = time.time()
            table.compact()
            self.m["drain_s"] = time.time() - t0
        if self.cfg["loop"] == "closed" and self.traced:
            # the probe feeds only per-layer read metrics, so only traced
            # runs pay for it. Collect the ingest's garbage and let
            # Spark's cleaner delete its shuffle files first, so the
            # probe's short jobs do not share the JVM with that work
            self.spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)
            # interleaved, so every kind of read samples the whole probe
            cursor = self.m["applied_hi"] - 2 * self.cfg["window"]
            for i in range(PROBE_ROUNDS):
                for j in range(3):
                    self.point_read(table, self.keys[(3 * i + j + self.seed) % len(self.keys)])
                self.feed_read(table, cursor)
                self.snapshot_read(table)

    def gate(self, table: LakeTable) -> None:
        hi = self.m["applied_hi"]
        stream = C.staged_stream(self.spark, self.staged, hi)
        if self.cfg["loop"] == "open":
            # warm-up and clock; a replay applies no window when its
            # merge_batch returns None
            self.check("replayed windows return None", self.replays and not any(self.replays),
                       f"{self.replays.count(0)} skipped of {len(self.replays)} replayed")
        got, want = C.final_state_digests(table, stream)
        self.check("final read() equals replay oracle", got == want,
                   f"(rows, hash) table={got} oracle={want}")
        self.m["live_rows"] = got[0]
        self.check("every issued window committed", hi == self.m["issued_hi"],
                   f"applied up to lsn {hi} of {self.m['issued_hi']}")

    # ------------------------------------------------------------ traced
    def window_time(self, table_dir: str) -> float:
        """Seconds per merge of the workload's window shape on a fresh
        table (mean of two windows after a first one)."""
        w, staged = self.cfg["window"], self.staged
        table = self.new_table(table_dir)
        runner = LsnWindowRunner(table, C.window_source(self.spark, staged), events_per_batch=w)
        lo = staged["preload"]
        runner.run_until(lo + w, from_lsn=lo)
        t0 = time.time()
        runner.run_until(lo + 3 * w, from_lsn=lo + w)
        return (time.time() - t0) / 2

    def execute(self) -> None:
        marks = [("start", time.time())]
        table = self.setup()
        marks.append(("setup", time.time()))
        if self.cfg["loop"] == "open":
            self.open_loop(table)
        else:
            self.closed_loop(table)
        marks.append(("clock", time.time()))
        self.after(table)
        marks.append(("drain+probe", time.time()))
        self.gate(table)
        marks.append(("gate", time.time()))
        self.m["phases"] = {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])}
        js = C.jvm_stats(self.spark)
        self.m["rss_mb"], self.m["gc_s"] = js["rss_mb"], js["gc_s"] - self.m["gc0_s"]
        self.m["manifest_json_bytes"] = len(table.manifest.to_json())
        self.m["cpu_control_end_s"] = C.cpu_control()
        if self.traced:
            root = table.store.root
            self.m["fs"] = {
                "snap": C.dir_bytes(os.path.join(root, "data"), "snap-"),
                "compact": C.dir_bytes(os.path.join(root, "data"), "compact-"),
                "log": C.dir_bytes(os.path.join(root, "_meta", "log")),
                "table": C.dir_bytes(root),
            }
            # scaling: the same window shape at local[nproc], then, after
            # the traced context has stopped (which finalizes its event
            # log), at local[1]
            scale_dir = os.path.join(self.work, "scale_table")
            tn = self.window_time(scale_dir)
            self.spark.stop()
            self.event_log = parse_event_log(find_event_log(self.event_log_dir))
            self.spark = C.start_session(1, self.work, "perfbench-scale-1")
            t1 = self.window_time(scale_dir)
            self.m["scaling_eff"] = t1 / (self.cores * tn)
