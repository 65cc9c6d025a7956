#!/usr/bin/env python3
"""Benchmark of the CDC lake-table engine.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 18 --trace 0

Workloads and metrics are described in ``BENCHMARK.json``. The run
starts Spark at ``local[nproc]``, stages seeded input, measures for
``--seconds`` and checks the final table against the replay oracle.
The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Lines before it are a readable
report (bases, checks, tracing overhead).

All files go under ``.perfbench_work/`` in the current directory:
the run's scratch tables (removed at exit), ``results.jsonl`` (one
line per run, used to report tracing overhead) and ``spans/``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
PKG = "cityofphiladelphia_databridge_etl_tools_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# the "tail" percentile of freshness and point reads (README: why p75)
TAIL_P = 0.75


def end_to_end(run) -> dict:
    from common import hd_median as q50, hd_quantile as q

    m, rec = run.m, run.rec
    t0, t1 = m["clock"]
    merges = [r for r in rec.calls.get("merge", []) if r["ok"] and not r["replay"]]
    fresh = [r["committed_at"] - run.due[r["batch_id"]] for r in merges if r["batch_id"] in run.due]
    return {
        "setup_s": (m["setup_s"], "s", len(m["prep_s"])),
        "events_per_s": (m["events"] / (t1 - t0), "1/s", m["events"]),
        "merge_p50_s": (q50([r["wall"] for r in merges]), "s", len(merges)),
        "freshness_p50_s": (q50(fresh), "s", len(fresh)),
        "freshness_tail_s": (q(fresh, TAIL_P), "s", len(fresh)),
        "stored_bytes_per_input_byte": (m["live_bytes"] / m["input_bytes"], "ratio", m["input_bytes"]),
        "ok_op_share": ((rec.attempted - rec.failed) / rec.attempted, "ratio", rec.attempted),
        "jvm_peak_rss_mb": (m["rss_mb"], "MiB", 1),
    }


def per_layer(run) -> dict:
    from common import hd_median as q50, hd_quantile as q
    from spans import union_seconds

    m, rec, ev = run.m, run.rec, run.event_log
    merges = [r for r in rec.calls.get("merge", []) if r["ok"] and not r["replay"]]
    n = max(1, len(merges))
    rows_in = sum(r["rows_in"] for r in merges)
    rows_out = sum(r["rows_out"] for r in merges)
    groups = lambda prefix: [s for s in ev["stages"] if s["group"].startswith(prefix)]  # noqa: E731
    mst = groups("merge.")
    exch = [s for s in mst if s["shuffle_write"] > 0]
    wst = [s for s in mst if s["shuffle_write"] == 0]
    skews = [s["task_ms"][-1] / max(1, statistics.median(s["task_ms"])) for s in wst if s["n_tasks"] > 1]
    rst = groups("read.")
    reads = rec.calls.get("read", [])
    walls = {k: [r["wall"] for r in reads if r["kind"] == k] for k in ("key", "feed", "snap")}
    comp = rec.calls.get("compact", [])
    sched = m.get("scheduler", {})
    (snap_b, snap_f), (comp_b, _), (log_b, _), (fs_b, fs_f) = (
        m["fs"][k] for k in ("snap", "compact", "log", "table"))
    t0, t1 = m["clock"]
    cover_names = ("lake.table.merge_batch", "lake.table.compact", "lake.maintenance.drain")
    covered = union_seconds([(s.start, s.end) for s in rec.spans if s.name in cover_names], t0, t1)
    cd, rc = rec.values("commit_delta", "wall"), rec.values("read_current", "wall")
    fresh_late = m.get("late") or [r["start"] - run.due[r["batch_id"]] for r in merges if r["batch_id"] in run.due]
    out = {
        "runner.windows": (len(rec.calls.get("merge", [])), "count", len(rec.calls.get("run_until", []))),
        "runner.run_until_s": (sum(rec.values("run_until", "wall")), "s", len(rec.calls.get("run_until", []))),
        "merge.calls": (len(merges), "count", len(rec.calls.get("merge", []))),
        "merge.wall_p90_s": (q([r["wall"] for r in merges], 0.9), "s", len(merges)),
        "merge.rows_in": (rows_in, "count", len(merges)),
        "merge.rows_out": (rows_out, "count", len(merges)),
        "merge.dedup_ratio": (rows_out / max(1, rows_in), "ratio", rows_in),
        "merge.replays_skipped": (sum(1 for r in rec.calls.get("merge", []) if r["replay"]), "count", len(merges)),
        "merge.commit_races_lost": (m["commit_races_lost"], "count", len(merges)),
        "merge.spark_jobs_per_call": (sum(v for g, v in ev["jobs"].items() if g.startswith("merge.")) / n, "count", len(merges)),
        "merge.touched_buckets_mean": (sum(r["touched"] for r in merges) / n, "count", len(merges)),
        "merge.shuffle_write_bytes": (sum(s["shuffle_write"] for s in mst) / n, "B/call", len(merges)),
        "merge.shuffle_read_bytes": (sum(s["shuffle_read"] for s in mst) / n, "B/call", len(merges)),
        "merge.spill_bytes": (sum(s["spill"] for s in mst) / n, "B/call", len(merges)),
        "merge.exchange_stage_s": (sum(s["wall_s"] for s in exch) / n, "s/call", len(exch)),
        "merge.write_stage_s": (sum(s["wall_s"] for s in wst) / n, "s/call", len(wst)),
        "merge.task_skew": (statistics.median(skews) if skews else 1.0, "ratio", len(skews)),
        "merge.executor_cpu_share": (sum(s["cpu_ns"] for s in mst) / 1e6 / max(1, sum(s["run_ms"] for s in mst)), "ratio", len(mst)),
        "write.files": (snap_f, "count", len(merges)),
        "write.bytes": (snap_b, "B", snap_f),
        "write.bytes_per_row": (snap_b / max(1, rows_out), "B/row", rows_out),
        "manifest.commit_delta_p50_s": (statistics.median(cd) if cd else 0.0, "s", len(cd)),
        "manifest.read_current_p50_s": (statistics.median(rc) if rc else 0.0, "s", len(rc)),
        "manifest.cas_conflicts": (len(rec.calls.get("cas_conflict", [])), "count", len(cd)),
        "manifest.log_bytes": (log_b, "B", len(cd)),
        "manifest.json_bytes": (m["manifest_json_bytes"], "B", 1),
        "compact.calls": (len(comp), "count", len(comp)),
        "compact.wall_s": (sum(r["wall"] for r in comp), "s", len(comp)),
        "compact.buckets_folded": (sum(r["buckets"] for r in comp), "count", len(comp)),
        "compact.bytes_rewritten": (comp_b, "B", len(comp)),
        "compact.scheduler_cycles": (sched.get("cycles", 0), "count", 1),
        "compact.scheduler_races": (sched.get("races", 0), "count", sched.get("cycles", 0)),
        "compact.scheduler_errors": (sched.get("errors", 0), "count", sched.get("cycles", 0)),
        "compact.drain_s": (m["drain_s"], "s", 1),
        "compact.residual_delta_files": (m["residual_delta_files"], "count", 1),
        "point_read_p50_s": (q50(walls["key"]), "s", len(walls["key"])),
        "point_read_tail_s": (q(walls["key"], TAIL_P), "s", len(walls["key"])),
        "feed_read_p50_s": (q50(walls["feed"]), "s", len(walls["feed"])),
        "snapshot_read_p50_s": (q50(walls["snap"]), "s", len(walls["snap"])),
        "read.plan_s": (q50([r["plan"] for r in reads]), "s", len(reads)),
        "read.exec_s": (q50([r["exec"] for r in reads]), "s", len(reads)),
        "read.files_planned": (statistics.mean([r["files_planned"] for r in reads]), "count", len(reads)),
        "read.files_total": (statistics.mean([r["files_total"] for r in reads]), "count", len(reads)),
        "read.resolve_bucket_share": (statistics.mean([r["resolve_share"] for r in reads]), "ratio", len(reads)),
        "read.shuffle_bytes": (sum(s["shuffle_read"] + s["shuffle_write"] for s in rst) / max(1, len(reads)), "B/call", len(reads)),
        "feed.rows": (sum(rec.values("feed_rows", "rows")), "count", len(rec.calls.get("feed_rows", []))),
        "fs.table_bytes": (fs_b, "B", fs_f),
        "fs.table_files": (fs_f, "count", 1),
        "fs.bytes_per_live_row": (m["live_bytes"] / max(1, m["live_rows"]), "B/row", m["live_rows"]),
        "session.start_s": (m["session_start_s"], "s", 1),
        "stage.input_s": (m["stage_s"], "s", 1),
        "warmup_s": (m["warmup_s"], "s", len(m["prep_s"])),
        "jvm.gc_s": (m["gc_s"], "s", 1),
        "tail.generator_late_p90_s": (q(fresh_late, 0.9), "s", len(fresh_late)),
        "tail.backlog_windows_max": (m["backlog_max"], "count", len(fresh_late)),
        "host.cpu_control": (statistics.mean([m["cpu_control_s"], m["cpu_control_end_s"]]), "s", 2),
        "scaling_eff_1to4": (m["scaling_eff"], "ratio", 2),
        "trace.span_coverage": (covered / (t1 - t0), "ratio", len(rec.spans)),
    }
    return out


def overhead(workload: str, traced_e2e: dict) -> dict:
    """Traced minus untraced end-to-end medians, from earlier untraced
    runs of this workload recorded in this checkout."""
    path = os.path.join(WORK_ROOT, "results.jsonl")
    plain = []
    if os.path.exists(path):
        with open(path) as f:
            plain = [r for r in map(json.loads, f) if r["workload"] == workload and not r["trace"]]
    if not plain:
        return {}
    return {
        k: v[0] - statistics.median(r["e2e"][k] for r in plain)
        for k, v in traced_e2e.items() if all(k in r["e2e"] for r in plain)
    }


def main() -> int:
    import workloads as W

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the run starts (spark-submit's launcher too) keeps its
    # temp files in the work dir and writes no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"

    import common as C

    run = W.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        run.execute()
    except Exception:  # noqa: BLE001 — the run is void; no result line
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            C.stop_jvm(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(run)
    metrics = per_layer(run) if args.trace else e2e
    correct = all(ok for _, ok, _ in run.checks)
    for what, ok, detail in run.checks:
        print(f"check  {'ok  ' if ok else 'FAIL'} {what}: {detail}")
    print(f"ops    attempted={run.rec.attempted} failed={run.rec.failed}"
          + "".join(f"\n       failed: {e}" for e in run.rec.errors[:10]))
    print(f"phases {run.m['phases']} session={run.m['session_start_s']:.2f} "
          f"stage={run.m['stage_s']:.2f} prep={[round(x, 2) for x in run.m['prep_s']]} "
          f"cpu_control={run.m['cpu_control_s']:.4f}/{run.m['cpu_control_end_s']:.4f}")
    for name, (value, unit, base) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit} (base {base})")
    if args.trace:
        spans_dir = os.path.join(WORK_ROOT, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        run.rec.write_spans(os.path.join(spans_dir, f"{run.rec.run_id}.jsonl"))
        ovh = overhead(args.workload, e2e)
        for name, (value, unit, _base) in e2e.items():
            d = ovh.get(name)
            print(f"traced {name} = {value:.6g} {unit}; overhead vs untraced median = "
                  + (f"{d:+.6g} {unit}" if d is not None else "n/a (no untraced run in this checkout)"))
    with open(os.path.join(WORK_ROOT, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                            "e2e": {k: v[0] for k, v in e2e.items()}}) + "\n")
    print(json.dumps({
        "correct": correct,
        "attempted": run.rec.attempted,
        "failed": run.rec.failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ in {ROOT}; run from the repository root", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(1, ROOT)
    sys.exit(main())
