"""LakeTable: bucketed parquet table with log-structured commits,
exactly-once batch ids, LWW merge, schema evolution, and tombstoned
deletes.

Two merge strategies (both Catalyst-planned, zero per-row Python):

copy-on-write (mode="cow") — read touched buckets, union the batch,
one LWW window, rewrite those buckets. Read-optimal; write cost is
O(touched table data) per batch.

merge-on-read (mode="mor") — LWW-dedup the batch alone (small window)
and append it as *delta* files to the touched buckets; readers resolve
base ∪ deltas with the same LWW window; bucket-scoped compaction folds
deltas back into base when a bucket accumulates too many. Write cost
is O(batch) — this is what sustains 10^10-event ingest, and mirrors
Iceberg/Hudi MOR. Correctness is identical because key→bucket is a
pure function: every version of a key lands in one bucket, so the
read-side window sees all of them.

The merge dataflow:

    changes ──(coerce/evolve schema)──► staged
    staged ──distinct bucket ids──► touched    (bucket pruning: O(touched))
    cow: read(touched) ∪ staged ──LWW window──► rewrite buckets
    mor: staged ──LWW window (batch only)──► append delta files
    log delta record (CAS create = commit)     (ref db2.py:548-565)

Scale behavior: buckets bound the unit of rewrite; hot conversations
are salted across writers inside a bucket; files are written sorted by
key so parquet min/max stats support row-group skipping; AQE handles
residual shuffle skew. Metadata cost per commit is O(batch), not
O(table) — see lake/manifest.py.

Every write (merge, compaction, refresh, rebucket) becomes manifest
entries through ONE path, :meth:`LakeTable._write_snapshot`: an
Observation riding the write job supplies row counts and order/stats
bounds, and one prefix listing of the write's private snapshot
directory supplies the file names. Only layout rewrites
(``compact(sort_by=…)``/``compact(zorder_by=…)``) pay an extra scan
for exact per-file bounds.
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.observation import Observation

from ..operators.merge import (
    DELETED_COL,
    bucket_expr,
    dedup_last_writer,
    dedup_last_writer_colocated,
    salt_expr,
)
from .manifest import (
    CommitRecord,
    ConcurrentCommitError,
    LogDelta,
    Manifest,
    MetaStore,
    SchemaVersion,
)
from .schema import coerce_to, evolve_schema

OP_COL = "op"
BASE, DELTA = "base", "delta"
# tombstone-GC horizon meaning "all tombstones purged, no lsn bound
# known" (bare gc_tombstones on a table with no integer watermarks)
GC_ALL_SENTINEL = 2**62
# write tasks per bucket: a hot key spreads over this many writers
# (merge_batch's n_salt default; compaction and full rewrites use it)
N_SALT = 4


def _with_deleted(schema: T.StructType) -> T.StructType:
    return T.StructType(list(schema.fields) + [T.StructField(DELETED_COL, T.BooleanType(), True)])


def _json_safe(v):
    return v if isinstance(v, (int, float, str, type(None))) else None


def _stat_safe(v):
    """Per-file stat value → JSON-comparable form. Timestamps render
    as fixed-width 'YYYY-MM-DD HH:MM:SS[.ffffff]' strings, whose
    LEXICOGRAPHIC order equals chronological order — so range pruning
    can compare them without parsing."""
    if isinstance(v, (int, float, str, type(None))):
        return v
    return str(v)


def _as_lsn(v) -> int:
    """Watermark metric → long. Non-integer order columns (e.g. a
    table ordered purely by timestamp) degrade gracefully: watermarks
    and manifest-level lsn file skipping stay disabled (-1/None)
    instead of crashing after the data files are already written."""
    try:
        return int(v)
    except (TypeError, ValueError):
        return -1


class LakeTable:
    """One lake table = directory + commit log. Multi-writer safe via
    CAS on the log position (losers reload and retry)."""

    def __init__(self, spark: SparkSession, root: str, id_retention: int = 10_000):
        """``id_retention`` bounds the exactly-once replay-detection
        window for ARBITRARY batch ids (lsn-<lo>-<hi> runner ids are
        exempt — tracked structurally, unbounded): a batch id replayed
        after more than ``id_retention`` intervening commits is no
        longer recognized and would re-apply. Size it above the
        worst-case replay lag of any at-least-once upstream, or use
        LsnWindowRunner ids. See also :meth:`merge_batch`.

        A table created with ``LakeTable.create(id_retention=...)``
        PERSISTS the window in its manifest, and the persisted value
        overrides this handle-level one (manifest.apply_delta) — so
        two writers opened with different ctor values still truncate
        applied_ids identically. The ctor param only governs legacy
        tables whose manifest predates the field."""
        self.spark = spark
        self.store = MetaStore(root, id_retention=id_retention)
        # diagnostics: commit races this HANDLE lost and rebased (the
        # multi-writer contention soak reads it; not persisted)
        self.commit_races_lost = 0
        if not self.store.exists():
            raise FileNotFoundError(f"no lake table at {root} (use LakeTable.create)")

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_columns: list[str],
        order_columns: list[str] = ("ts", "lsn"),
        n_buckets: int = 16,
        bucket_columns: list[str] | None = None,
        stats_columns: list[str] | None = None,
        id_retention: int | None = None,
    ) -> "LakeTable":
        """``bucket_columns`` picks which key columns the key→bucket
        hash covers (must be a subset of ``key_columns`` so LWW stays
        bucket-local). Default: ALL key columns — a low-cardinality
        leading key (e.g. dept) still spreads over every bucket.
        Narrow it (e.g. ["conv_id"]) to co-locate an entity's rows for
        single-bucket entity reads, trading point-lookup granularity
        for locality.

        ``stats_columns``: extra columns whose per-file min/max is
        recorded in the manifest at every write (one shared agg job —
        no extra pass), enabling ``read_range`` file pruning. Pair
        with ``compact(sort_by=...)`` / ``compact(zorder_by=...)`` so
        files actually have narrow ranges to prune on."""
        for k in list(key_columns) + list(order_columns):
            if k not in schema.names:
                raise ValueError(f"key/order column {k!r} not in schema")
        if id_retention is not None and id_retention < 1:
            raise ValueError(f"id_retention must be >= 1, got {id_retention}")
        bucket_columns = list(bucket_columns) if bucket_columns else list(key_columns)
        if not set(bucket_columns) <= set(key_columns):
            raise ValueError(
                f"bucket_columns {bucket_columns} must be a subset of "
                f"key_columns {list(key_columns)} (the bucket must be a "
                f"pure function of the merge key)"
            )
        store = MetaStore(root)
        if store.exists():
            raise FileExistsError(root)
        store.fs.makedirs(store.data_dir)
        manifest = Manifest(
            version=0,
            n_buckets=n_buckets,
            key_columns=list(key_columns),
            order_columns=list(order_columns),
            schema_versions=[SchemaVersion(0, schema.json(), MetaStore.now())],
            bucket_files={},
            commits=[],
            watermarks={},
            bucket_columns=bucket_columns,
            stats_columns=[c for c in (stats_columns or []) if c in schema.names],
            # persisted so EVERY handle folds applied_ids with the same
            # window (see __init__); None = inherit each handle's default
            id_retention=id_retention,
        )
        store.commit(manifest)
        return cls(
            spark, root,
            **({"id_retention": id_retention} if id_retention is not None else {}),
        )

    # ------------------------------------------------------------- metadata
    @property
    def manifest(self) -> Manifest:
        return self.store.read_current()

    def schema(self, manifest: Manifest | None = None) -> T.StructType:
        m = manifest or self.manifest
        return T.StructType.fromJson(json.loads(m.current_schema_json))

    def _schema_at(self, m: Manifest, version: int) -> T.StructType:
        sv = next(s for s in m.schema_versions if s.version == version)
        return T.StructType.fromJson(json.loads(sv.schema_json))

    def watermark(self, bucket: int) -> int:
        return self.manifest.watermarks.get(str(bucket), -1)

    # ----------------------------------------------------------------- read
    def read(
        self,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        manifest: Manifest | None = None,
        base_file_pred=None,
        resolve: bool = True,
    ) -> DataFrame:
        """Current table state. ``buckets`` prunes the scan to those
        buckets' files via the manifest index (no directory listing —
        the engine's partition pruning). If any selected bucket has
        delta files, base ∪ deltas is LWW-resolved here (merge-on-read);
        tables with only base files skip the window entirely.

        ``base_file_pred(entry) -> bool`` skips individual files — but
        ONLY in base-only buckets, where every key's final version
        lives in exactly one file, so dropping a file drops whole rows
        and never un-shadows a superseded version. Delta-bearing
        buckets always read in full (file pruning there could resolve
        LWW against a partial version set — unsound).

        ``resolve=False`` returns the RAW stored rows (every version,
        tombstones included, coerced to the current schema) without
        the LWW window — for callers like compaction that fold the
        window into their own single write-clustered exchange instead
        of paying a separate resolve shuffle. Implies
        ``include_deleted=True`` semantics for superseded versions;
        the ``include_deleted`` flag still filters tombstone rows."""
        m = manifest or self.manifest
        wanted = {str(b) for b in buckets} if buckets is not None else None
        # split buckets into delta-bearing (need LWW resolve) and
        # base-only (stream straight through, no window): after
        # compaction most buckets are base-only, so the resolve cost
        # tracks the UNCOMPACTED fraction, not the table size.
        resolve_groups: dict[int, list[str]] = {}
        plain_groups: dict[int, list[str]] = {}
        for b, entries in m.bucket_files.items():
            if wanted is not None and b not in wanted:
                continue
            bucket_has_delta = any(e[2] == DELTA for e in entries)
            target = resolve_groups if bucket_has_delta else plain_groups
            for e in entries:  # [relpath, schema_version, tier, lo, hi, {col: [lo, hi]}?]
                if (
                    base_file_pred is not None
                    and not bucket_has_delta
                    and not base_file_pred(e)
                ):
                    continue
                target.setdefault(e[1], []).append(os.path.join(self.store.root, e[0]))

        if not resolve:
            for sv, paths in resolve_groups.items():
                plain_groups[sv] = plain_groups.get(sv, []) + paths
            df = self._scan(m, plain_groups)
        elif not resolve_groups:
            df = self._scan(m, plain_groups)
        else:
            df = dedup_last_writer(
                self._scan(m, resolve_groups), m.key_columns, m.order_columns
            )
            if plain_groups:
                df = df.unionByName(self._scan(m, plain_groups))
        if include_deleted:
            return df
        return df.filter(~F.col(DELETED_COL)).drop(DELETED_COL)

    def _scan(self, m: Manifest, groups: dict[int, list[str]]) -> DataFrame:
        """Union of file groups keyed by schema version. Each group is
        read with the exact schema it was written under, then coerced
        to the current one — deterministic add-column (null-fill) and
        widening (cast) with no reliance on reader-side type
        promotion. No groups → an empty frame of the current schema."""
        stored_current = _with_deleted(self.schema(m))
        parts = [
            coerce_to(
                self.spark.read.schema(_with_deleted(self._schema_at(m, sv))).parquet(*paths),
                stored_current,
            )
            for sv, paths in sorted(groups.items())
        ]
        if not parts:
            return self.spark.createDataFrame([], stored_current)
        return reduce(DataFrame.unionByName, parts)

    def _evolve(
        self, m: Manifest, payload: T.StructType
    ) -> tuple[T.StructType, list[SchemaVersion], int]:
        """Schema evolution for an incoming payload shape. Returns the
        table schema after the write, the SchemaVersion to add (empty
        when unchanged) and the version the new files are written
        under."""
        current = self.schema(m)
        new_schema = evolve_schema(current, payload)
        if new_schema.json() == current.json():
            return current, [], m.schema_versions[-1].version
        added = SchemaVersion(len(m.schema_versions), new_schema.json(), MetaStore.now())
        return new_schema, [added], added.version

    # ---------------------------------------------------------------- merge
    def merge_batch(
        self,
        changes: DataFrame,
        batch_id: str,
        n_salt: int = N_SALT,
        mode: str = "mor",
        compact_threshold: int = 16,
        max_auto_compact_buckets: int = 4,
        on_bad_rows: str = "fail",
        max_commit_retries: int = 5,
        _lsn_window_issued: bool = False,
    ) -> CommitRecord | None:
        """Apply one CDC microbatch exactly-once.

        ``changes`` columns: the table payload columns (any compatible
        subset/superset — schema evolves) plus ``op`` in {I,U,D}. Rows
        with op=D need only key + order columns populated.

        Returns the CommitRecord, or None when ``batch_id`` was already
        committed (idempotent replay — ref db2/db2.py:596-655 SCN
        watermark semantics). Replay detection for ARBITRARY batch ids
        is a bounded window (the most recent ``id_retention`` commits,
        default 10,000 — a LakeTable constructor setting): a batch
        replayed after more intervening commits than that re-applies as
        duplicates. Use ``LsnWindowRunner`` (whose reserved
        ``lsn-<lo>-<hi>`` ids are tracked structurally, unbounded) when
        the upstream can replay arbitrarily late, or size
        ``id_retention`` above its worst-case replay lag.
        mode="mor" appends LWW-deduped delta
        files (O(batch) write) and auto-compacts buckets whose delta
        count exceeds ``compact_threshold`` — amortized to the
        ``max_auto_compact_buckets`` worst per trigger so wide ingest
        never stalls behind an O(table) inline rewrite; mode="cow"
        rewrites the touched buckets fully.

        Concurrency: on a lost commit race, MOR batches (whose file
        appends and watermark bumps commute under LWW) are rebased onto
        the winner's manifest and re-CAS'd automatically, up to
        ``max_commit_retries``; COW batches and schema-evolving batches
        raise ConcurrentCommitError — their content depends on the
        parent snapshot, so the caller replays against fresh state.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}")
        if on_bad_rows not in ("fail", "dead_letter"):
            raise ValueError(f"unknown on_bad_rows policy {on_bad_rows!r}")
        # the lsn-<lo>-<hi> id namespace is RESERVED for LsnWindowRunner:
        # those ids resolve exactly-once STRUCTURALLY against the window
        # cursor (manifest.AppliedIds), so a caller-invented 'lsn-0-100'
        # for an unrelated source would be silently treated as already
        # applied once the cursor passes 100 — permanent data loss.
        # Reject up front instead (ADVICE r3: reserve the namespace).
        from .manifest import _lsn_window

        if _lsn_window(batch_id) is not None and not _lsn_window_issued:
            raise ValueError(
                f"batch id {batch_id!r} uses the reserved lsn-<lo>-<hi> "
                "namespace (structural exactly-once cursor). Use "
                "LsnWindowRunner for windowed ingest, or pick an id that "
                "does not match lsn-<digits>-<digits>."
            )
        m = self.manifest
        if batch_id in m.applied_batch_ids:
            return None
        if OP_COL not in changes.columns:
            raise ValueError("changes must carry an 'op' column (I/U/D)")
        keys, order_cols = m.key_columns, m.order_columns
        # fail fast (before any files are written) on a batch that
        # cannot be LWW-merged at all — missing key/order columns
        missing = [c for c in keys + order_cols if c not in changes.columns]
        if missing:
            raise ValueError(
                f"changes batch {batch_id!r} lacks key/order column(s) {missing}"
            )
        oc = order_cols[-1]  # the LSN-like column watermarks track

        # bad rows: unknown op, or null key columns. They are filtered
        # in-plan and COUNTED by the same observation that rides the
        # main write job (zero extra jobs on the happy path); if any
        # existed, we either abort BEFORE the commit point (files
        # orphan, replay reconverges) or dead-letter them with one
        # extra job (ref: AGO error-row sink, ago/ago.py:319-344 — the
        # pipeline continues).
        # null ORDER columns are legal (desc_nulls_last: they just lose
        # ties); only unknown ops and null KEYS are malformed.
        bad_cond = ~F.col(OP_COL).isin("I", "U", "D")
        for c in keys:
            bad_cond = bad_cond | F.col(c).isNull()
        raw_changes = changes
        changes = changes.withColumn("_bad", bad_cond)

        # -- schema evolution on the incoming payload shape
        current, schema_added, current_version = self._evolve(
            m, T.StructType([f for f in changes.schema.fields if f.name not in (OP_COL, "_bad")])
        )
        stored_schema = _with_deleted(current)

        # -- stage: mark deletes, coerce to table schema
        obs_in = Observation()
        staged = changes.observe(
            obs_in,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_bad").cast("long")).alias("n_bad"),
            F.min(F.when(~F.col("_bad"), F.col(oc))).alias("lsn_lo"),
            F.max(F.when(~F.col("_bad"), F.col(oc))).alias("lsn_hi"),
        ).filter(~F.col("_bad")).drop("_bad")
        staged = coerce_to(
            staged.withColumn(DELETED_COL, F.col(OP_COL) == F.lit("D")).drop(OP_COL),
            stored_schema,
        ).withColumn("_bucket", bucket_expr(m.effective_bucket_columns, m.n_buckets))

        snap_rel = f"data/snap-{m.version + 1:06d}-{uuid.uuid4().hex[:8]}"
        persisted = None
        part_cols = ["_bucket", "_salt"]
        if mode == "cow":
            # COW needs the touched-bucket set BEFORE reading the
            # target → one probe job over the (persisted) batch.
            persisted = staged.persist()
            touched = sorted(
                r["_bucket"] for r in persisted.select("_bucket").distinct().collect()
            )
            if not touched:  # empty batch still commits (advances the log)
                persisted.unpersist()
                self._handle_bad_rows(obs_in, raw_changes, bad_cond, batch_id, on_bad_rows)
                return self._commit_empty(m, batch_id, schema_added)
            target = coerce_to(
                self.read(buckets=touched, include_deleted=True, manifest=m),
                stored_schema,
            ).withColumn("_bucket", bucket_expr(m.effective_bucket_columns, m.n_buckets))
            unioned = target.withColumn("_src", F.lit(False)).unionByName(
                persisted.withColumn("_src", F.lit(True))
            ).withColumn("_salt", salt_expr(n_salt, *keys))
            # ONE exchange by (bucket, salt) + sort resolves intra-batch
            # duplicates AND batch-vs-target conflicts, pre-clustered
            # for the bucket-partitioned write (no second shuffle). The
            # batch-side counters ride the same write job.
            obs_src = Observation()
            out_rows = dedup_last_writer_colocated(
                unioned, keys, order_cols, part_cols, stored_schema.names
            ).observe(
                obs_src,
                F.sum(F.col("_src").cast("long")).alias("n"),
                F.sum((F.col("_src") & F.col(DELETED_COL)).cast("long")).alias("deletes"),
            ).drop("_src")
            tier = BASE
        else:
            # MOR fast path: single exchange+sort straight into the
            # delta write; the write's listing reveals the touched
            # buckets (no probe job).
            out_rows = dedup_last_writer_colocated(
                staged.withColumn("_salt", salt_expr(n_salt, *keys)),
                keys, order_cols, part_cols, stored_schema.names,
            )
            tier = DELTA

        new_files, written = self._write_snapshot(
            out_rows.drop("_salt"), snap_rel, current_version, tier, m, pre_clustered=True,
        )
        if persisted is not None:
            persisted.unpersist()
        # bad rows surfaced by the write's observation: abort (before
        # the commit point — the just-written files orphan) or capture
        n_bad = self._handle_bad_rows(obs_in, raw_changes, bad_cond, batch_id, on_bad_rows)
        if mode == "mor":
            touched = sorted(int(b) for b in new_files)
            if not touched:
                return self._commit_empty(m, batch_id, schema_added)

        in_metrics = obs_in.get
        batch_metrics = obs_src.get if mode == "cow" else written
        from_batch = int(batch_metrics["n"] or 0)
        deletes = int(batch_metrics["deletes"] or 0)
        # all-null / non-integer order columns are legal — watermarks
        # just don't move
        lsn_lo = _as_lsn(in_metrics["lsn_lo"])
        lsn_hi = _as_lsn(in_metrics["lsn_hi"])
        rec = CommitRecord(
            batch_id=batch_id,
            lsn_lo=lsn_lo,
            lsn_hi=lsn_hi,
            rows_in=int(in_metrics["n"]) - n_bad,
            rows_deduped=from_batch,
            rows_upserted=from_batch - deletes,
            rows_deleted=deletes,
            touched_buckets=[int(b) for b in touched],
            committed_at=MetaStore.now(),
            bucket_rows={b: n for b, n in written["bucket_rows"].items() if int(b) in touched},
        )
        delta = LogDelta(
            version=m.version + 1,
            new_commits=[rec],
            schema_versions_added=schema_added,
            bucket_appends=(
                {str(b): new_files.get(str(b), []) for b in touched} if mode == "mor" else {}
            ),
            bucket_replaces=(
                {str(b): new_files.get(str(b), []) for b in touched} if mode == "cow" else {}
            ),
            watermark_updates=(
                {str(b): lsn_hi for b in touched} if lsn_hi >= 0 else {}
            ),
        )
        for _attempt in range(max_commit_retries):
            try:
                self.store.commit_delta(m, delta)
                break
            except ConcurrentCommitError:
                self.commit_races_lost += 1
                fresh = self.store.read_current()
                if batch_id in fresh.applied_batch_ids:
                    # a racing writer (or our own crashed predecessor)
                    # committed this batch — our files stay orphaned
                    # for gc_orphans; exactly-once holds
                    return None
                if mode != "mor" or schema_added:
                    raise  # content depends on parent snapshot — replay
                if fresh.schema_versions[-1].schema_json != current.json():
                    raise  # winner evolved the schema under us — replay
                if (
                    fresh.n_buckets != m.n_buckets
                    or fresh.effective_bucket_columns != m.effective_bucket_columns
                ):
                    # winner was a rebucket(): our files are bucketed
                    # under the OLD key→bucket function, so appending
                    # them would poison bucket-pruned reads — restage
                    raise
                m = fresh  # MOR appends commute: rebase and re-CAS
                delta.version = m.version + 1
        else:
            raise ConcurrentCommitError(
                f"batch {batch_id!r}: lost {max_commit_retries} commit races"
            )
        if mode == "mor":
            # inline auto-compaction is AMORTIZED: at most
            # max_auto_compact_buckets (the worst offenders) fold per
            # trigger, so when every bucket crosses the threshold in
            # the same batch (steady-state wide ingest) the rewrite
            # cost spreads over the next batches instead of stalling
            # this one for an O(table) rewrite — the 20M-event soak
            # showed unbounded inline compaction halving sustained
            # throughput. Ingest-heavy deployments set
            # compact_threshold=10**9 and schedule compact() off the
            # critical path entirely.
            over = sorted(
                (
                    (sum(1 for e in entries if e[2] == DELTA), int(b))
                    for b, entries in self.manifest.bucket_files.items()
                ),
                reverse=True,
            )
            worst = [b for n_delta, b in over if n_delta > compact_threshold]
            if worst:
                try:
                    # single attempt (see CompactionScheduler._cycle):
                    # a lost CAS here means a concurrent pipelined
                    # merge advanced the log — retrying would rewrite
                    # the buckets again ON the ingest path; the next
                    # batch re-checks the thresholds anyway
                    self.compact(
                        buckets=worst[:max_auto_compact_buckets],
                        max_commit_retries=1,
                    )
                except ConcurrentCommitError:
                    pass  # another writer got there; next batch re-checks
        return rec

    def _handle_bad_rows(
        self, obs_in: Observation, raw_changes: DataFrame, bad_cond, batch_id: str, policy: str
    ) -> int:
        """Post-job bad-row policy. Returns the bad count. Called
        strictly BEFORE the commit point, so a 'fail' leaves only
        orphan files and a replay reconverges."""
        try:
            n_bad = int(obs_in.get["n_bad"] or 0)
        except Exception:
            # obs_in sits BELOW the merge's exchange: when that stage
            # produces no rows, AQE replaces it with an empty relation
            # and its observation never reports — count directly. (The
            # write's own observation sits above every exchange, so
            # _write_snapshot always gets one.)
            n_bad = raw_changes.filter(bad_cond).count()
        if not n_bad:
            return 0
        if policy == "fail":
            raise ValueError(
                f"batch {batch_id!r}: {n_bad} invalid rows (op not in I/U/D "
                f"or null key column); nothing was committed. Pass "
                f"on_bad_rows='dead_letter' to capture them and continue."
            )
        from ..sources.sinks import dead_letter

        dead_letter(
            raw_changes.filter(bad_cond).withColumn(
                "_error", F.lit(f"invalid op or null key/order column (batch {batch_id})")
            ),
            self.store.root,
        )
        return n_bad

    def _commit_empty(
        self, m: Manifest, batch_id: str, schema_added: list[SchemaVersion]
    ) -> CommitRecord:
        rec = CommitRecord(batch_id, -1, -1, 0, 0, 0, 0, [], MetaStore.now())
        delta = LogDelta(
            version=m.version + 1, new_commits=[rec], schema_versions_added=schema_added
        )
        while True:
            try:
                self.store.commit_delta(m, delta)
                return rec
            except ConcurrentCommitError:
                m = self.store.read_current()
                if batch_id in m.applied_batch_ids:
                    return rec
                if schema_added:
                    raise
                delta.version = m.version + 1

    # ---------------------------------------------------------------- write
    def _write_snapshot(
        self,
        df: DataFrame,
        snap_rel: str,
        schema_version: int,
        tier: str,
        m: Manifest,
        n_buckets: int | None = None,
        pre_clustered: bool = False,
        sort_by: list[str] | None = None,
        drop_after_sort: list[str] | None = None,
    ) -> tuple[dict[str, list], dict]:
        """The one path from a write to manifest entries. Writes rows
        (must carry _bucket in [0, ``n_buckets``), default the
        manifest's count) as per-bucket parquet under the writer-private
        ``snap_rel`` and returns ``(files, written)``: manifest entries
        per bucket, and the write's metrics — ``n`` rows, ``deletes``
        (tombstones), ``bucket_rows`` per bucket.

        The metrics come from ONE Observation riding the write job (no
        read-back job); the file names come from ONE prefix listing of
        the snapshot directory through the table's FileSystem — never
        a directory probe, which object stores answer "absent".
        Each file entry carries the write's batch-level order/stats
        bounds. They are sound (conservative) for pruning everywhere,
        and tight only for MOR DELTA appends, whose rows are one LSN
        window. BASE rewrites (COW merge, plain fold, ``overwrite_full``,
        ``rebucket``) hold rows from the whole history, so every file
        gets the write-wide range and prunes less. Only layout rewrites
        (``sort_by``) pay one extra scan of the listed files for exact
        per-file bounds — narrow file ranges are their whole point.

        "Wrote nothing" is an empty listing AND zero observed rows.
        Observed rows whose bucket the listing cannot see raise here,
        before any commit point: committing would mark the batch
        applied with its rows lost.

        Layout: pre-clustered input is already exchanged+sorted by
        (_bucket, _salt, keys). ``sort_by`` RANGE-partitions on the
        sort key so each file owns a disjoint range. Otherwise rows
        repartition by (bucket, salt) — a hot key spreads over N_SALT
        tasks while partitionBy keeps layout per-bucket — and sort with
        a leading _bucket so the dynamic-partition writer doesn't
        inject its own sort (key order in-file gives parquet min/max
        row-group skipping)."""
        snap_dir = os.path.join(self.store.root, snap_rel)
        keys = m.key_columns
        # the order column whose min/max powers manifest-level file
        # skipping in changes_since: LSN ranges are narrow per delta
        # file (one batch), so skipping is effective; key-column ranges
        # would not be (keys are hash-sprayed across files by design).
        oc = m.order_columns[-1]
        if pre_clustered:
            out = df
        elif sort_by:
            # Explicit partition count: an AQE-coalesced single output
            # file would leave nothing to prune.
            n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            out = df.repartitionByRange(
                n_parts, F.col("_bucket"), *[F.col(c) for c in sort_by]
            ).sortWithinPartitions("_bucket", *sort_by)
            if drop_after_sort:
                # computed sort keys (e.g. the Z-order column) order the
                # rows but are not table columns — project them away
                # AFTER the sort (a projection keeps partition order)
                out = out.drop(*drop_after_sort)
        else:
            out = (
                df.withColumn("_salt", salt_expr(N_SALT, *keys))
                .repartition(F.col("_bucket"), F.col("_salt"))
                .drop("_salt")
                .sortWithinPartitions("_bucket", *keys)
            )
        # observed AFTER any exchange, so only the write job feeds it
        # (a range partitioner's sampling job would count rows twice).
        # Bounded: n_buckets conditional sums + 2 aggs per stats column.
        scols = [c for c in m.stats_columns if c in out.columns and c != oc]
        obs = Observation()
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(DELETED_COL).cast("long")).alias("deletes"),
            F.min(F.col(oc)).alias("_lo"),
            F.max(F.col(oc)).alias("_hi"),
            *[x for c in scols for x in (
                F.min(F.col(c)).alias(f"_lo_{c}"), F.max(F.col(c)).alias(f"_hi_{c}")
            )],
            *[
                F.sum((F.col("_bucket") == b).cast("long")).alias(f"_rows_{b}")
                for b in range(n_buckets or m.n_buckets)
            ],
        )
        out.write.partitionBy("_bucket").parquet(snap_dir, mode="errorifexists")
        met = obs.get
        bucket_rows = {
            k[len("_rows_"):]: int(v) for k, v in met.items() if k.startswith("_rows_") and v
        }

        listed: dict[str, list[str]] = {}
        for path in sorted(self.store.fs.walk_files(snap_dir)):
            part, _, name = path[len(snap_dir) + 1:].partition("/")
            if (
                part.startswith("_bucket=") and name.endswith(".parquet")
                and not name.startswith((".", "_"))
            ):
                listed.setdefault(part[len("_bucket="):], []).append(f"{snap_rel}/{part}/{name}")
        unseen = sorted(set(bucket_rows) - set(listed), key=int)
        if unseen:
            raise RuntimeError(
                f"{snap_rel}: wrote rows to bucket(s) {unseen} but the listing "
                f"of {snap_dir} shows no files there; refusing to commit"
            )

        bounds = {oc: (met["_lo"], met["_hi"])}
        bounds.update({c: (met[f"_lo_{c}"], met[f"_hi_{c}"]) for c in scols})
        per_file = {}
        if sort_by and listed:
            per_file = self._file_bounds(m, snap_rel, listed, [oc, *scols])

        def entry(relpath: str) -> list:
            fb = per_file.get(relpath, bounds)
            lo, hi = fb.get(oc, (None, None))
            e = [relpath, schema_version, tier, _json_safe(lo), _json_safe(hi)]
            if m.stats_columns:
                e.append({
                    c: [_stat_safe(v) for v in fb.get(c, (None, None))]
                    for c in m.stats_columns if c in fb
                })
            return e

        files = {b: [entry(p) for p in paths] for b, paths in listed.items()}
        return files, {"n": int(met["n"]), "deletes": int(met["deletes"] or 0),
                       "bucket_rows": bucket_rows}

    def _file_bounds(
        self, m: Manifest, snap_rel: str, listed: dict[str, list[str]], cols: list[str]
    ) -> dict[str, dict]:
        """Exact per-file bounds of ``cols`` over the listed files: one
        distributed scan of only those columns — executors do the
        footer/column work, the driver receives O(#files) rows."""
        back = self.spark.read.schema(
            T.StructType([f for f in self.schema(m).fields if f.name in cols])
        ).parquet(*[os.path.join(self.store.root, p) for ps in listed.values() for p in ps])
        stats = (
            back.groupBy(F.input_file_name().alias("_file"))
            .agg(*[
                x for c in cols for x in (F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}"))
            ])
            .collect()
        )
        marker = "/" + snap_rel + "/"
        return {
            r["_file"][r["_file"].find(marker) + 1:]: {
                c: (r[f"_lo_{c}"], r[f"_hi_{c}"]) for c in cols
            }
            for r in stats
        }

    # ----------------------------------------------------------- utilities
    def overwrite_full(self, df: DataFrame, batch_id: str) -> CommitRecord | None:
        """Full refresh: replace all table content in one snapshot flip
        (ref: truncate-then-load, postgres/postgres.py:421-448; Carto
        replace-and-swap rename in one txn, carto_.py:422-436)."""
        m = self.manifest
        if batch_id in m.applied_batch_ids:
            return None
        oc = m.order_columns[-1]
        current, schema_added, current_version = self._evolve(m, df.schema)
        stored_schema = _with_deleted(current)

        obs = Observation()
        staged = df.observe(
            obs, F.count(F.lit(1)).alias("n"),
            F.min(oc).alias("lsn_lo"), F.max(oc).alias("lsn_hi"),
        )
        staged = dedup_last_writer(
            coerce_to(staged.withColumn(DELETED_COL, F.lit(False)), stored_schema),
            m.key_columns, m.order_columns,
        ).withColumn("_bucket", bucket_expr(m.effective_bucket_columns, m.n_buckets))
        snap_rel = f"data/refresh-{m.version + 1:06d}-{uuid.uuid4().hex[:8]}"
        new_files, written = self._write_snapshot(staged, snap_rel, current_version, BASE, m)
        # an empty refresh (truncate): obs sits below the dedup exchange
        # and never reports once AQE prunes the empty stage
        met = obs.get if written["n"] else {"n": 0, "lsn_lo": None, "lsn_hi": None}
        lsn_lo = _as_lsn(met["lsn_lo"])
        lsn_hi = _as_lsn(met["lsn_hi"])
        rec = CommitRecord(
            batch_id=batch_id,
            lsn_lo=lsn_lo, lsn_hi=lsn_hi,
            rows_in=int(met["n"]), rows_deduped=written["n"],
            rows_upserted=written["n"], rows_deleted=0,
            touched_buckets=sorted(int(b) for b in new_files),
            committed_at=MetaStore.now(), bucket_rows=written["bucket_rows"],
        )
        # every pre-existing bucket empties unless the refresh rewrote it
        replaces = {b: [] for b in m.bucket_files}
        replaces.update(new_files)
        self.store.commit_delta(
            m,
            LogDelta(
                version=m.version + 1,
                new_commits=[rec],
                schema_versions_added=schema_added,
                bucket_replaces=replaces,
                watermark_updates=(
                    {b: lsn_hi for b in new_files} if lsn_hi >= 0 else {}
                ),
                replace_watermarks=True,
            ),
        )
        return rec

    def register_cursor(self, name: str, lsn: int) -> None:
        """Record a change-feed consumer's progress in the table
        metadata. Compaction with tombstone GC refuses to destroy
        delete events a registered consumer has not read yet."""
        while True:
            m = self.manifest
            try:
                self.store.commit_delta(
                    m, LogDelta(version=m.version + 1, cursor_updates={name: int(lsn)})
                )
                return
            except ConcurrentCommitError:
                continue  # cursor updates commute — rebase and retry

    def changes_since(self, lsn_exclusive: int, strict: bool = True) -> DataFrame:
        """Incremental change feed for downstream consumers: every row
        version (upserts AND tombstones, with ``_deleted``) whose lsn
        is past the cursor — the lake-table analogue of tailing the
        binlog from an offset. File skipping happens at the MANIFEST
        level using the per-file lsn min/max collected at write time:
        only files that can contain newer rows are read at all (see
        _files_newer_than).

        Compaction with tombstone GC erases delete events; the table
        records its GC horizon (manifest.tombstone_gc_lsn) and this
        raises when the cursor is behind it — the feed would silently
        miss deletes (pass strict=False to accept upserts-only
        semantics). Register consumers with register_cursor so
        compaction refuses to create this situation in the first
        place."""
        m = self.manifest
        if strict and lsn_exclusive < m.tombstone_gc_lsn:
            raise ValueError(
                f"cursor {lsn_exclusive} is behind the tombstone GC horizon "
                f"{m.tombstone_gc_lsn}: delete events in that range were "
                f"compacted away. Re-sync the consumer from a full read, or "
                f"call with strict=False to accept missing deletes."
            )
        df = self._scan(m, self._files_newer_than(m, lsn_exclusive))
        last = m.order_columns[-1]
        # non-integer order columns carry no lsn to compare: the feed
        # degrades to "all rows from non-skippable files" (consumers
        # dedup by key+order) instead of a type-mismatch error
        if not isinstance(
            df.schema[last].dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        ):
            return df
        return df.filter(F.col(last) > F.lit(lsn_exclusive))

    def _files_newer_than(self, m: Manifest, lsn_exclusive: int) -> dict[int, list[str]]:
        """Manifest-level file skipping on the recorded lsn max."""
        out: dict[int, list[str]] = {}
        for entries in m.bucket_files.values():
            for e in entries:
                hi = e[4] if len(e) >= 5 else None
                # string-typed order columns record string stats; an
                # unparsable hi (_as_lsn -> -1) means "cannot skip":
                # include the file instead of raising mid-feed
                hi_lsn = _as_lsn(hi) if hi is not None else -1
                if hi is None or hi_lsn < 0 or hi_lsn > lsn_exclusive:
                    out.setdefault(e[1], []).append(os.path.join(self.store.root, e[0]))
        return out

    def rebucket(self, n_buckets: int, bucket_columns: list[str] | None = None) -> None:
        """Change the bucket count (and optionally the bucket-key
        columns) — the sizing correction a table needs after growing
        1000x, or the migration path from single-column to composite
        bucketing: full rewrite under the new key→bucket function,
        committed as one snapshot flip. Offline O(table) maintenance,
        like Iceberg's rewrite with a new partition spec; tombstones,
        cursors, schema history, and the GC horizon all carry over.
        Per-bucket watermarks collapse to the global max (a safe upper
        bound — exactly-once replay uses batch ids, not watermarks)."""
        m = self.manifest
        new_bcols = list(bucket_columns) if bucket_columns else m.effective_bucket_columns
        if not set(new_bcols) <= set(m.key_columns):
            raise ValueError(
                f"bucket_columns {new_bcols} must be a subset of key_columns"
            )
        if n_buckets == m.n_buckets and new_bcols == m.effective_bucket_columns:
            return
        df = self.read(include_deleted=True, manifest=m).withColumn(
            "_bucket", bucket_expr(new_bcols, n_buckets)
        )
        snap_rel = f"data/rebucket-{m.version + 1:06d}-{uuid.uuid4().hex[:8]}"
        new_files, _ = self._write_snapshot(
            df, snap_rel, m.schema_versions[-1].version, BASE, m, n_buckets=n_buckets
        )
        replaces = {b: [] for b in m.bucket_files}
        replaces.update(new_files)
        global_wm = max([-1] + [int(w) for w in m.watermarks.values()])
        self.store.commit_delta(
            m,
            LogDelta(
                version=m.version + 1,
                bucket_replaces=replaces,
                new_n_buckets=n_buckets,
                new_bucket_columns=new_bcols,
                replace_watermarks=True,
                watermark_updates=(
                    {b: global_wm for b in new_files} if global_wm >= 0 else {}
                ),
            ),
        )

    def read_key(self, key_value, extra_filter=None) -> DataFrame:
        """Point lookup by the bucket key: manifest-pruned to the ONE
        bucket the key hashes to, then filtered (parquet min/max
        row-group stats on the key-sorted files prune inside the
        bucket). The engine's answer to the reference's per-row AGO
        point query (ago/ago.py:1317-1360) — O(1 bucket), not O(table).

        ``key_value``: a scalar (single bucket column) or a
        tuple/list/dict covering ALL the table's bucket columns. The
        bucket hash is computed DRIVER-SIDE (lake/keyhash.py replicates
        F.xxhash64 bit-for-bit, pinned by test) so a lookup costs
        metadata + one pruned scan — no auxiliary Spark job on the
        serving path."""
        m = self.manifest
        bcols = m.effective_bucket_columns
        if isinstance(key_value, dict):
            missing = [c for c in bcols if c not in key_value]
            if missing:
                raise ValueError(f"read_key missing bucket column(s) {missing}")
            vals = [key_value[c] for c in bcols]
        elif isinstance(key_value, (tuple, list)):
            vals = list(key_value)
        else:
            vals = [key_value]
        if len(vals) != len(bcols):
            raise ValueError(
                f"read_key needs one value per bucket column {bcols}, got {vals!r}"
            )
        schema = self.schema(m)
        typed = []
        for c, v in zip(bcols, vals):
            dt = schema[c].dataType
            if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
                typed.append(("int", int(v)))
            elif isinstance(dt, T.LongType):
                typed.append(int(v))
            elif isinstance(dt, T.StringType):
                typed.append(str(v))
            elif isinstance(dt, (T.BinaryType,)):
                typed.append(bytes(v))
            else:
                typed = None  # exotic key type: fall back to a Spark job
                break
        if typed is not None:
            from .keyhash import bucket_of

            b = bucket_of(typed, m.n_buckets)
        else:
            lits = [
                F.lit(v).cast(schema[c].dataType) for c, v in zip(bcols, vals)
            ]
            b = (
                self.spark.range(1)
                .select(bucket_expr(lits, m.n_buckets).alias("b"))
                .collect()[0]["b"]
            )
        out = self.read(buckets=[b], manifest=m)
        for c, v in zip(bcols, vals):
            out = out.filter(F.col(c) == F.lit(v))
        if extra_filter is not None:
            out = out.filter(extra_filter)
        return out

    def read_range(
        self,
        col: str,
        lo=None,
        hi=None,
        include_deleted: bool = False,
        stats: dict | None = None,
    ) -> DataFrame:
        """Range scan with MANIFEST-level file pruning: files whose
        recorded [min, max] for ``col`` (see ``stats_columns`` at
        create time) cannot intersect [lo, hi] are never opened —
        pruning happens on the driver against metadata, before any
        Spark planning, like Iceberg's scan planning against manifest
        stats. Sound pruning needs compacted buckets (see ``read``);
        delta-bearing buckets are read fully and filtered. Run
        ``compact(sort_by=[col])`` or ``compact(zorder_by=[...,col,...])``
        first so files have narrow ranges worth pruning.

        The row-level predicate is ALWAYS applied — pruning only
        removes files that provably contain no matches, so the result
        equals ``read().filter(...)`` exactly. Pass ``stats={}`` to
        receive {"files_total": N, "files_read": K} back."""
        m = self.manifest
        slo = _stat_safe(lo) if lo is not None else None
        shi = _stat_safe(hi) if hi is not None else None
        counters = {"files_total": 0, "files_read": 0}

        def pred(e) -> bool:
            counters["files_total"] += 1
            cs = e[5] if len(e) > 5 and isinstance(e[5], dict) else None
            keep = True
            if cs and col in cs:
                flo, fhi = cs[col]
                if flo is not None and fhi is not None:
                    try:
                        if slo is not None and fhi < slo:
                            keep = False
                        if shi is not None and flo > shi:
                            keep = False
                    except TypeError:
                        # bound type incomparable with the recorded stat
                        # type (e.g. int bound vs timestamp-string
                        # stats): degrade to "cannot prune" — the
                        # row-level filter below still applies, so the
                        # result stays exact, just unpruned
                        keep = True
            if keep:
                counters["files_read"] += 1
            return keep

        df = self.read(
            include_deleted=include_deleted, manifest=m, base_file_pred=pred
        )
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        if stats is not None:
            stats.update(counters)
        return df

    def maintain(
        self,
        compact_kwargs: dict | None = None,
        keep_snapshots: int = 2,
        orphans_older_than_s: float = 600.0,
        dead_letters_older_than_s: float = 7 * 86400.0,
    ) -> dict:
        """One-call housekeeping: fold every delta-bearing bucket,
        expire metadata log history behind the snapshot horizon,
        remove orphaned data files (past the in-flight-writer grace
        period) and aged dead-letter captures. The reference runs its
        cleanup as a cron of DROP statements (_cleanup.py:5-15); here
        it is one online, crash-safe, cursor-respecting operation —
        every sub-step is individually safe under concurrent writers.
        Returns per-step counts."""
        self.compact(**(compact_kwargs or {}))
        removed_meta = self.store.expire_log(keep_snapshots=keep_snapshots)
        orphans = self.gc_orphans(older_than_s=orphans_older_than_s)
        dead = self.gc_dead_letters(older_than_s=dead_letters_older_than_s)
        return {
            "metadata_records_removed": len(removed_meta),
            "orphan_files_removed": len(orphans),
            "dead_letters_removed": len(dead),
        }

    def gc_dead_letters(self, dry_run: bool = False, older_than_s: float = 7 * 86400.0) -> list[str]:
        """Expire old dead-letter captures (sinks.dead_letter writes
        under <root>/_errors/<timestamp>) — the reference's -errors.txt
        files accumulate in S3 forever; here retention is a table
        maintenance op like orphan GC."""
        from .fs import mtimes_parallel, walk_files_parallel

        fs = self.store.fs
        now = MetaStore.now()
        removed = []
        # prefix-parallel listing + batched stat calls: dead-letter
        # captures accumulate one directory per batch, so both the LIST
        # and the per-file HEAD round-trips fan out across prefixes
        all_files = walk_files_parallel(fs, f"{self.store.root}/_errors")
        mt = mtimes_parallel(fs, all_files)
        for path in all_files:
            if now - mt[path] < older_than_s:
                continue
            removed.append(os.path.relpath(path, self.store.root))
            if not dry_run:
                fs.delete(path)
        if not dry_run:
            for d in sorted(
                {os.path.dirname(p) for p in walk_files_parallel(fs, f"{self.store.root}/_errors")} |
                {f"{self.store.root}/_errors/{n}" for n in fs.listdir(f"{self.store.root}/_errors")},
                key=len, reverse=True,
            ):
                fs.delete_dir_if_debris(d)
        return removed

    def gc_orphans(self, dry_run: bool = False, older_than_s: float = 600.0) -> list[str]:
        """Remove data files no retained manifest state references —
        leftovers of crashes and lost commit races. Files younger than
        ``older_than_s`` are SKIPPED: they may belong to a concurrent
        writer mid-merge whose commit hasn't landed yet (same contract
        as Iceberg remove_orphan_files' older-than interval; pass 0
        only when no writer is active). Files referenced by ANY
        retained snapshot or log record are kept, so time travel works
        until expire_log drops that history. Returns removed relative
        paths."""
        from .fs import mtimes_parallel, walk_files_parallel

        fs = self.store.fs
        referenced = {os.path.normpath(p) for p in self.store.referenced_files()}
        now = MetaStore.now()
        removed = []
        # prefix-parallel walk (one LIST task per snapshot directory) —
        # serial driver listing of a 10^6-file table is minutes of
        # round-trips; the manifest-unreferenced survivors (normally
        # few) then get their age checks batched the same way
        candidates = []
        for path in walk_files_parallel(fs, self.store.data_dir):
            if not path.endswith(".parquet"):
                continue
            rel = os.path.normpath(os.path.relpath(path, self.store.root))
            if rel not in referenced:
                candidates.append((path, rel))
        mt = mtimes_parallel(fs, [p for p, _ in candidates])
        for path, rel in candidates:
            if now - mt[path] < older_than_s:
                continue
            removed.append(rel)
            if not dry_run:
                fs.delete(path)
        if not dry_run:  # prune dirs holding only write-marker debris
            for d in sorted(
                {os.path.dirname(p) for p in walk_files_parallel(fs, self.store.data_dir)} |
                {os.path.join(self.store.data_dir, n) for n in fs.listdir(self.store.data_dir)},
                key=len, reverse=True,
            ):
                fs.delete_dir_if_debris(d)
        return removed

    def lineage(self, full: bool = False) -> DataFrame:
        """The commit log as a DataFrame — per-batch lsn ranges, row
        counts, merge stats, touched buckets (the reference's
        everywhere-recounts A1/A2 collapsed into queryable metadata;
        observe()-collected, so none of it cost an extra job). The
        manifest keeps the recent window; ``full=True`` replays the
        retained log for complete history."""
        records = self.store.all_commit_records() if full else self.manifest.commits
        rows = [
            {
                "batch_id": c.batch_id,
                "lsn_lo": c.lsn_lo,
                "lsn_hi": c.lsn_hi,
                "rows_in": c.rows_in,
                "rows_deduped": c.rows_deduped,
                "rows_upserted": c.rows_upserted,
                "rows_deleted": c.rows_deleted,
                "n_touched_buckets": len(c.touched_buckets),
                "committed_at": float(c.committed_at),
            }
            for c in records
        ]
        schema = (
            "batch_id string, lsn_lo long, lsn_hi long, rows_in long, "
            "rows_deduped long, rows_upserted long, rows_deleted long, "
            "n_touched_buckets int, committed_at double"
        )
        return self.spark.createDataFrame(rows, schema)

    def compact(
        self,
        buckets: list[int] | None = None,
        gc_tombstones: bool = False,
        gc_tombstones_below_lsn: int | None = None,
        force: bool = False,
        max_commit_retries: int = 3,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """Fold deltas into fresh base files for the given buckets (all
        by default) — the engine's VACUUM analogue (ref:
        _cleanup.py:5-15). Bucket-scoped so MOR maintenance cost stays
        O(hot buckets), not O(table).

        Tombstone GC is OFF by default: purging a tombstone lets an
        out-of-order update older than the delete resurrect the row,
        and erases the delete event from the change feed. Turn it on
        with a late-arrival horizon (``gc_tombstones_below_lsn`` —
        tombstones at or above it are kept), or bare for
        full-GC when no late events or lagging consumers exist. If
        consumers registered cursors (register_cursor), GC that would
        outrun the slowest cursor raises unless ``force=True``.

        ``sort_by`` re-sorts rows within each rewritten file (default:
        the merge keys) — compaction doubling as layout optimization:
        sort by a range-scanned column (e.g. ts) and parquet min/max
        row-group stats prune range queries. ``zorder_by`` is the
        MULTI-dimensional variant: rows sort by a Morton-interleaved
        key over the given columns (operators/layout.py), so files
        stay simultaneously narrow in every listed dimension — use
        when two access patterns (e.g. time range AND entity) must
        both prune. Read correctness is unaffected either way (LWW
        resolution never depends on file order)."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        plain_fold = not sort_by and not zorder_by
        for _attempt in range(max_commit_retries):
            m = self.manifest
            targets = sorted(buckets) if buckets is not None else sorted(
                int(b) for b in m.bucket_files
            )
            if plain_fold and not gc_tombstones and buckets is None:
                # a bucket holding exactly one BASE file has nothing to
                # fold — rewriting it produces byte-equivalent state for
                # pure I/O cost. Steady-state ingest calls compact()
                # repeatedly; without this, every call rewrites the
                # whole table. (GC, explicit bucket lists, and layout
                # rewrites still touch everything they were asked to.)
                targets = [
                    b for b in targets
                    if not (
                        len(m.bucket_files[str(b)]) == 1
                        and m.bucket_files[str(b)][0][2] == BASE
                    )
                ]
            if not targets:
                return
            oc = m.order_columns[-1]
            gc_horizon = -1  # max lsn whose tombstones may be purged
            if plain_fold:
                # single-exchange fold (same dataflow as the MOR merge
                # hot path): raw base∪delta rows exchange ONCE by
                # (bucket, salt), the colocated window resolves LWW in
                # the same sort the bucket-partitioned writer needs,
                # and _write_snapshot's observation supplies the
                # manifest stats — no resolve shuffle, no repartition,
                # no read-back stats job. Layout rewrites (sort_by /
                # zorder_by) keep the range-partitioned path below,
                # where exact per-file stats are the point.
                raw = self.read(
                    buckets=targets, include_deleted=True, manifest=m, resolve=False
                )
                df = dedup_last_writer_colocated(
                    raw.withColumn(
                        "_bucket", bucket_expr(m.effective_bucket_columns, m.n_buckets)
                    ).withColumn("_salt", salt_expr(N_SALT, *m.key_columns)),
                    m.key_columns, m.order_columns, ["_bucket", "_salt"], raw.columns,
                ).drop("_salt")
            else:
                df = self.read(buckets=targets, include_deleted=True, manifest=m)
            if gc_tombstones:
                if gc_tombstones_below_lsn is None:
                    gc_horizon = max([-1] + [int(w) for w in m.watermarks.values()])
                    if gc_horizon < 0 and m.bucket_files:
                        # non-integer order columns leave watermarks
                        # empty, yet bare GC still purges EVERY
                        # tombstone — record an "everything purged"
                        # sentinel so strict changes_since and the
                        # cursor-lag guard below still fire instead of
                        # being silently bypassed by horizon -1.
                        gc_horizon = GC_ALL_SENTINEL
                    keep = ~F.col(DELETED_COL)
                else:
                    gc_horizon = int(gc_tombstones_below_lsn) - 1
                    keep = (~F.col(DELETED_COL)) | (
                        F.col(oc) >= F.lit(gc_tombstones_below_lsn)
                    )
                lagging = {
                    name: cur for name, cur in m.cursors.items() if cur < gc_horizon
                }
                if lagging and not force:
                    raise ValueError(
                        f"tombstone GC up to lsn {gc_horizon} would destroy "
                        f"delete events not yet consumed by cursor(s) "
                        f"{lagging}; compact without gc_tombstones, raise "
                        f"gc_tombstones_below_lsn, or pass force=True."
                    )
                df = df.filter(keep)
            if not plain_fold:
                df = df.withColumn(
                    "_bucket", bucket_expr(m.effective_bucket_columns, m.n_buckets)
                )
            snap_rel = f"data/compact-{m.version + 1:06d}-{uuid.uuid4().hex[:8]}"
            current_version = m.schema_versions[-1].version
            drop_after = None
            if zorder_by:
                from ..operators.layout import with_zorder

                df = with_zorder(df, zorder_by)
                sort_by, drop_after = ["_zorder"], ["_zorder"]
            new_files, _ = self._write_snapshot(
                df, snap_rel, current_version, BASE, m,
                pre_clustered=plain_fold, sort_by=sort_by, drop_after_sort=drop_after,
            )
            delta = LogDelta(
                version=m.version + 1,
                bucket_replaces={str(b): new_files.get(str(b), []) for b in targets},
                tombstone_gc_lsn=(
                    max(m.tombstone_gc_lsn, gc_horizon) if gc_tombstones else None
                ),
            )
            try:
                self.store.commit_delta(m, delta)
                return
            except ConcurrentCommitError:
                # a writer appended to a target bucket mid-compact; a
                # blind replace would drop its files — recompute from
                # the fresh manifest (files just written stay orphaned)
                continue
        raise ConcurrentCommitError(
            f"compact lost {max_commit_retries} commit races; table is hot — retry later"
        )
