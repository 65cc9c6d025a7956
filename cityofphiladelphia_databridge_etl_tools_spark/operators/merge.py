"""Key-partitioned MERGE with last-writer-wins dedup — the engine core.

Re-expresses the reference's upsert family as Spark dataflow:

- ``INSERT … ON CONFLICT DO UPDATE`` (postgres/postgres.py:551-565)
  → union + window row_number keep-1 over the merge keys.
- per-row AGO lookup-then-route upsert (ago/ago.py:1011-1313, 2+ HTTP
  round-trips per row) → one shuffle join over the whole batch.
- duplicate-PK repair "keep first, delete second" (ago/ago.py:1070-1078)
  → the same window, ordered by the LWW columns.
- ``DELETE … USING (… EXCEPT …)`` delete-stale (postgres/postgres.py:450-495)
  → left_anti join.

Scale notes (the part that matters at 100 TB):
- The merge shuffles only *touched* buckets of the target plus the
  (already LWW-deduped, hence small) batch — cost is O(touched data),
  not O(table).
- Hot conversations are salted before the write repartition: tasks are
  keyed by (bucket, salt) so one hot conv_id spreads over ``n_salt``
  writers while the file layout stays strictly per-bucket.
- AQE skew-join splitting stays on as the backstop for the join/window
  shuffles themselves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DELETED_COL = "_deleted"


def bucket_expr(key_cols: str | Column | list, n_buckets: int) -> Column:
    """Deterministic key→bucket assignment: pmod(xxhash64(*keys), n).

    Accepts one column or a LIST of columns — composite bucket keys
    hash every column, so a low-cardinality leading key (e.g. dept)
    still spreads across all buckets instead of collapsing into a few.
    xxhash64 is JVM-side and seed-stable, so bucket assignment is
    reproducible across sessions/clusters — a requirement for the
    manifest's bucket→files index to stay valid — and is re-computable
    driver-side (lake/keyhash.py) for job-free point lookups.
    """
    if isinstance(key_cols, (str, Column)):
        key_cols = [key_cols]
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def salt_expr(n_salt: int, *cols: str) -> Column:
    """Salt within a bucket to spread a hot key over n_salt write tasks."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salt)).cast("int")


def lww_order(order_cols: list[str], stored_cols: list[str]) -> list[Column]:
    """THE last-writer-wins sort order (newest first): the order
    columns desc-nulls-last (null order values lose ties), then
    xxhash64 over ``stored_cols`` as a payload tiebreak. Rows with
    equal keys AND equal order columns but different payloads would
    otherwise get a nondeterministic winner; identical rows hash
    identically, so duplicate delivery still collapses to the same row.

    Every LWW site (merge, compaction fold, read resolve) passes the
    table's STORED column names — never derived columns such as
    ``_bucket``/``_salt``/``_src`` — so all of them pick the same
    winner. A max over one total order is associative: merging a
    stream in any cut, then compacting or rebucketing, yields the same
    rows as one merge of the whole stream."""
    return [
        *[F.col(c).desc_nulls_last() for c in order_cols],
        F.xxhash64(*[F.col(c) for c in stored_cols]).desc(),
    ]


def dedup_last_writer(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one row per key: the first under :func:`lww_order`,
    with the tiebreak hash over every column of df. Lake-table callers
    pass frames holding exactly the stored columns, in stored order.

    Reference semantics: AGO dup-PK repair (ago/ago.py:1070-1078) and
    the "doubled up" retry reconciliation (ago/ago.py:786-822), done
    set-wise in one shuffle.
    """
    w = Window.partitionBy(*keys).orderBy(*lww_order(order_cols, df.columns))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def dedup_last_writer_colocated(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    part_cols: list[str],
    stored_cols: list[str],
) -> DataFrame:
    """LWW dedup when ``part_cols`` is a pure function of ``keys``
    (e.g. (bucket, salt) derived from the key hash): exchange once by
    part_cols, sort (part_cols, keys, lww_order), keep the first row
    of each key run via lag — no second shuffle for a downstream
    bucket-partitioned write, and the sort prefix satisfies the
    dynamic-partition writer's required ordering. This halves the
    shuffles of the merge hot path.
    """
    w = Window.partitionBy(*part_cols).orderBy(
        *[F.col(k).asc() for k in keys], *lww_order(order_cols, stored_cols)
    )
    prev = [F.lag(F.col(k)).over(w).alias(f"_prev_{k}") for k in keys]
    marked = df.select("*", *prev)
    is_first = F.lit(False)
    for k in keys:
        is_first = is_first | F.col(f"_prev_{k}").isNull() | (F.col(f"_prev_{k}") != F.col(k))
    return marked.filter(is_first).drop(*[f"_prev_{k}" for k in keys])


def delete_stale(
    target: DataFrame, staging: DataFrame, keys: list[str]
) -> DataFrame:
    """Keep only target rows whose key still exists in staging —
    the reference's DELETE…USING(prod EXCEPT staging) post-upsert pass
    (postgres/postgres.py:450-495). left_semi join = one shuffle."""
    return target.join(staging.select(*keys), on=keys, how="left_semi")


def route_changes(batch: DataFrame, target_keys: DataFrame, keys: list[str]) -> DataFrame:
    """Classify each change as insert vs update against current target
    keys — the set-wise replacement for the AGO per-row point query
    (ago/ago.py:1064-1100). Adds an ``_action`` column."""
    # target side is the big one — no broadcast hint; AQE picks the
    # strategy (broadcasts the batch side when it is small).
    marked = target_keys.select(*keys).withColumn("_exists", F.lit(True))
    return batch.join(marked, on=keys, how="left").withColumn(
        "_action", F.when(F.col("_exists").isNotNull(), F.lit("update")).otherwise(F.lit("insert"))
    ).drop("_exists")
