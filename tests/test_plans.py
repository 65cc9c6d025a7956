"""Plan-quality contracts: pushdown, pruning, broadcast, shuffle
counts. These are the 100-TB guarantees — tested, not eyeballed."""

import os

import pyspark.sql.functions as F

from cityofphiladelphia_databridge_etl_tools_spark import changegen
from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA
from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable
from cityofphiladelphia_databridge_etl_tools_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_pushed_filters,
    scan_read_schema,
    uses_broadcast_join,
)
from cityofphiladelphia_databridge_etl_tools_spark.queries import REGISTRY


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_returnflag", "l_quantity"
    )
    assert has_pushed_filters(q, "l_shipdate")


def test_column_pruning_reaches_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.select("l_returnflag", "l_quantity")
    cols = scan_read_schema(q)
    assert set(cols) == {"l_returnflag", "l_quantity"}, cols


def test_q5_broadcasts_dims(spark, sf_dir):
    fn, _ = REGISTRY["q5_nation_revenue"]
    assert uses_broadcast_join(fn(spark, sf_dir))


def test_mor_merge_is_single_exchange(spark, tmp_path):
    """The merge hot path: exactly one shuffle (the (bucket,salt)
    exchange); the window and the write reuse its clustering."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=8,
    )
    t.merge_batch(changegen.changes(spark, 500, seed=31), "b0")
    # reconstruct the write-side plan the merge runs (same code path)
    from cityofphiladelphia_databridge_etl_tools_spark.lake.schema import coerce_to
    from cityofphiladelphia_databridge_etl_tools_spark.lake.table import _with_deleted
    from cityofphiladelphia_databridge_etl_tools_spark.operators.merge import (
        bucket_expr, dedup_last_writer_colocated, salt_expr,
    )

    ch = changegen.changes(spark, 500, seed=31, lsn_start=500)
    staged = coerce_to(
        ch.withColumn("_deleted", F.col("op") == "D").drop("op"),
        _with_deleted(t.schema()),
    ).withColumn("_bucket", bucket_expr("conv_id", 8)).withColumn(
        "_salt", salt_expr(4, "conv_id", "turn_idx")
    )
    winners = dedup_last_writer_colocated(
        staged, ["conv_id", "turn_idx"], ["ts", "lsn"], ["_bucket", "_salt"],
        _with_deleted(t.schema()).names,
    )
    assert count_exchanges(winners) == 1, formatted_plan(winners)


def test_declarative_queries_have_no_python_in_plan(spark, sf_dir):
    """Blanket 100-TB hygiene: every declarative gate query plans to
    pure JVM operators — no row-at-a-time Python UDF, no Arrow eval
    nodes. (The only sanctioned Python is batch-columnar mapInPandas
    in the enrich/multimodal operators, excluded here by design.)"""
    python_ok = {
        # mapInPandas by design
        "t_batch_enrich", "mm_extract_meta", "mm_decode_wav", "mm_decode_bmp",
    }
    engineful = {  # building these RUNS merges/streams; plan-audited elsewhere
        "cdc_replay_merge", "cdc_schema_evolution", "cdc_full_refresh",
        "cdc_compacted_state", "cdc_range_prune", "k_dead_letter",
        "stream_hourly_counts", "s_csv_fallback", "s_paged_rest",
        "dedup_clusters", "t_surrogate_key",
    }
    offenders = []
    for name, (fn, _sql) in REGISTRY.items():
        if name in python_ok or name in engineful:
            continue
        plan = formatted_plan(fn(spark, sf_dir))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan or "PythonUDF" in plan:
            offenders.append(name)
    assert offenders == [], offenders


def test_add_objectid_has_no_single_partition_exchange(spark, sf_dir):
    """Surrogate-id assignment must not funnel the table through one
    reducer: ids come from per-partition row_number + broadcast
    offsets, so the plan has no Exchange SinglePartition and the
    offset join is broadcast."""
    from cityofphiladelphia_databridge_etl_tools_spark.operators.transforms import add_objectid

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    out = add_objectid(d, ["doc_id"], n_partitions=4)
    plan = formatted_plan(out)
    assert "Exchange SinglePartition" not in plan, plan
    assert uses_broadcast_join(out)
    # ids are the exact global row_number by doc_id
    rows = out.orderBy("doc_id").collect()
    assert [r["objectid"] for r in rows] == list(range(1, len(rows) + 1))
    in_order = [r["doc_id"] for r in sorted(rows, key=lambda r: r["objectid"])]
    assert in_order == sorted(in_order)


def test_bucket_pruned_read_lists_only_touched_files(spark, tmp_path):
    """Manifest-driven pruning: reading 1 bucket must reference only
    that bucket's files in the scan."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=8,
    )
    t.merge_batch(changegen.changes(spark, 2000, seed=32), "b0")
    m = t.manifest
    some_bucket = int(next(iter(m.bucket_files)))
    pruned = t.read(buckets=[some_bucket])
    full = t.read()
    n_files_pruned = len(m.bucket_files[str(some_bucket)])
    n_files_total = sum(len(v) for v in m.bucket_files.values())
    assert n_files_pruned < n_files_total
    # the pruned read returns exactly the rows whose key hashes there
    from cityofphiladelphia_databridge_etl_tools_spark.operators.merge import bucket_expr
    expect = full.filter(
        bucket_expr(t.manifest.effective_bucket_columns, 8) == some_bucket
    )
    assert pruned.count() == expect.count()


def test_partial_compact_resolves_only_delta_buckets(spark, tmp_path):
    """Mixed table: compacted buckets stream window-free; only
    delta-bearing buckets pay the LWW resolve."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=4,
    )
    full = changegen.changes(spark, 1000, seed=34)
    t.merge_batch(full.filter(F.col("lsn") < 500), "b0")
    t.merge_batch(full.filter(F.col("lsn") >= 500), "b1")
    some = [int(next(iter(t.manifest.bucket_files)))]
    t.compact(buckets=some)
    # compacted bucket alone: no Window in the plan
    assert "Window" not in formatted_plan(t.read(buckets=some))
    others = [int(b) for b in t.manifest.bucket_files if int(b) not in some]
    assert "Window" in formatted_plan(t.read(buckets=others))
    # state correctness across the mixed read
    from tests.test_lake_merge import assert_df_equal
    assert_df_equal(t.read(), changegen.expected_final_state(full))


def test_read_after_compact_has_no_window(spark, tmp_path):
    """Base-only tables skip the LWW resolve entirely — the read plan
    contains no Window node."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=4,
    )
    t.merge_batch(changegen.changes(spark, 500, seed=33), "b0")
    assert "Window" in formatted_plan(t.read())  # MOR deltas → resolve
    t.compact()
    assert "Window" not in formatted_plan(t.read())


def test_doc_shingles_splits_text_exactly_once(spark):
    """The shingle pipeline's tokenization must stay behind a
    projection boundary: if Catalyst's CollapseProject ever re-inlines
    the split() into the higher-order shingle lambda, every produced
    shingle re-tokenizes the document — O(tokens²) per doc (measured
    6× slower at sf0.1 before the r5 fix). Guard the optimized plan:
    split appears exactly once, in a Project below the Generate."""
    from cityofphiladelphia_databridge_etl_tools_spark.operators import dedup as D

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = D.doc_shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
