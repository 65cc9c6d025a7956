"""Spark jobs per lake-table call, pinned.

Counts come from ``setJobGroup`` + ``statusTracker().getJobIdsForGroup``
on the shared local[4] test session. The MOR merge, the plain fold and
a ``sort_by`` compaction must not gain a job; the COW merge,
``overwrite_full`` and ``rebucket`` record their manifest stats from
an Observation riding the write, so each sits below the count it had
with a read-back stats scan (``READ_BACK``).
"""

import pyspark.sql.functions as F

from cityofphiladelphia_databridge_etl_tools_spark import changegen
from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA
from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable

UNCHANGED = {"mor": 2, "compact": 2, "compact_sort": 5}
READ_BACK = {"cow": 8, "rebucket": 4, "overwrite": 5}


def test_jobs_per_call(spark, tmp_path):
    sc = spark.sparkContext
    counts = {}

    def jobs(name, fn):
        group = f"job-count-{name}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        counts[name] = len(sc.statusTracker().getJobIdsForGroup(group))

    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=4, stats_columns=["ts"],
    )
    stream = changegen.changes(spark, 1500, seed=5)

    def window(k):
        return stream.filter((F.col("lsn") >= k * 500) & (F.col("lsn") < (k + 1) * 500))

    jobs("mor", lambda: t.merge_batch(window(0), "b0", mode="mor"))
    jobs("cow", lambda: t.merge_batch(window(1), "b1", mode="cow"))
    t.merge_batch(window(2), "b2", mode="mor")
    jobs("compact", lambda: t.compact())
    jobs("compact_sort", lambda: t.compact(sort_by=["ts"]))
    jobs("rebucket", lambda: t.rebucket(8))
    jobs("overwrite", lambda: t.overwrite_full(t.read(), "full"))

    assert {k: counts[k] for k in UNCHANGED} == UNCHANGED, counts
    assert all(counts[k] < n for k, n in READ_BACK.items()), counts
