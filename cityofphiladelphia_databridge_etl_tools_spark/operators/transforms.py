"""Row/column transforms re-expressing the reference's per-row petl
pipeline (SURVEY §2.4, T1-T16) as vectorized column expressions —
whole-stage-codegen'd, exact (no sampling heuristics).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# T9: bad-SRID remap table (ref: opendata/opendata.py:202-209)
BAD_SRID_MAP = {300001: 2272, 300003: 2272, 300046: 2272, 300067: 2272, 300100: 2272}


def sanitize_headers(df: DataFrame) -> DataFrame:
    """T2/T11 (ref: postgres.py:184-197, airtable.py:62-63): lowercase,
    '#'→'_', strip other punctuation, and objectid_N→objectid when no
    objectid column exists."""
    renames = {}
    seen = set()
    names = [c.lower() for c in df.columns]
    for c, low in zip(df.columns, names):
        new = low.replace("#", "_")
        new = re.sub(r"[^a-z0-9_]", "", new)
        if re.fullmatch(r"objectid_\d+", new) and "objectid" not in names:
            new = "objectid"
        while new in seen:  # collision guard
            new += "_"
        seen.add(new)
        if new != c:
            renames[c] = new
    return df.withColumnsRenamed(renames) if renames else df


def scrub_control_chars(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """T3 (ref: postgres/_cleanup.py:30-54 scans only 500 lines; we do
    the exact vectorized pass): strip NUL and NBSP from string cols."""
    cols = columns or [c for c, t in df.dtypes if t == "string"]
    out = df
    for c in cols:
        out = out.withColumn(c, F.regexp_replace(F.col(c), "[\\x00\\u00a0]", ""))
    return out


def localize_naive_timestamps(
    df: DataFrame, tz: str = "America/New_York", columns: list[str] | None = None
) -> DataFrame:
    """T4 (ref: postgres.py:327-341, oracle.py:197-221): interpret
    naive timestamps as wall time in ``tz`` → UTC instants."""
    cols = columns or [c for c, t in df.dtypes if t.startswith("timestamp")]
    out = df
    for c in cols:
        out = out.withColumn(c, F.to_utc_timestamp(F.col(c).cast("timestamp_ntz").cast("timestamp"), tz))
    return out


def clean_for_remote(df: DataFrame, columns: list[str]) -> DataFrame:
    """T5 (ref: ago/ago.py:436-474): strip non-ascii + '"<> characters,
    coerce empty string to null."""
    out = df
    for c in columns:
        cleaned = F.regexp_replace(F.col(c), "[^\\x20-\\x7E]|['\"<>]", "")
        out = out.withColumn(c, F.when(cleaned == "", None).otherwise(cleaned))
    return out


def promote_multi_geometry(df: DataFrame, geom_col: str = "shape") -> DataFrame:
    """T1 (ref: postgres.py:146-201): POLYGON→MULTIPOLYGON /
    LINESTRING→MULTILINESTRING promotion on EWKT strings, preserving
    any SRID= prefix; already-MULTI and EMPTY values untouched."""
    g = F.col(geom_col)
    srid = F.regexp_extract(g, r"^(SRID=\d+;)", 1)
    body = F.regexp_replace(g, r"^SRID=\d+;", "")
    promoted = (
        F.when(body.rlike(r"^POLYGON\s*\("), F.concat(F.lit("MULTIPOLYGON ("), F.regexp_replace(body, r"^POLYGON\s*", ""), F.lit(")")))
        .when(body.rlike(r"^LINESTRING\s*\("), F.concat(F.lit("MULTILINESTRING ("), F.regexp_replace(body, r"^LINESTRING\s*", ""), F.lit(")")))
        .otherwise(body)
    )
    return df.withColumn(geom_col, F.when(g.isNull(), None).otherwise(F.concat(srid, promoted)))


def extract_srid(df: DataFrame, geom_col: str = "shape", out_col: str = "srid") -> DataFrame:
    """T7 (ref: ago.py:596-607, opendata.py:119-139): parse the
    'SRID=n;' EWKT prefix into a column; exact, not first-1000-rows."""
    return df.withColumn(
        out_col,
        F.regexp_extract(F.col(geom_col), r"^SRID=(\d+);", 1).cast("int"),
    )


def remap_bad_srid(df: DataFrame, srid_col: str = "srid") -> DataFrame:
    """T9 (ref: opendata.py:202-209): dict-lookup remap of known-bad
    SRIDs via a literal map — no join needed."""
    mapping = F.create_map(*[F.lit(x) for kv in BAD_SRID_MAP.items() for x in kv])
    return df.withColumn(
        srid_col, F.coalesce(mapping[F.col(srid_col)], F.col(srid_col))
    )


def point_to_lat_lng(df: DataFrame, geom_col: str = "shape") -> DataFrame:
    """T8 (ref: opendata.py:186-244): split 'SRID=n;POINT(x y)' EWKT
    into lng/lat doubles (EMPTY → nulls); drops the geometry column
    like the reference's final cutout."""
    body = F.regexp_replace(F.col(geom_col), r"^SRID=\d+;", "")
    x = F.regexp_extract(body, r"^POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)", 1)
    y = F.regexp_extract(body, r"^POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)", 2)
    return (
        df.withColumn("lng", F.when(x == "", None).otherwise(x).cast("double"))
        .withColumn("lat", F.when(y == "", None).otherwise(y).cast("double"))
        .drop(geom_col)
    )


def json_encode_nested(df: DataFrame, columns: list[str]) -> DataFrame:
    """T10 (ref: airtable.py:96-111, knack.py:120-135): nested
    array/struct/map columns → JSON strings."""
    out = df
    for c in columns:
        out = out.withColumn(c, F.to_json(F.col(c)))
    return out


def add_objectid(
    df: DataFrame, order_by: list[str], n_partitions: int | None = None
) -> DataFrame:
    """T13 (ref: airtable.py:107-109 counter, oracle.py:370-375
    NEXT_ROWID): dense 1..N surrogate ids by the total order
    ``order_by`` (pass a unique ordering — e.g. ending in a key — for
    deterministic ids), distributed via the partition-offset technique:

    1. range-repartition on order_by (partitions hold disjoint,
       ordered key ranges) and persist — the SAME physical partitions
       feed both passes, so spark_partition_id is consistent;
    2. one tiny job counts rows per partition → cumulative offsets
       (driver holds n_partitions longs, never rows);
    3. row_number within each partition + its broadcast offset.

    No single-partition exchange anywhere — the old global-window
    version funneled the whole table through one reducer.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_by]).persist()
    pid = F.spark_partition_id()
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy(pid.alias("_pid")).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, running = [], 0
    for p in sorted(counts):
        offsets.append((p, running))
        running += counts[p]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order_by)
    return (
        ranged.withColumn("_pid", pid)
        .join(F.broadcast(off_df), "_pid")
        .withColumn("objectid", F.row_number().over(w) + F.col("_off"))
        .drop("_pid", "_off")
    )


def _coords_json(pts) -> Column:
    """'x1 y1, x2 y2' → '[x1,y1],[x2,y2]' (one WKT coordinate run)."""
    return F.array_join(
        F.transform(
            F.split(pts, ",\\s*"),
            lambda p: F.concat(
                F.lit("["), F.regexp_replace(F.trim(p), " +", ","), F.lit("]")
            ),
        ),
        ",",
    )


def to_esri_json(
    df: DataFrame,
    geom_col: str = "shape",
    srid_col: str | None = None,
    out_col: str = "esri_json",
) -> DataFrame:
    """T6 second half (ref: ago/ago.py:954-1008 convert_geometry →
    ESRI JSON dicts — its `rings` loop handles MULTI-ring polygons and
    its `paths` branch LINESTRINGs; EMPTY → NaN/[]): EWKT POINT →
    ``{"x":…,"y":…}``, POLYGON (any ring count, holes included) →
    ``{"rings":[[…],[…]]}``, LINESTRING → ``{"paths":[[…]]}``,
    EMPTY/unsupported → NULL — assembled with string/array column
    expressions, no UDF. SRID comes from ``srid_col`` when given (so
    bad-SRID remap can run first), else from the EWKT prefix."""
    g = F.col(geom_col)
    prefix_srid = F.regexp_extract(g, r"^SRID=(\d+);", 1)
    srid = (
        F.col(srid_col).cast("string")
        if srid_col
        else F.when(prefix_srid == "", "4326").otherwise(prefix_srid)
    )
    body = F.regexp_replace(g, r"^SRID=\d+;", "")
    sr = F.concat(F.lit(',"spatialReference":{"wkid":'), srid, F.lit("}}"))

    xs = F.regexp_extract(body, r"^POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)", 1)
    ys = F.regexp_extract(body, r"^POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)", 2)
    point_json = F.concat(F.lit('{"x":'), xs, F.lit(',"y":'), ys, sr)

    # 'POLYGON ((r1), (r2), ...)' → every parenthesized ring becomes
    # one [[x,y],...] array — multi-ring (holes) included
    rings_src = F.regexp_extract(body, r"^POLYGON\s*\((.*)\)\s*$", 1)
    rings = F.split(
        F.regexp_replace(F.regexp_replace(rings_src, r"^\s*\(", ""), r"\)\s*$", ""),
        r"\)\s*,\s*\(",
    )
    rings_json = F.array_join(
        F.transform(rings, lambda r: F.concat(F.lit("["), _coords_json(r), F.lit("]"))),
        ",",
    )
    poly_json = F.concat(F.lit('{"rings":['), rings_json, F.lit("]"), sr)

    path_src = F.regexp_extract(body, r"^LINESTRING\s*\((.*)\)\s*$", 1)
    line_json = F.concat(
        F.lit('{"paths":[['), _coords_json(path_src), F.lit("]]"), sr
    )
    return df.withColumn(
        out_col,
        F.when(g.isNull() | body.rlike("EMPTY"), F.lit(None))
        .when(body.rlike(r"^POINT\s*\("), point_json)
        .when(body.rlike(r"^POLYGON\s*\(\("), poly_json)
        .when(body.rlike(r"^LINESTRING\s*\("), line_json)
        .otherwise(F.lit(None)),
    )


def parse_source_datetime(
    df: DataFrame, columns: list[str], fmt: str = "MM/dd/yyyy hh:mm a"
) -> DataFrame:
    """T12 (ref: knack/knack.py:120-135, which strptime's
    '%m/%d/%Y %I:%M %p' per row): source-format datetime strings →
    timestamps, vectorized. Unparseable values become NULL (try_ mode)
    instead of failing the job — route them to the dead-letter sink if
    they must be accounted for."""
    out = df
    for c in columns:
        out = out.withColumn(c, F.try_to_timestamp(F.col(c), F.lit(fmt)))
    return out
