"""Session, staging, correctness and file-system helpers shared by the
benchmark workloads. Every file the benchmark writes lives under the
run's work directory inside the checkout."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cityofphiladelphia_databridge_etl_tools_spark import changegen, get_spark
from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable
from cityofphiladelphia_databridge_etl_tools_spark.lake.table import DELTA

KEYS = ["conv_id", "turn_idx"]
ORDER = ["ts", "lsn"]


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _betai(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of
    all order statistics. With the ten-odd samples a run collects it
    varies much less from run to run than the single order statistic a
    sample median or nearest-rank percentile picks."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples to estimate a quantile from")
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_betai(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def hd_median(values: list[float]) -> float:
    return hd_quantile(values, 0.5)


def start_session(cores: int, work: str, app: str, event_log_dir: str | None = None) -> SparkSession:
    conf = {
        # a fixed-size heap, so the peak RSS does not follow the
        # collector's heap-sizing decisions
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Xms1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is None:
        conf["spark.eventLog.enabled"] = "false"
    else:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app, cores=cores, shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark: SparkSession) -> None:
    """Stop Spark and the gateway JVM this process launched, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a stuck JVM is killed
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------------------ staging
def stage_windows(spark: SparkSession, path: str, preload: int, n_windows: int, window: int, **gen) -> dict:
    """Write the pre-load window (lsn ``[0, preload)``, ``w=0``) and then
    ``n_windows`` windows of ``window`` events (``w=1..n``) in one
    parquet write, one directory per window. Returns the staged schema
    and per-window input bytes (pre-load first)."""
    df = changegen.changes(spark, preload + n_windows * window, **gen)
    schema = df.schema
    w = F.when(F.col("lsn") < preload, F.lit(0)).otherwise(F.floor((F.col("lsn") - preload) / window) + 1)
    df.withColumn("w", w.cast("int")).write.partitionBy("w").parquet(path)
    sizes = [dir_bytes(os.path.join(path, f"w={k}"))[0] for k in range(n_windows + 1)]
    return {"path": path, "schema": schema, "preload": preload, "window": window, "bytes": sizes}


def window_source(spark: SparkSession, staged: dict, duplicate_every: int | None = None):
    """``source(lo, hi)`` for ``LsnWindowRunner`` over staged windows:
    the pre-load for ``lo == 0``, else the window starting at ``lo``."""
    def source(lo: int, hi: int) -> DataFrame:
        k = 0 if lo < staged["preload"] else (lo - staged["preload"]) // staged["window"] + 1
        df = spark.read.schema(staged["schema"]).parquet(os.path.join(staged["path"], f"w={k}"))
        return changegen.with_duplicates(df, duplicate_every) if duplicate_every else df
    return source


def staged_stream(spark: SparkSession, staged: dict, lsn_hi: int) -> DataFrame:
    """The staged events below ``lsn_hi`` (oracle input)."""
    return (
        spark.read.schema(staged["schema"]).parquet(staged["path"])
        .drop("w").filter(F.col("lsn") < lsn_hi)
    )


def sample_keys(staged: dict, n: int) -> list[tuple[str, int]]:
    """The first ``n`` keys, in lsn order, that the pre-load writes
    (read with pyarrow: no Spark job)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(staged["path"], "w=0"), format="parquet").to_table(
        columns=["lsn", "op", *KEYS])
    t = t.filter(pc.field("op") != "D").sort_by("lsn").slice(0, n)
    return list(zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()))


# -------------------------------------------------------------- correctness
def state_digest(df: DataFrame, columns: list[str]) -> tuple[int, int]:
    """Row count plus an order-insensitive sum of per-row hashes."""
    r = df.select(*columns).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def final_state_digests(table: LakeTable, stream: DataFrame) -> tuple[tuple, tuple]:
    """(table, oracle) digests: the table's ``read()`` must equal the
    replay oracle over the input it applied."""
    oracle = changegen.expected_final_state(stream)
    return state_digest(table.read(), oracle.columns), state_digest(oracle, oracle.columns)


# -------------------------------------------------------------- file system
def dir_bytes(path: str, prefix: str | None = None) -> tuple[int, int]:
    """(bytes, files) under ``path``; with ``prefix`` only top-level
    entries whose name starts with it are walked."""
    total = files = 0
    if not os.path.isdir(path):
        return 0, 0
    tops = [os.path.join(path, n) for n in os.listdir(path) if prefix is None or n.startswith(prefix)]
    for top in tops:
        if os.path.isfile(top):
            total += os.path.getsize(top)
            files += 1
            continue
        for dp, _dn, fn in os.walk(top):
            for n in fn:
                if n.endswith(".parquet") or prefix is None:
                    total += os.path.getsize(os.path.join(dp, n))
                    files += 1
    return total, files


def live_bytes(table: LakeTable) -> int:
    m = table.manifest
    return sum(
        os.path.getsize(os.path.join(table.store.root, e[0]))
        for entries in m.bucket_files.values() for e in entries
    )


def delta_files(table: LakeTable) -> int:
    return sum(1 for es in table.manifest.bucket_files.values() for e in es if e[2] == DELTA)


def resolve_bucket_share(table: LakeTable) -> float:
    bf = table.manifest.bucket_files
    return sum(1 for es in bf.values() if any(e[2] == DELTA for e in es)) / max(1, len(bf))


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def cpu_control() -> float:
    """A fixed pure-Python CPU loop (median of three, seconds): moves
    only when the host itself is slower, e.g. under hypervisor steal."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def jvm_stats(spark: SparkSession) -> dict:
    """Peak RSS (MiB) and cumulative GC seconds of the driver JVM."""
    jvm = spark.sparkContext._jvm
    pid = int(jvm.java.lang.ProcessHandle.current().pid())
    gc_ms = sum(int(b.getCollectionTime()) for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
    rss_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                rss_kb = int(line.split()[1])
    return {"rss_mb": rss_kb / 1024.0, "gc_s": gc_ms / 1e3}
