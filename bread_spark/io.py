"""Table catalog over the driver's parquet dirs + partitioned writes.

Mirrors the reference's source layer (SURVEY.md §2.1 SRC13/SRC12): DuckDB
glob scans become ``spark.read.parquet`` (partition discovery + pushdown are
free), the pyarrow ``partition_cols=['year','month','day']`` sink becomes
``df.write.partitionBy(...)``.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Resolved-source cache for the IMMUTABLE driver testdata dirs only: a
# DataFrame is a reusable logical plan, and re-resolving the same parquet
# source costs ~70-90 ms of driver time (file listing + footer schema read
# + Py4J) per call — the dominant fixed cost when a 40+-query catalog run
# touches each table dozens of times. This is the one-time catalog/view
# registration every long-lived session does, scoped to paths that cannot
# change underneath us; mutable paths (test temp dirs, sinks that get
# rewritten) are never cached because a DataFrame's file listing is pinned
# at analysis time and would go stale.
_SOURCE_CACHE: dict[tuple[str, str], DataFrame] = {}
_CACHEABLE_PREFIX = "/root/testdata/"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Parquet scan → column pruning and filter
    pushdown happen automatically once the caller selects/filters.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    parquet across testdata generations, so the read is type-adaptive:
    TIMESTAMP(NANOS) is rejected by Spark's reader (TimestampType is µs —
    the ns divergence documented in SURVEY.md §1.3), so we read it as long
    nanos (legacy conf, scoped to that one read) and floor-divide to µs,
    matching DuckDB's ns→µs truncation; TIMESTAMP(MICROS) arrives as
    TIMESTAMP_NTZ and is cast to the session-zone TimestampType
    (wall-clock preserving under the UTC session zone) so every downstream
    model sees one ts type either way. Both encodings of the same instants
    produce identical values (pinned by tests/test_io_timestamps.py).
    """
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    path = os.path.join(sf_dir, f"{name}.parquet")
    cacheable = path.startswith(_CACHEABLE_PREFIX)
    key = (spark.sparkContext.applicationId, path)
    if cacheable and key in _SOURCE_CACHE:
        return _SOURCE_CACHE[key]
    if name == "events":
        df = _read_events(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # NANOS generation read via the legacy conf: long ns → µs floor.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif isinstance(ts_type, TimestampType):
            pass  # TIMESTAMP(MICROS, adjustedToUTC=true) — already the target type
        else:
            raise TypeError(
                f"{path}: unsupported parquet encoding for events.ts "
                f"({ts_type}); expected TIMESTAMP(MICROS/NANOS) or the "
                "nanos-as-long legacy read"
            )
    else:
        df = spark.read.parquet(path)
    if cacheable:
        # Entries from previous SparkSessions (stale applicationIds) are
        # dead weight — their DataFrames are unusable anyway. Evict them
        # so a long-lived process cycling sessions can't grow the cache
        # beyond one application's worth of (bounded) testdata paths.
        app_id = key[0]
        for k in [k for k in _SOURCE_CACHE if k[0] != app_id]:
            del _SOURCE_CACHE[k]
        _SOURCE_CACHE[key] = df
    return df


# The legacy-conf window in _read_events is session-wide state; serialize
# it so a concurrent read in another thread can neither observe the legacy
# conf nor clobber the restore.
_NANOS_CONF_LOCK = threading.Lock()


def _is_nanos_type_error(e: Exception) -> bool:
    """True when the AnalysisException is Spark rejecting TIMESTAMP(NANOS).
    The error-class token varies across Spark versions ('PARQUET_TYPE_ILLEGAL'
    on current builds, 'Illegal Parquet type: ...' on older ones), so match
    both the class (via getErrorClass when available) and the legacy text."""
    cls = None
    get_cls = getattr(e, "getErrorClass", None)
    if callable(get_cls):
        try:
            cls = get_cls()
        except Exception:
            cls = None
    msg = str(e)
    return (
        (cls is not None and "PARQUET_TYPE_ILLEGAL" in cls)
        or "PARQUET_TYPE_ILLEGAL" in msg
        or "Illegal Parquet type" in msg
    )


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the events parquet, engaging the nanos-as-long legacy conf only
    when the file actually ships TIMESTAMP(NANOS) — and restoring the conf
    afterwards either way (the converted schema is captured at analysis
    time, so later execution of the returned DataFrame is unaffected)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if not _is_nanos_type_error(e):
            raise
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    with _NANOS_CONF_LOCK:
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            return spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (Spark SQL surface —
    the analog of the reference's dbt sources)."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def write_partitioned(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Hive-partitioned parquet sink (reference parse.py:182-200 analog).

    At 100 TB the year/month/day layout gives partition pruning on every
    time-ranged query; within a partition, files are sized by Spark's
    128 MB target so scans parallelize across executors.
    """
    df.write.mode(mode).partitionBy("year", "month", "day").parquet(path)


def partition_files(path: str) -> dict[str, int]:
    """Parquet data files per partition directory of a Hive-partitioned
    table, keyed by the directory relative to `path`; `_`/`.` names are
    skipped, as Spark's file listing does."""
    out: dict[str, int] = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n = sum(f.endswith(".parquet") and not f.startswith(("_", ".")) for f in files)
        if n:
            out[os.path.relpath(root, path)] = n
    return out


def compact_partitions(spark: SparkSession, path: str, partitions: list[str]) -> None:
    """Rewrite the given partition directories of a Hive-partitioned table
    (relative to `path`, as `partition_files` names them, e.g.
    `year=2024/month=1/day=5`) into one file each, for an append pipeline
    to run on the partitions each batch touched. The partition columns are
    the `col=` names of those directories.

    The partitions are read with `mergeSchema` (appended batches may carry
    different columns) and written under `path/_compact_staging`, which
    Spark's listing skips; each is then swapped in with two renames, the
    old directory parked under `path/_compact_backup` until all are in. A
    crash between the renames of one partition leaves it missing and is
    NOT repaired here (a later call refuses to start while the backup is
    there): the caller must be able to rebuild the table (`parse.run`
    holds its ledger pending across the call, so its next run rewrites
    the table from bronze).
    """
    import shutil

    if not partitions:
        return
    staging = os.path.join(path, "_compact_staging")
    backup = os.path.join(path, "_compact_backup")
    if os.path.isdir(backup):  # may hold the only copy of a partition
        raise RuntimeError(f"{path}: an earlier partition swap crashed; rebuild the table")
    shutil.rmtree(staging, ignore_errors=True)
    cols = [part.split("=", 1)[0] for part in partitions[0].split(os.sep)]
    df = (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(path, p) for p in partitions])
    )
    df.repartition(*[F.col(c) for c in cols]).write.partitionBy(*cols).parquet(staging)
    written = partition_files(staging)
    if sorted(written) != sorted(partitions):  # partition values must round-trip
        shutil.rmtree(staging)
        raise RuntimeError(f"{path}: compaction wrote {sorted(written)}, not {sorted(partitions)}")
    for p in partitions:
        os.makedirs(os.path.dirname(os.path.join(backup, p)), exist_ok=True)
        os.rename(os.path.join(path, p), os.path.join(backup, p))
        os.rename(os.path.join(staging, p), os.path.join(path, p))
    shutil.rmtree(staging)
    shutil.rmtree(backup)


def parquet_row_count(path: str) -> int:
    """Rows of a parquet table directory, summed from the file footers — a
    driver-side metadata read, no Spark job. Walks Hive partition
    directories and skips `_`/`.` names, as Spark's file listing does."""
    import pyarrow.parquet as pq

    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n

