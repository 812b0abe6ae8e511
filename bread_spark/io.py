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


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int = 8) -> None:
    """Bucketed managed table: co-locates join/agg keys at write time so
    repeated joins on `key` skip the shuffle entirely (the Exchange-free
    plan is asserted in tests/test_bucketing.py).

    The 100 TB pattern: bucket the big fact tables on their join key once
    at ingest; every downstream join/aggregation on that key becomes a
    zero-shuffle local operation. Bucket count should be sized so one
    bucket ≈ one task's worth of data (hundreds of MB)."""
    df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key).saveAsTable(table)


def write_partitioned(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Hive-partitioned parquet sink (reference parse.py:182-200 analog).

    At 100 TB the year/month/day layout gives partition pruning on every
    time-ranged query; within a partition, files are sized by Spark's
    128 MB target so scans parallelize across executors.
    """
    df.write.mode(mode).partitionBy("year", "month", "day").parquet(path)


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: tuple[str, ...] = ("year", "month", "day"),
) -> int:
    """Rewrite a Hive-partitioned table into one file per partition — the
    compaction pass every incremental pipeline needs.

    Incremental appends (micro-batches, backfills, gap repairs) each add
    small files; at 100 TB the scan's task count — and the namenode/object
    store metadata load — grows with file count, not data size. Periodic
    compaction restores ~128 MB files.

    Rewrites to a staging dir then swaps, so a crash mid-compact never
    leaves the table half-written; the swap itself is two renames, and a
    crash between them is repaired by `recover_compaction` (auto-invoked
    here on startup leftovers) — roll FORWARD if staging completed
    (_SUCCESS present), roll BACK otherwise. This is the strongest
    guarantee plain parquet directories allow: a reader racing the swap
    window sees a missing/partial listing for the rename instant. True
    concurrent-reader atomicity needs a table format's ACID log
    (Delta/Iceberg) — neither is installable in this offline container
    (no package, no jars; checked), so EAV-canonical + batch-maintenance
    windows is the documented policy (DIVERGENCES.md). Returns the
    resulting file count.

    Refuses to compact a Structured-Streaming file sink (a directory with
    a `_spark_metadata` transaction log): the resumed stream and any
    log-driven reader would reference the pre-compaction files. Plain
    file sinks and compaction don't compose — that is exactly the gap
    table formats (Delta/Iceberg) close with ACID rewrites; with plain
    parquet, either compact only batch-written tables (this function) or
    have the stream write via foreachBatch to per-batch idempotent paths.
    """
    import shutil

    recover_compaction(path)  # heal any crashed previous swap first
    if os.path.isdir(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{path} is a streaming file sink (_spark_metadata present); "
            "compacting it would break the sink log. Use a table format "
            "or a foreachBatch sink for compactable streaming output."
        )
    # mergeSchema: appended batches may carry different columns (the wide
    # silver `events`), and a plain read keeps only one file's
    df = spark.read.option("mergeSchema", "true").parquet(path)
    staging = path.rstrip("/") + "__compacting"
    df.repartition(*[F.col(c) for c in partition_cols]).write.mode("overwrite").partitionBy(
        *partition_cols
    ).parquet(staging)
    backup = path.rstrip("/") + "__precompact"
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return sum(partition_files(path).values())


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


def compact_partitions(
    spark: SparkSession,
    path: str,
    partitions: list[str],
    partition_cols: tuple[str, ...] = ("year", "month", "day"),
) -> None:
    """Rewrite the given partition directories of a Hive-partitioned table
    (relative to `path`, as `partition_files` names them) into one file
    each — `compact_partitioned` at partition grain, for an append
    pipeline to run on the partitions each batch touched.

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
    df = (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(path, p) for p in partitions])
    )
    df.repartition(*[F.col(c) for c in partition_cols]).write.partitionBy(
        *partition_cols
    ).parquet(staging)
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


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    version_col: str | None = None,
    delete_col: str | None = None,
) -> int:
    """Latest-wins MERGE of an updates batch into a plain-parquet table —
    the `MERGE INTO` of a table format, expressed as one key-partitioned
    window over base ∪ updates plus the compaction module's staged swap:

      - an updates row whose key exists REPLACES the base row
      - a new key is inserted
      - with `delete_col`, an updates row with that flag true TOMBSTONES
        its key (the applied form of a `snapshot_diff` 'removed' entry)
      - with `version_col`, the highest version wins among multiple
        updates per key (updates always beat base at equal footing)

    Plan: ONE shuffle keyed on `key_cols` (row_number window); this is
    copy-on-write — the whole table rewrites, which is exactly what
    Delta/Iceberg MERGE does per touched file, generalized to the whole
    table because plain parquet has no file-level transaction log (see
    `compact_partitioned`'s atomicity note; neither format is
    installable offline here). Same staging/backup suffixes as
    compaction, so `recover_compaction` heals a crash mid-swap
    identically. Returns the resulting row count.
    """
    import shutil

    from pyspark.sql.window import Window

    recover_compaction(path)
    if os.path.isdir(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{path} is a streaming file sink (_spark_metadata present); "
            "merging it would break the sink log — same constraint as "
            "compact_partitioned."
        )
    base = spark.read.parquet(path).withColumn("__src", F.lit(0))
    up = updates.withColumn("__src", F.lit(1))
    allr = base.unionByName(up, allowMissingColumns=True)
    order = [F.col("__src").desc()]
    if version_col:
        order.insert(0, F.col(version_col).desc_nulls_last())
    # final tie-break: content hash over the non-marker columns, so two
    # updates sharing key AND version pick the same winner on every run
    # (row_number over a tied orderBy is otherwise partition-order luck;
    # fully identical rows hash equal, where any winner is the same row)
    data_cols = [c for c in allr.columns if c != "__src"]
    order.append(F.xxhash64(*data_cols).asc())
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order)
    merged = (
        allr.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    if delete_col:
        merged = merged.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    staging = path.rstrip("/") + "__compacting"
    backup = path.rstrip("/") + "__precompact"
    merged.write.mode("overwrite").parquet(staging)
    # row count from the staged parquet footers — not a second full Spark
    # job over the rewritten table
    n = parquet_row_count(staging)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return n


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


def recover_compaction(path: str) -> str:
    """Repair a compaction interrupted anywhere in its swap sequence.

    States (staging = `path__compacting`, backup = `path__precompact`):
      - table present:             drop leftover staging/backup (the
                                   rewrite either finished or never
                                   swapped — the live dir is truth)
      - table missing, staging has _SUCCESS:  roll FORWARD (promote
                                   staging, drop backup)
      - table missing, staging incomplete:    roll BACK (restore backup,
                                   drop staging)

    Returns which action ran: 'clean' | 'cleanup' | 'forward' | 'back'.
    Idempotent; called automatically by `compact_partitioned`.
    """
    import shutil

    staging = path.rstrip("/") + "__compacting"
    backup = path.rstrip("/") + "__precompact"
    if os.path.isdir(path):
        if not os.path.isdir(staging) and not os.path.isdir(backup):
            return "clean"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(backup, ignore_errors=True)
        return "cleanup"
    if os.path.isdir(staging) and os.path.exists(os.path.join(staging, "_SUCCESS")):
        os.rename(staging, path)
        shutil.rmtree(backup, ignore_errors=True)
        return "forward"
    if os.path.isdir(backup):
        os.rename(backup, path)
        shutil.rmtree(staging, ignore_errors=True)
        return "back"
    raise FileNotFoundError(
        f"{path}: no table, no recoverable staging/backup — nothing to repair"
    )
