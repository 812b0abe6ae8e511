"""Bronze→silver blockchain parser — the Spark rebuild of reference
parse.py (DataParser), producing the four silver tables of SURVEY.md §1.2:

  blocks          P1/P6/P8: nested projection, date parts, casts
  tx_result       P2/P3, J1: struct flatten + broadcast block-time join
  log_attributes  R1/P4: safe JSON parse + 3-level explode (long/EAV)
  events (wide)   R5 intent: posexplode → unbase64 → occurrence → pivot

Design decisions (SURVEY.md §4.2):
- `log_attributes` (EAV) is the CANONICAL store; wide `events` is derived.
  The pivot's column set is data-dependent: each batch `run` appends
  carries its own columns, so `events` is read with `mergeSchema`.
- Ordinals (`msg_index`, `occurrence`) come from posexplode positions, not
  input row order (the reference's cumcount relies on pandas row order —
  non-reproducible; SURVEY R3).
- The reference's misaligned wide-events join (parse.py:173-175) is NOT
  replicated — we implement the intent: one row per (tx, occurrence), one
  column per type_key (SURVEY R5).
- Zero Python UDFs: from_json, unbase64, explode, pivot are all JVM-side.

Scale: every transform is a narrow map until the single pivot/groupBy
shuffle; the blocks-time join broadcasts the (small per-batch) blocks side.
`run` reads and parses each batch's blocks and txs JSON once, into two
cached frames the four tables derive from (`parse_tables`), and writes the
four tables side by side (`session.run_concurrently`): a sync batch is a
few MB, so each of its jobs is one task, and run one after another they
would leave all but one core idle.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from functools import partial
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import (
    LOG_ATTRIBUTES_COLUMNS,
    LOG_SCHEMA,
    RAW_BLOCK_SCHEMA,
    RAW_TX_SCHEMA,
    TX_RESULT_COLUMNS,
)
from .session import run_concurrently

__all__ = [
    "read_raw_blocks",
    "read_raw_txs",
    "parse_blocks",
    "parse_txs",
    "parse_tx_result",
    "parse_log_attributes",
    "parse_events_wide",
    "attach_block_time",
    "parse_tables",
    "run",
]


def read_raw_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Bronze block scan with the explicit schema (never infer; SRC10).

    PERMISSIVE mode: a malformed line yields a row of NULLs instead of
    failing the job — the engine-native form of the reference's
    "non-JSON → skip" transport rule (extract.py:361-366). Use
    `read_raw_with_corrupt` when the malformed payloads themselves need
    to be captured for repair.
    """
    return spark.read.schema(RAW_BLOCK_SCHEMA).json(path)


def read_raw_txs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(RAW_TX_SCHEMA).json(path)


def read_raw_with_corrupt(spark: SparkSession, path: str, schema):
    """Bronze scan that dead-letters malformed lines instead of silently
    nulling them: returns (good_rows, corrupt_rows). The corrupt side
    carries the raw line for the repair job — the parse-path analog of
    the ingest client's error_heights ledger (SRC16/S3)."""
    from pyspark.sql.types import StringType, StructType

    corrupt = "_corrupt_record"
    with_corrupt = StructType(list(schema.fields)).add(corrupt, StringType())
    df = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
    )
    # capture file origin at scan time (input_file_name is empty once the
    # relation is cached), then cache so filtering on the corrupt column
    # is allowed (Spark forbids it directly on the lazy json relation)
    df = df.withColumn("__src", F.input_file_name()).cache()
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt, "__src")
    bad = df.filter(F.col(corrupt).isNotNull()).select(
        F.col("__src").alias("source_file"), F.col(corrupt).alias("raw_line")
    )
    return good, bad


def _date_parts(ts_col):
    """day/month/year STRINGS — matches the reference's
    pd.to_period('D'|'M'|'Y').astype(str) semantics (parse.py:136-138)."""
    return [
        F.date_format(ts_col, "yyyy-MM-dd").alias("day"),
        F.date_format(ts_col, "yyyy-MM").alias("month"),
        F.date_format(ts_col, "yyyy").alias("year"),
    ]


def parse_blocks(raw_blocks: DataFrame) -> DataFrame:
    """blocks silver table (reference parse.py:130-139).

    Nested projection (P1) + string→long cast (P8) + ns-RFC3339 timestamp
    parse. Spark TimestampType is µs — the ns tail is truncated, the
    documented divergence (SURVEY §1.5); `time_ns_frac` is NOT kept because
    no downstream model consumes sub-µs precision.
    """
    ts = F.to_timestamp(
        # normalize RFC3339: trim to µs precision, keep the zone designator
        F.regexp_replace("block.header.time", r"(\.\d{6})\d*(Z|[+-]\d{2}:\d{2})$", "$1$2")
    )
    return raw_blocks.select(
        F.col("block.header.height").cast("long").alias("height"),
        F.col("block.header.chain_id").alias("chain_id"),
        ts.alias("time"),
        F.col("block.header.proposer_address").alias("proposer_address"),
        *_date_parts(ts),
    )


# tx_result fields kept as tx_result columns (reference parse.py:141-146)
TX_SCALARS = ("gas_wanted", "gas_used", "code", "codespace", "info")


def parse_txs(raw_txs: DataFrame) -> DataFrame:
    """The one parsed tx frame the three tx silver tables derive from, one
    row per raw tx: `hash`, `height`, the `tx_result` scalars, `logs` (the
    `log` string through from_json) and `attrs`, the tx's decoded
    event attributes with their ordinals (see `parse_events_attrs`), NULL
    when the tx has none.

    Each public `parse_*` tx function is a projection of this frame, and
    column pruning drops what it does not select, so a caller parsing only
    tx_result pays for no JSON or base64 work.
    """
    # flattened per-tx attr array: (event_pos, attr_pos, type, key, value)
    # with b64 decode (P5 — reference decode_base64 at parse.py:51-64)
    arr = F.expr(
        """
        flatten(transform(tx_result.events, (e, ep) ->
            transform(e.attributes, (a, ap) -> named_struct(
                'event_pos', ep,
                'attr_pos', ap,
                'type', e.type,
                'key', cast(unbase64(a.key) as string),
                'value', cast(unbase64(a.value) as string)))))
        """
    )
    # occurrence via earlier-same-key count; combined_key compared as the
    # same concat_ws string the output exposes (null key ≡ skipped part)
    occ = F.expr(
        """
        transform(sequence(0, size(arr) - 1), i -> named_struct(
            'event_pos', arr[i].event_pos,
            'attr_pos', arr[i].attr_pos,
            'type', arr[i].type,
            'key', arr[i].key,
            'value', arr[i].value,
            'combined_key', concat_ws('_', arr[i].type, arr[i].key),
            'occurrence', cast(size(filter(slice(arr, 1, i), y ->
                concat_ws('_', y.type, y.key) =
                concat_ws('_', arr[i].type, arr[i].key))) as bigint)))
        """
    )
    cols = ["hash", "height", *TX_SCALARS, "logs"]
    # `when`: for an empty array, sequence(0, -1) is [0, -1] and arr[0] fails
    return raw_txs.select(
        "hash",
        F.col("height").cast("long").alias("height"),
        *[F.col(f"tx_result.{c}").alias(c) for c in TX_SCALARS],
        F.from_json("tx_result.log", LOG_SCHEMA).alias("logs"),
        arr.alias("arr"),
    ).select(*cols, F.when(F.size("arr") > 0, occ).alias("attrs"))


def _tx_result(txs: DataFrame) -> DataFrame:
    return txs.select("hash", "height", *TX_SCALARS)


def parse_tx_result(raw_txs: DataFrame) -> DataFrame:
    """tx_result silver table *before* the block-time join (reference
    parse.py:141-146): struct flatten (P2) + key columns."""
    return _tx_result(parse_txs(raw_txs))


def _log_attributes(txs: DataFrame) -> DataFrame:
    return (
        txs.select("hash", "height", F.explode("logs").alias("msg"))
        # P17: single-msg logs omit msg_index — fill 0 (the reference's
        # fillna(0) on the normalized logs, parse.py:154)
        .select("hash", "height", F.coalesce(F.col("msg.msg_index"), F.lit(0).cast("long")).alias("msg_index"), F.explode("msg.events").alias("event"))
        .select("hash", "height", "msg_index", F.col("event.type").alias("type"), F.explode("event.attributes").alias("attr"))
        .select("hash", "height", "msg_index", "type", F.col("attr.key").alias("key"), F.col("attr.value").alias("value"))
    )


def parse_log_attributes(raw_txs: DataFrame) -> DataFrame:
    """log_attributes silver table — long/EAV (reference parse.py:148-162).

    The `log` string → from_json (P4: malformed → NULL row, the 'safe
    parse' semantics) → explode msgs → explode events → explode attributes
    (R1). Explode preserves sibling columns, so no np.repeat (R2) needed.
    """
    return _log_attributes(parse_txs(raw_txs))


def _events_attrs(txs: DataFrame) -> DataFrame:
    return txs.select("hash", "height", F.explode("attrs").alias("r")).select(
        "hash",
        "height",
        *[
            F.col(f"r.{c}").alias(c)
            for c in ("event_pos", "attr_pos", "type", "key", "value", "combined_key", "occurrence")
        ],
    )


def parse_events_attrs(raw_txs: DataFrame) -> DataFrame:
    """Typed-events attributes in EAV form with deterministic ordinals
    (the intent of reference parse.py:164-178, without its row
    misalignment — SURVEY R5).

    (event_pos, attr_pos) give a total order per tx; `occurrence` = rank
    of this attr among same-combined_key attrs of the tx, in that order.

    ZERO-SHUFFLE plan: a tx's events live in ONE array cell, so the
    ordinal is computed inside the array (count of earlier elements with
    the same combined_key — O(n²) interpreted-lambda steps on a
    few-element array) before a single explode. The first cut instead
    ran row_number() over Window.partitionBy(hash, height, combined_key)
    AFTER exploding — a full shuffle+sort of the EAV table, the largest
    frame in the pipeline, purely to recover per-tx information the
    pre-explode row still had. At 100 TB that shuffle is the difference
    between a map-only parse and re-clustering the corpus; equality with
    the window plan is pinned in
    tests/test_parse.py::test_events_attrs_matches_window_plan.
    """
    return _events_attrs(parse_txs(raw_txs))


# The distinct combined_key set of raw txs, decoding only event types and
# attribute keys (see `parse_events_wide`). Over uncached bronze it is the
# cheap discovery: on 4 vCPU, median of 9, it took 189 ms on 100 blocks and
# 174 ms on 1,300, against 1.06 s and 5.9 s for `attrs.combined_key` of
# `parse_txs`, whose value decode and occurrence lambda column pruning
# does not remove. `parse_tables` reads the keys from its cached tx frame
# instead, which has already paid for that parse.
_RAW_PIVOT_KEYS = """
    flatten(transform(tx_result.events, e ->
        transform(e.attributes, a ->
            concat_ws('_', e.type, cast(unbase64(a.key) as string)))))
"""


def _pivot_keys(df: DataFrame, keys) -> list[str]:
    """The sorted distinct values of the combined_key array column `keys`
    over `df`, as Spark's dynamic pivot would discover them, under its
    `spark.sql.pivotMaxValues` guard (ADVICE r13 #1): without it a
    pathological combined_key vocabulary would collect unboundedly to the
    driver where `grouped.pivot(col)` would have raised."""
    max_values = int(df.sparkSession.conf.get("spark.sql.pivotMaxValues", "10000"))
    key_values = [
        r[0]
        for r in df.select(F.explode(keys).alias("ck"))
        .distinct()
        .sort("ck")
        .limit(max_values + 1)
        .collect()
    ]
    if len(key_values) > max_values:
        raise ValueError(
            f"The pivot column combined_key has more than {max_values} "
            "distinct values; raise spark.sql.pivotMaxValues."
        )
    return key_values


def _events_wide(txs: DataFrame, key_values: list[str]) -> DataFrame:
    grouped = _events_attrs(txs).groupBy("hash", "height", "occurrence")
    return grouped.pivot("combined_key", key_values).agg(F.first("value"))


def parse_events_wide(raw_txs: DataFrame) -> DataFrame:
    """events silver table — wide/pivoted (reference parse.py:164-180).

    Dynamic pivot (R4): the distinct key set is discovered and passed to
    the pivot explicitly (SURVEY §4.2 — at 100 TB the distinct pass is
    one cheap column-pruned scan).

    r13-opt: Spark's built-in dynamic pivot discovers values by running
    the pivot CHILD's plan again — here the full EAV build (JSON parse,
    base64 decode of keys AND values, the per-array occurrence ordinal
    lambda). The discovery pass needs none of that: a projection that
    decodes only event types and attribute keys yields the same
    distinct combined_key set, sorted exactly as Spark sorts discovered
    pivot values, with the same driver-side vocabulary-bounded collect
    the built-in path performs. One full EAV pass per build instead of
    two.
    """
    return _events_wide(parse_txs(raw_txs), _pivot_keys(raw_txs, F.expr(_RAW_PIVOT_KEYS)))


def attach_block_time(df: DataFrame, blocks: DataFrame) -> DataFrame:
    """J1: enrich a silver table with blocks.{time,day,month,year} on
    height (reference parse.py:219-221, pd.merge inner). The blocks side
    of one batch is tiny relative to txs → broadcast, zero shuffle."""
    time_cols = blocks.select("height", "time", "day", "month", "year")
    return df.join(F.broadcast(time_cols), "height", "inner")


SILVER_TABLES = ("blocks", "tx_result", "log_attributes", "events")


@contextmanager
def parse_tables(spark: SparkSession, blocks_path, txs_path) -> Iterator[dict[str, DataFrame]]:
    """The four silver tables over the given bronze (a path or a list of
    files each), for the body of a `with` block.

    Blocks and txs are each read and parsed once, into a cached frame that
    every table derives from: `blocks` is its frame, the tx tables project
    `parse_txs`, and each attaches block time from the cached blocks. The
    `events` pivot keys are discovered from the cached tx frame before any
    join, so the key set is that of the whole batch. Both frames are
    unpersisted when the block exits; a table used after that re-reads
    its bronze.
    """
    blocks = parse_blocks(read_raw_blocks(spark, blocks_path)).cache()
    txs = parse_txs(read_raw_txs(spark, txs_path)).cache()
    try:
        keys = _pivot_keys(txs, F.col("attrs.combined_key"))
        yield {
            "blocks": blocks,
            "tx_result": attach_block_time(_tx_result(txs), blocks).select(*TX_RESULT_COLUMNS),
            "log_attributes": attach_block_time(_log_attributes(txs), blocks).select(
                *LOG_ATTRIBUTES_COLUMNS
            ),
            "events": attach_block_time(_events_wide(txs, keys), blocks),
        }
    finally:
        txs.unpersist()
        blocks.unpersist()


# The parsed-file ledger (reference parse.py:97-111): bronze file path →
# [size, mtime_ns] of every file the silver tables hold. It lives at the
# silver root, so it travels with the tables it describes: restoring an
# older silver restores its ledger, and `io.compact_partitions`, which
# rewrites partition directories inside one table, leaves it alone.
LEDGER = "_parsed_files.json"


# Files a silver partition may hold before an append compacts it into
# one. Each append adds about one file to each partition it touches, and
# page queries pay per file; compacting costs a read and a rewrite of the
# partition (about 1 s a batch for all four tables at benchmark scale, a
# third of an incremental sync). On 4 vCPU, over 20 consecutive 100-block
# syncs, a bound of 4 kept the page-load median level with a full rebuild
# per sync (116 vs 113 ms); a bound of 8 left it 27% slower (143 ms).
MAX_PARTITION_FILES = 4


def _list_bronze(landing_dir: str) -> dict[str, list[int]]:
    """path → [size, mtime_ns] of the files Spark's reader would load from
    a landing directory (hidden `_`/`.` names skipped); none when the
    directory does not exist yet."""
    try:
        names = sorted(os.listdir(landing_dir))
    except FileNotFoundError:
        return {}
    out = {}
    for n in names:
        f = os.path.abspath(os.path.join(landing_dir, n))
        if not n.startswith(("_", ".")) and os.path.isfile(f):
            st = os.stat(f)
            out[f] = [st.st_size, st.st_mtime_ns]
    return out


def _read_ledger(out_dir: str) -> dict | None:
    try:
        with open(os.path.join(out_dir, LEDGER)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _write_ledger(out_dir: str, files: dict, pending: bool) -> None:
    """Atomic replace: a reader sees the old ledger or the new one."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f".{LEDGER}.tmp")
    with open(tmp, "w") as f:
        json.dump({"pending": pending, "files": files}, f)
    os.replace(tmp, os.path.join(out_dir, LEDGER))


def _silver_intact(out_dir: str) -> bool:
    """Whether all four silver tables exist. The ledger vouches for files
    parsed into tables; a table gone can only be restored from bronze."""
    return all(os.path.isdir(f"{out_dir}/{name}") for name in SILVER_TABLES)


def _new_files(ledger: dict | None, blocks: dict, txs: dict) -> tuple[list, list] | None:
    """The (blocks, txs) files to append, or None when only a full rebuild
    is safe: no ledger, a commit still pending (appends may have landed
    without it), a ledgered file changed or gone, or new blocks and txs
    files that do not pair up by batch name — a txs batch joins block
    times from the blocks batch of the same range, so one whose blocks
    were parsed earlier would lose its rows."""
    if ledger is None or ledger.get("pending", True):
        return None
    listed = {**blocks, **txs}
    done = ledger.get("files", {})
    if any(listed.get(p) != stat for p, stat in done.items()):
        return None
    new_b = [p for p in blocks if p not in done]
    new_t = [p for p in txs if p not in done]
    if sorted(map(os.path.basename, new_b)) != sorted(map(os.path.basename, new_t)):
        return None
    return new_b, new_t


def run(
    spark: SparkSession,
    blocks_path: str,
    txs_path: str,
    out_dir: str,
) -> dict[str, DataFrame]:
    """Bronze→silver hop (reference DataParser.run, parse.py:202-226).

    Brings the four silver tables under `out_dir` up to date with the
    landing zone, each partitioned by year/month/day (SRC12), and returns
    the frames this call wrote:

    - files already in the parsed-file ledger are not read again; new ones
      are parsed and appended to the four tables (no new files: no Spark
      job at all, and an empty dict back);
    - without a usable ledger (see `_new_files`), or with a silver table
      missing (see `_silver_intact`), every table is rebuilt from the
      whole landing zone, as a full overwrite.

    The new files are parsed once (`parse_tables`), and the four tables
    are written side by side, each on its own thread. After each append,
    every partition the batch wrote to that now holds more than
    `MAX_PARTITION_FILES` files is rewritten into one
    (`io.compact_partitions`), by the thread that wrote the table, so
    files per partition stay bounded however many batches land. All four
    threads finish before the first error is raised. The ledger is marked
    pending before the first write and committed after the last
    compaction, so a crash between them makes the next run rebuild rather
    than append the same files twice or trust a half-swapped partition.

    Appended `events` files carry only the pivot columns their batch
    produced: read silver `events` with `mergeSchema` (the
    `tests/test_schema_evolution.py` policy); a compacted partition holds
    the merged columns.
    """
    from .io import compact_partitions, partition_files, write_partitioned

    blocks, txs = _list_bronze(blocks_path), _list_bronze(txs_path)
    ledger = _read_ledger(out_dir) if _silver_intact(out_dir) else None
    new = _new_files(ledger, blocks, txs)
    if new is None:
        mode, done, new = "overwrite", {}, (list(blocks), list(txs))
    elif not new[0]:
        return {}
    else:
        mode, done = "append", ledger["files"]

    def write(name: str, df: DataFrame) -> None:
        path = f"{out_dir}/{name}"
        before = partition_files(path) if mode == "append" else {}
        write_partitioned(df, path, mode=mode)
        if mode == "append":
            over = [
                p
                for p, n in partition_files(path).items()
                if n > max(before.get(p, 0), MAX_PARTITION_FILES)
            ]
            compact_partitions(spark, path, over)

    with parse_tables(spark, *new) as tables:
        _write_ledger(out_dir, done, pending=True)
        run_concurrently(spark, [partial(write, name, df) for name, df in tables.items()])
    _write_ledger(out_dir, {**blocks, **txs}, pending=False)
    return tables
