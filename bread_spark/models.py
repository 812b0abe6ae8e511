"""Gold model DAG — the reference's dbt models re-expressed Spark-first.

Every function here takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching DuckDB oracle SQL lives in ``ORACLE_SQL`` keyed by the same name.
Column names are aliased identically on both sides (driver hash-compares
values after sorting columns by name).

Operator coverage (SURVEY.md §2):
  A1-A4 group aggregations, W1 cumulative windows, W2 ordinals,
  J1 broadcast equi-join, J2 left join, J3 anti-join, J4 union append,
  S-OP1 union-distinct, P5 base64, P7 date_trunc, P8 casts, P9/P10 regex,
  P11 concat, P12 JSON extract, P13 explode/unnest, R4 dynamic pivot,
  O1 sort, plus distinct-agg / rollup / top-k extensions the reference
  lacks (SURVEY §2.5 "absent" list).

Scale notes are inline: each model states why its plan survives 100 TB.

Reference citations: dbt/old_models/txs/num_txs_per_day.sql,
cum_txs_per_day.sql, gas/gas_used_per_day.sql, ibc/*.sql (via SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import load_table


# ---------------------------------------------------------------------------
# Daily / hourly aggregations (A1-A4, P7)  [ref: num_txs_per_day.sql,
# gas_used_per_day.sql, daily_ibc_transfers.sql, hourly_ibc_transfers.sql]
# ---------------------------------------------------------------------------

def txs_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(1) per day (ref num_txs_per_day.sql:1-11).

    Scale: partial (map-side) count per partition then one shuffle on ~365
    day keys — no skew concern; scan prunes to (ts) only.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.col("ts").cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("tx_count"))
    )


def value_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum(value) per day (ref gas_used_per_day.sql:1-5 analog)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.col("ts").cast("date").alias("day"), "value")
        .groupBy("day")
        .agg(F.round(F.sum("value"), 4).alias("total_value"))
    )


def daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum over 2 group keys (ref daily_ibc_transfers.sql:1-19 shape)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.col("ts").cast("date").alias("day"), "event_type", "value")
        .groupBy("day", "event_type")
        .agg(F.round(F.sum("value"), 4).alias("total_value"))
    )


def hourly_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hourly variant (ref hourly_ibc_transfers.sql:1-19 shape)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.date_trunc("hour", "ts").alias("hour"), "event_type", "value")
        .groupBy("hour", "event_type")
        .agg(F.round(F.sum("value"), 4).alias("total_value"))
    )


def distinct_users_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) — absent from the reference (SURVEY §2.5), added.

    Scale: exact distinct needs a two-stage shuffle; for 100 TB dashboards
    prefer approx_count_distinct (see bench notes) — exact kept here because
    the oracle gate demands exact values.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("unique_users"))
    )


# ---------------------------------------------------------------------------
# Cumulative windows (W1)  [ref cum_txs_per_day.sql, daily_cum_ibc_transfers.sql]
# ---------------------------------------------------------------------------

def cum_txs_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative count over days (ref cum_txs_per_day.sql:4-8).

    The unpartitioned window runs on the *aggregated* (≤ thousands of rows)
    output, so the single-partition sort is trivially small even at 100 TB
    of input — the heavy lifting was the day-grain pre-aggregation.
    """
    daily = txs_per_day(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select("day", "tx_count", F.sum("tx_count").over(w).alias("cum_tx_count"))


def cum_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type cumulative sum — the per-denom-partitioned correction of the
    reference's unpartitioned daily_cum_ibc_transfers.sql:4-6 (SURVEY W1
    notes the reference omits PARTITION BY; we implement the correct
    per-key semantics and the oracle encodes the same)."""
    daily = daily_value_by_type(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "day",
        "event_type",
        "total_value",
        F.round(F.sum("total_value").over(w), 4).alias("cum_value"),
    )


# ---------------------------------------------------------------------------
# Joins (J1-J3)  [ref parse.py:219-221 block join; ibc_transfers_in.sql:36;
# extract.py:246-251 anti-join]
# ---------------------------------------------------------------------------

def revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way equi-join + group agg (J1 shape at star-schema scale).

    Scale: lineitem⋈orders shuffles on orderkey (both huge → sort-merge,
    AQE may skew-split); customer is small relative → broadcast hint so the
    second join adds NO shuffle. Filters/projections reach the parquet scan.
    """
    # r13 note: pre-aggregating lineitem per orderkey before the join
    # (4x fewer shuffled rows) was built and REJECTED — the reordered
    # double summation flipped the round(4) boundary at sf0.1
    # (…28.4 vs …28.3999 against the oracle). The revenue expression is
    # a double-lattice sum, so the summation tree must stay the single
    # segment-level aggregate both engines execute today.
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


def orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join chain with small-dim broadcast (J2 + J1).

    nation (25 rows) and customer are broadcast: zero shuffles beyond the
    final 25-key aggregation.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 4).alias("total_revenue"),
        )
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (J3; ref extract.py:246-251 set-difference intent).

    Scale: left_anti on custkey; orders side is pre-projected to the join
    key only so the shuffle moves 8 bytes/row.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")


# ---------------------------------------------------------------------------
# Set ops (S-OP1)  [ref ibc_transfers.sql:1-10 union-distinct]
# ---------------------------------------------------------------------------

def event_flows_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inflows ∪ outflows with sign flip, UNION **distinct** semantics
    preserved (ref ibc_transfers.sql:5-6 uses plain UNION which dedupes;
    P16 negate at ibc_transfers.sql:6)."""
    # One conditional-sign scan instead of two filtered scans unioned:
    # the row multiset entering .distinct() is identical (each event row
    # lands in exactly one branch), so UNION-distinct semantics hold.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("purchase", "error"))
        .select(
            F.col("ts").cast("date").alias("day"),
            F.col("user_id"),
            F.round(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    -F.col("value")
                ),
                4,
            ).alias("flow_value"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Scalar functions: regex, JSON, base64, concat (P5, P9-P12)
# [ref ibc_transfers_in.sql:7-16 regex; parse.py:51-64 base64;
#  parse.py:177 concat; ibc_transfers_in.sql:9-34 JSON extract]
# ---------------------------------------------------------------------------

def brand_number_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract digits / regexp_replace strip (P9/P10, the
    '123uatom' → (123, 'uatom') split at ibc_transfers_in.sql:7-16)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
            F.regexp_replace("p_brand", "[0-9]+", "").alias("brand_prefix"),
            "p_retailprice",
        )
        .groupBy("brand_num", "brand_prefix")
        .agg(
            F.count(F.lit(1)).alias("part_count"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column (P12: parsed->'key').

    get_json_object stays JVM-side (no UDF); the cast-to-int mirrors the
    reference's ::numeric casts (P8).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """base64 encode/decode parity (P5; ref decode_base64 parse.py:51-64).

    unbase64/base64 are native JVM expressions — the reference used a
    row-at-a-time Series.apply here; Spark needs no Python at all.
    """
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.base64(F.col("p_name").cast("binary")).alias("name_b64"),
        F.unbase64(F.base64(F.col("p_name").cast("binary"))).cast("string").alias("name_decoded"),
    )


def lineitem_flag_status_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String concat combined key (P11: combined_key = type+'_'+key at
    parse.py:177) + occurrence ordinal per key (W2/R3 row_number)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("combined_key").orderBy("l_orderkey", "l_linenumber")
    return (
        li.select(
            F.concat_ws("_", "l_returnflag", "l_linestatus").alias("combined_key"),
            "l_orderkey",
            "l_linenumber",
        )
        .withColumn("occurrence", (F.row_number().over(w) - F.lit(1)).cast("long"))
        .groupBy("combined_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("occurrence").alias("max_occurrence"),
        )
    )


# ---------------------------------------------------------------------------
# Explode / pivot (P13, R1, R4)  [ref parse.py:148-180,
# ibc_transfers_in.sql:17-34 unnest]
# ---------------------------------------------------------------------------

def doc_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array unnest → frequency count (P13/R1 explode chain analog).

    Scale: explode multiplies rows ~40x before the shuffle — the groupBy
    does map-side partial aggregation so the shuffle carries one row per
    distinct word per partition, not per token.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_count"))
    )


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with an explicit value list (R4; ref parse.py:179).

    Passing the value list avoids the extra distinct-keys pass (SURVEY R4
    note); at 100 TB the dynamic variant would do that pass once and cache.
    Nulls→0 to keep a dense fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.select(F.col("ts").cast("date").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


# ---------------------------------------------------------------------------
# Flagship / bench queries (multi-operator)
# ---------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the flagship query (scan → filter
    → 2-key groupBy with 6 aggregates). Whole plan is one scan + one
    shuffle on 6 keys; every expression is codegen'd JVM-side."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break (O1 + LIMIT, which the reference
    lacks — SURVEY §2.8). Ordering on the rounded value + key makes the
    result stable across engines."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("p_partkey"), F.col("p_name"), F.col("revenue"))
    )
    return rev.orderBy(F.desc("revenue"), F.asc("p_partkey")).limit(10)


def nation_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets aggregation (absent in reference, SURVEY §2.5).

    region←nation are broadcast; rollup adds grouping-set expansion before
    the same single shuffle.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    )


def user_activity_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event count + time span (min/max aggregation over time,
    A5/A6 shape from extract.py:236-243,539-551)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semi-join (TPC-H Q4 shape): orders having at least one
    returned lineitem, counted by priority. LeftSemi keeps the probe side
    unduplicated — no distinct needed, and the build side shrinks to its
    join key at the exchange."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def late_shipment_rate_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped two-tier conditional count over the
    lineitem⋈orders key join: per order priority, how many lineitems
    shipped LATE (more than 30 days after the order date) vs total,
    with the exact truncating-division late_ppm. The fulfilment-SLA
    table ops reads next to `orders_with_returns`' Q4 shape.

    Scale shape: both sides keyed on the order key (the natural
    co-partitioning at warehouse scale — bucketed tables make this
    join exchange-free); ONE conditional aggregate after the join,
    output O(priorities). Date arithmetic is integer days on DATE
    columns — identical on both engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    return late_shipment_df(li, orders)


def late_shipment_df(li: DataFrame, orders: DataFrame) -> DataFrame:
    """`late_shipment_rate_by_priority` core over any (l_orderkey,
    l_shipdate) × (o_orderkey, o_orderdate, o_orderpriority) frames."""
    # both columns are TIMESTAMP in the parquet — compare on the DATE
    # grain explicitly so Spark and DuckDB bind the identical predicate
    late_pred = (
        "CAST(l_shipdate AS DATE) > date_add(CAST(o_orderdate AS DATE), 30)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr(
                f"CAST(sum(CASE WHEN {late_pred} THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_late"),
            F.expr(
                f"CAST((CAST(sum(CASE WHEN {late_pred} THEN 1 ELSE 0 END)"
                " AS DECIMAL(38,0)) * 1000000) div count(1) AS BIGINT)"
            ).alias("late_ppm"),
        )
    )


def approx_distinct_users_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct (SURVEY §2.5 lists approximate aggregates as
    a Spark-free extension). At 100 TB this replaces exact distinct for
    dashboards: the sketch is fixed-size and mergeable, so partial
    aggregation works map-side and the shuffle carries sketches, not user
    ids. Rows-only correctness (sketch estimates are engine-specific);
    tests assert the estimate lands within the configured rsd of exact.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
    )


def regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with local-supplier predicate
    (c_nationkey = s_nationkey), region filter, revenue by nation.

    Plan shape at scale: lineitem⨝orders⨝customer shuffle on their keys;
    supplier/nation/region broadcast; the region filter prunes *through*
    the broadcast dims before the fact shuffle (Catalyst pushes it into
    the dimension scans).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    ).filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name").filter(
        F.col("r_name") == "ASIA"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


def returned_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items, top-20 customers.
    Deterministic ordering: rounded revenue desc, then custkey."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"
    ).filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "lost_revenue"
            )
        )
    )
    return rev.orderBy(F.desc("lost_revenue"), F.asc("c_custkey")).limit(20)


def value_cube_by_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets aggregation (absent in reference; SURVEY §2.5
    lists cube/rollup as free Spark extensions).

    r13: pre-aggregate to the (day, event_type) base cell FIRST, then
    CUBE over the tiny cell frame. The naive cube expands every input
    row ×4 grouping sets BEFORE partial aggregation, so the shuffle
    carries up to 4× the partial rows; the pre-aggregate shuffles one
    partial row per task-local cell and the ×4 expansion touches only
    O(days × types) rows. SUM/COUNT decompose exactly (sum of cell
    sums, sum of cell counts); rounding stays at the outermost sum.

    ADVICE r13 #2 adjudication (the revenue_by_segment precedent): the
    subtotal/grand-total rows re-associate a double sum, the same
    round(4)-boundary risk class that got revenue_by_segment's pre-agg
    REJECTED. Kept here because (a) partial aggregation already
    re-associates the naive cube's sums per grouping set — the rewrite
    adds one extra association level, not a new nondeterminism class;
    (b) it is hash-certified vs the oracle at sf0.001/0.01/0.1, and the
    nightly AQE-parity pin (test_aqe_parity.py) guards the summation
    tree against runtime re-planning; (c) the at-scale win is 4× fewer
    shuffled partial rows. If a future SF flips a boundary, revert to
    the naive cube (one-line change) — result identity wins."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(F.col("ts").cast("date").alias("day"), "event_type", "value")
        .groupBy("day", "event_type")
        .agg(F.sum("value").alias("cell_value"), F.count(F.lit(1)).alias("cell_n"))
    )
    return cells.cube("day", "event_type").agg(
        F.round(F.sum("cell_value"), 4).alias("total_value"),
        F.sum("cell_n").alias("n"),
    )


def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (absent in reference;
    quantiles are a §2.5 extension). Spark's `percentile` matches
    PERCENTILE_CONT/quantile_cont interpolation exactly.

    Scale: exact percentile holds all group values — at 100 TB switch to
    `percentile_approx` (t-digest, mergeable, bounded memory); it's the
    same call-site with a rank-error knob, but no longer oracle-exact."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def day_over_day_txs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag window over the day grain (reference uses only running
    sums — SURVEY §2.6 notes no lead/lag; added as surface extension).
    Window is over the tiny day-grain aggregate, not the raw events."""
    daily = txs_per_day(spark, sf_dir)
    w = Window.orderBy("day")
    return daily.select(
        "day",
        "tx_count",
        (F.col("tx_count") - F.lag("tx_count").over(w)).alias("dod_change"),
    )


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel over the event stream: per user, the first
    view, the first click within 24 hours AT OR AFTER that view, and the
    first purchase within 24 hours of that click; rolled up by the day of
    the first view into stage counts (the MATCH_RECOGNIZE-ish analytics
    op, expressed as cumulative conditional mins instead of a per-row
    pattern engine — the horizon is what makes stages discriminate).

    Plan: ONE shuffle on user_id — both cumulative windows and the
    per-user aggregate share the partitioning, so the groupBy that
    follows the window adds no exchange; the day rollup is a tiny final
    aggregate. Windows use the RANGE frame (peers included) so same-
    timestamp view+click pairs resolve identically in both engines.
    Scale: the only big exchange is keyed on user_id — the natural,
    high-cardinality key; no self-joins, no per-row pattern state.
    """
    # Only the three funnel types can contribute to any stage min or to
    # the rollup counts, and users without a view are dropped by the
    # t_view filter below — so filtering BEFORE the user_id exchange
    # shuffles/sorts ~40% fewer rows with a provably identical result.
    # (funnel_stages itself keeps full-input semantics: a user with only
    # other-type events still gets an all-null row there.)
    per_user = funnel_stages(
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", "ts")
    )
    return (
        per_user.filter(F.col("t_view").isNotNull())
        .groupBy(F.col("t_view").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_viewed"),
            F.count("t_click").alias("n_clicked"),
            F.count("t_purchase").alias("n_purchased"),
        )
    )


def funnel_stages(ev: DataFrame) -> DataFrame:
    """Per-user funnel stages (user_id, t_view, t_click, t_purchase) — the
    intermediate `conversion_funnel` rolls up. The closed form the
    cumulative windows compute: t_view = min view ts; t_click = min click
    ts in [t_view, t_view + 24 h]; t_purchase = min purchase ts in
    [t_click, t_click + 24 h]."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seen_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.withColumn(
        "click_ts",
        F.when(
            (F.col("event_type") == "click")
            & seen_view.isNotNull()
            & (F.col("ts") <= seen_view + F.expr("INTERVAL 24 HOUR")),
            F.col("ts"),
        ),
    )
    seen_click = F.min("click_ts").over(w)
    staged = staged.withColumn(
        "purchase_ts",
        F.when(
            (F.col("event_type") == "purchase")
            & seen_click.isNotNull()
            & (F.col("ts") <= seen_click + F.expr("INTERVAL 24 HOUR")),
            F.col("ts"),
        ),
    )
    return staged.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min("click_ts").alias("t_click"),
        F.min("purchase_ts").alias("t_purchase"),
    )


def txs_per_day_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`txs_per_day` joined onto a generated calendar spine so days with
    ZERO events still appear (tx_count = 0) — the date-spine pattern every
    dashboard needs before charting a time series (a silent gap reads as
    a rendering artifact; an explicit zero reads as an outage).

    Plan: the bounds come from the O(days)-row day-grain aggregate — NOT
    a second scan of the raw events — then one row explodes to the spine
    via `sequence()` and LEFT-joins back; both sides are tiny, the join
    broadcasts. The only heavy work is the same day-grain
    pre-aggregation `txs_per_day` already does."""
    daily = txs_per_day(spark, sf_dir)
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"))
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("tx_count", F.lit(0)).alias("tx_count")
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, with
    active-user counts at each day offset since that first activity — the
    standard growth-analytics triangle.

    Plan (r13): ONE user_id-keyed exchange — collect_set(day) dedups
    map-side AND replaces the former two-exchange shape (distinct on
    (user, day), then a second user_id exchange for the first-day
    window). cohort_day = array_min, offsets via explode, then the tiny
    (cohort_day, offset) aggregate. No self-joins; nothing holds more
    than a user's distinct days at once (the same bound the window form
    already implied).
    """
    per_user = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .groupBy("user_id")
        .agg(F.collect_set("day").alias("days"))
    )
    return (
        per_user.select(
            F.array_min("days").alias("cohort_day"), F.explode("days").alias("day")
        )
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def approx_value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: `percentile_approx` (mergeable sketch,
    bounded memory per group) for the same p50/p90/p99 surface as the
    exact `value_percentiles_by_type`. Rows-only by design — the sketch
    is engine-specific — with the rank-error contract pinned against the
    exact operator in tests (each approx quantile must land between the
    exact quantiles at p±rank_error)."""
    ev = load_table(spark, sf_dir, "events")
    acc = 10_000  # rank error ≤ 1/acc
    return ev.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", 0.5, acc), 4).alias("p50"),
        F.round(F.percentile_approx("value", 0.9, acc), 4).alias("p90"),
        F.round(F.percentile_approx("value", 0.99, acc), 4).alias("p99"),
    )


# Bias keeps every representable Spark timestamp (years 1–9999, epoch µs
# ∈ [−6.3e16, 2.53e17]) positive and exactly 18 digits wide, so the
# lexicographic order of the padded string equals numeric order. lpad
# TRUNCATES beyond its width — the id pad covers the full 20-digit int64
# range; negative event ids are out of contract.
_ORDER_KEY_BIAS = 100_000_000_000_000_000


def event_order_key():
    """Zero-padded biased-epoch-µs ‖ event_id string: the deterministic
    (ts, event_id) ordering key of `hourly_ohlc_by_type`'s min_by/max_by;
    `ORDER_KEY_SQL` is its byte-identical oracle form."""
    return F.concat(
        F.lpad(
            (F.unix_micros("ts") + F.lit(_ORDER_KEY_BIAS)).cast("string"), 18, "0"
        ),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )


# The oracle-SQL form of `event_order_key` (same bias, same widths).
ORDER_KEY_SQL = (
    f"lpad(CAST(epoch_us(ts) + {_ORDER_KEY_BIAS} AS VARCHAR), 18, '0')"
    " || lpad(CAST(event_id AS VARCHAR), 20, '0')"
)


def hourly_ohlc_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars per (hour, event_type): first/last value by event time
    plus min/max — the first/last-by-ordering aggregation family
    (min_by/max_by) as ONE aggregate with map-side partials and a single
    exchange — no per-row window sort over the raw stream. (Spark plans
    ordered-buffer aggregates as SortAggregate — struct-min buffers hit
    the same fallback — but the partial/final split and the single
    shuffle are what matter at scale.) Ties on ts break on event_id via
    the shared `event_order_key` string (DuckDB's arg_min/arg_max take
    only scalar keys, so the composite is encoded order-preservingly —
    biased epoch so pre-1970 timestamps order correctly, full-width id
    pad so nothing truncates). Values pass through unchanged — no
    arithmetic, no rounding needed."""
    ev = load_table(spark, sf_dir, "events")
    key = event_order_key()
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Sessions and event-time windows
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the
    previous event of the same user exceeds `SESSION_GAP_MIN`.

    Plan: one shuffle (partitionBy user) + two window passes over already
    co-located data. At 100 TB, user_id partitioning is naturally uniform
    (hot users are bounded by human activity rates).
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_sec = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    with_flag = events.withColumn(
        "new_session",
        F.when(gap_sec.isNull() | (gap_sec > SESSION_GAP_MIN * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return with_flag.withColumn("session_id", F.sum("new_session").over(run))


def session_stats(events: DataFrame) -> DataFrame:
    """Per-session rollup: events, span, value — the serving-layer shape."""
    return sessionize_batch(events).groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


def session_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: per-session rollup over the events table."""
    return session_stats(load_table(spark, sf_dir, "events"))


def windowed_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling one-hour event-time windows: value sum and count per
    event type, each window labelled by its start and end."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.round(F.sum("value"), 4).alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "total_value",
            "n_events",
        )
    )


def daily_twap_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event_type, day) — each reading
    weighted by the µs until the NEXT event of that type that day (the
    day's last reading carries no weight), the standard TWAP/IoT
    irregular-sampling average where a plain mean over-weights bursts.

    Plan: one lead() window partitioned on (event_type, day) — the day
    grain keeps partitions bounded and parallel (types × days keys, no
    single-type megapartition) — then a hash aggregate on the same keys.
    Weights are exact integers (µs); only the final ratio rounds."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(
        "event_type", F.col("ts").cast("date")
    ).orderBy("ts", "event_id")
    dt = F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
    return (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            "value",
            dt.alias("dt_us"),
        )
        .filter(F.col("dt_us").isNotNull())
        .groupBy("event_type", "day")
        .agg(
            F.when(
                F.sum("dt_us") > 0,
                F.round(F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 4),
            ).alias("twap"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
    )


SKEW_TOP_K = 10


def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for the events stream keyed on user_id:
    the top-k heaviest keys with their share of all rows, plus the
    corpus-wide skew ratio (max key count / mean key count) on every row
    — the report an operator reads before sizing a shuffle join (a ratio
    near 1 means hash partitioning is fine; a hot ratio says salt or
    broadcast).

    Plan: one count-per-key aggregate, a one-row global summary
    broadcast back, TakeOrderedAndProject for the top-k. All doubles are
    exact-integer ratios rounded once.

    r13 note: checkpointing the per-key aggregate (it feeds both the
    totals broadcast and the join's left side, so the subtree plans
    twice) was built and REJECTED on measurement: the eager checkpoint
    round-trip costs more than the second scan+aggregate at bench scale
    (5-pass A/B ~1.9 vs ~1.1 s contended window). At petabyte inputs the
    trade flips — that form is one `.localCheckpoint()` on `per_key`."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    totals = per_key.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n_rows").alias("max_rows"),
    )
    return (
        per_key.join(F.broadcast(totals))
        .select(
            "user_id",
            "n_rows",
            F.round(F.col("n_rows") / F.col("total_rows"), 6).alias("row_share"),
            # divide-first: max·keys as an integer product wraps int64 in
            # exactly the hot-key-at-scale regime this report exists for
            F.round(
                F.col("max_rows")
                / (F.col("total_rows") / F.col("n_keys").cast("double")),
                4,
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("n_rows"), F.asc("user_id"))
        .limit(SKEW_TOP_K)
    )


HIST_BIN_WIDTH = 25.0  # zero-anchored fixed-width bins


def value_histogram_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — the distribution
    panel every monitoring dashboard draws. Zero-anchored bins of width
    HIST_BIN_WIDTH; bin index = floor(value / width), deterministic in
    both engines (one double divide + floor on identical inputs).

    Plan: pure map-side bin assignment + one hash aggregate on
    (type, bin) — output is O(types × occupied bins) regardless of input
    size; the at-scale shape needs nothing else."""
    ev = load_table(spark, sf_dir, "events")
    b = F.floor(F.col("value") / HIST_BIN_WIDTH).cast("long")
    return (
        ev.select("event_type", b.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bin",
            F.round(F.col("bin") * HIST_BIN_WIDTH, 4).alias("bin_lo"),
            "n",
        )
    )


def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization: clip value to the [p01, p99] band — the
    standard robust-preprocessing step before means/regressions so a few
    corrupt readings can't drag an aggregate (the complement of
    `value_zscore_outliers`, which FLAGS instead of clipping).

    Plan: per-type exact percentiles are a tiny aggregate (one row per
    type) broadcast back onto the scan; the clip is map-side
    least/greatest. At 100 TB swap the boundary computation to
    `percentile_approx` (same call site, mergeable sketch) — the clip
    side is already scale-free. The clipped output is rounded so a
    last-ulp boundary difference between engines can't leak into the
    hash."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    return (
        ev.select("event_id", "event_type", "value")
        .join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(F.least(F.greatest("value", F.col("lo")), F.col("hi")), 4).alias(
                "value_winsorized"
            ),
        )
    )


def event_type_stats(ev: DataFrame) -> DataFrame:
    """Per-type (mu, sigma) reference stats — the tiny frame both the
    batch z-score QC and its streaming monitor broadcast. One row per
    event type regardless of input size."""
    return ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )


def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical QC over the event stream: events whose value sits more
    than 3 sample standard deviations from their type's mean — the
    data-quality monitor that catches unit regressions and log corruption
    before a corrupted batch trains anything.

    Plan: per-type mean/stddev is a tiny hash aggregate (map-side
    partials, one row per type) broadcast back onto the scan — the big
    side never shuffles. The verdict is decided on the ROUNDED z (the
    certified value), so both engines cut at the identical boundary.
    Scale: identical shape at 100 TB — the stats side stays one row per
    type regardless of input size.
    """
    ev = load_table(spark, sf_dir, "events")
    stats = event_type_stats(ev)
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        ev.select("event_id", "event_type", "value")
        .join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select("event_id", "event_type", "value", z.alias("z"))
    )


def daily_value_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily value per event type — the bounded
    sliding window frame (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
    the one frame shape the running-cumulative family doesn't cover.

    Window runs over the tiny day×type aggregate, not raw events, and the
    frame input is the ROUNDED daily total so both engines average
    identical operands (their sliding-frame summation orders differ —
    Spark re-folds the frame, DuckDB uses a segment tree)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.round(F.sum("value"), 4).alias("daily_value"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "daily_value",
        F.round(F.avg("daily_value").over(w), 4).alias("ma7"),
    )


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect) — one entry per model above, identical aliases
# ---------------------------------------------------------------------------

ORACLE_SQL: dict[str, str] = {
    "txs_per_day": """
        SELECT CAST(ts AS DATE) AS day, COUNT(1) AS tx_count
        FROM events GROUP BY 1
    """,
    "value_per_day": """
        SELECT CAST(ts AS DATE) AS day, ROUND(SUM(value), 4) AS total_value
        FROM events GROUP BY 1
    """,
    "daily_value_by_type": """
        SELECT CAST(ts AS DATE) AS day, event_type,
               ROUND(SUM(value), 4) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "hourly_value_by_type": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               ROUND(SUM(value), 4) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "distinct_users_per_day": """
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users
        FROM events GROUP BY 1
    """,
    "cum_txs_per_day": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, COUNT(1) AS tx_count
            FROM events GROUP BY 1
        )
        SELECT day, tx_count,
               CAST(SUM(tx_count) OVER (ORDER BY day ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tx_count
        FROM daily
    """,
    "cum_value_by_type": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   ROUND(SUM(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        )
        SELECT day, event_type, total_value,
               ROUND(SUM(total_value) OVER (PARTITION BY event_type ORDER BY day ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value
        FROM daily
    """,
    "revenue_by_segment": """
        SELECT c_mktsegment,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               COUNT(1) AS line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "orders_by_nation": """
        SELECT n_name,
               COUNT(1) AS order_count,
               ROUND(SUM(o_totalprice), 4) AS total_revenue
        FROM orders
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "event_flows_union": """
        SELECT CAST(ts AS DATE) AS day, user_id, ROUND(value, 4) AS flow_value
        FROM events WHERE event_type = 'purchase'
        UNION
        SELECT CAST(ts AS DATE) AS day, user_id, ROUND(-value, 4) AS flow_value
        FROM events WHERE event_type = 'error'
    """,
    "brand_number_extract": """
        SELECT regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
               regexp_replace(p_brand, '[0-9]+', '') AS brand_prefix,
               COUNT(1) AS part_count,
               ROUND(AVG(p_retailprice), 4) AS avg_price
        FROM part GROUP BY 1, 2
    """,
    "props_json_extract": """
        SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
               COUNT(1) AS event_count,
               ROUND(SUM(value), 4) AS total_value
        FROM events GROUP BY 1
    """,
    "base64_roundtrip": """
        SELECT p_partkey,
               to_base64(encode(p_name)) AS name_b64,
               decode(from_base64(to_base64(encode(p_name)))) AS name_decoded
        FROM part
    """,
    "lineitem_flag_status_key": """
        WITH keyed AS (
            SELECT l_returnflag || '_' || l_linestatus AS combined_key,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_returnflag || '_' || l_linestatus
                       ORDER BY l_orderkey, l_linenumber) - 1 AS occurrence
            FROM lineitem
        )
        SELECT combined_key, COUNT(1) AS n,
               CAST(MAX(occurrence) AS BIGINT) AS max_occurrence
        FROM keyed GROUP BY combined_key
    """,
    "doc_word_counts": """
        SELECT word, COUNT(1) AS word_count
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    """,
    "events_pivot_by_type": """
        SELECT CAST(ts AS DATE) AS day,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
               COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
               COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
               COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        FROM events GROUP BY 1
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               COUNT(1) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2024-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "top_parts_by_revenue": """
        SELECT p_partkey, p_name, revenue FROM (
            SELECT p_partkey, p_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_partkey, p_name
        ) ORDER BY revenue DESC, p_partkey ASC LIMIT 10
    """,
    "nation_revenue_rollup": """
        SELECT r_name, n_name, ROUND(SUM(o_totalprice), 4) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "user_activity_span": """
        SELECT user_id, COUNT(1) AS n_events,
               MIN(ts) AS first_ts, MAX(ts) AS last_ts,
               ROUND(SUM(value), 4) AS total_value
        FROM events GROUP BY user_id
    """,
    "orders_with_returns": """
        SELECT o_orderpriority, COUNT(1) AS order_count
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
        )
        GROUP BY o_orderpriority
    """,
    "late_shipment_rate_by_priority": """
        SELECT o_orderpriority,
               COUNT(1) AS n_lines,
               CAST(SUM(CASE WHEN CAST(l_shipdate AS DATE)
                                  > CAST(o_orderdate AS DATE) + 30
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               CAST((CAST(SUM(CASE WHEN CAST(l_shipdate AS DATE)
                                        > CAST(o_orderdate AS DATE) + 30
                                   THEN 1 ELSE 0 END) AS HUGEINT)
                     * 1000000) // COUNT(1) AS BIGINT) AS late_ppm
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    "regional_supplier_revenue": """
        SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    "returned_items_topk": """
        SELECT c_custkey, c_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS lost_revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name
        ORDER BY lost_revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "value_cube_by_type_day": """
        SELECT CAST(ts AS DATE) AS day, event_type,
               ROUND(SUM(value), 4) AS total_value, COUNT(1) AS n
        FROM events GROUP BY CUBE (day, event_type)
    """,
    "value_percentiles_by_type": """
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 4) AS p50,
               ROUND(quantile_cont(value, 0.9), 4) AS p90,
               ROUND(quantile_cont(value, 0.99), 4) AS p99
        FROM events GROUP BY event_type
    """,
    "day_over_day_txs": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, COUNT(1) AS tx_count
            FROM events GROUP BY 1
        )
        SELECT day, tx_count,
               tx_count - lag(tx_count) OVER (ORDER BY day) AS dod_change
        FROM daily
    """,
    "hourly_ohlc_by_type": f"""
        SELECT date_trunc('hour', ts) AS hour, event_type,
               arg_min(value, {ORDER_KEY_SQL}) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               arg_max(value, {ORDER_KEY_SQL}) AS close,
               COUNT(1) AS n_events
        FROM events GROUP BY 1, 2
    """,
    "session_stats": f"""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessioned AS (
            SELECT user_id, ts, value,
                   CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, COUNT(1) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               ROUND(SUM(value), 4) AS session_value
        FROM sessioned GROUP BY user_id, session_id
    """,
    "windowed_value_by_type": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
               event_type,
               ROUND(SUM(value), 4) AS total_value,
               COUNT(1) AS n_events
        FROM events
        GROUP BY 1, 2, 3
    """,
    "daily_twap_by_type": """
        WITH t AS (
            SELECT event_type, CAST(ts AS DATE) AS day, value,
                   epoch_us(lead(ts) OVER (
                       PARTITION BY event_type, CAST(ts AS DATE)
                       ORDER BY ts, event_id
                   )) - epoch_us(ts) AS dt_us
            FROM events
        )
        SELECT event_type, day,
               CASE WHEN SUM(dt_us) > 0
                    THEN ROUND(SUM(value * dt_us) / SUM(dt_us), 4) END AS twap,
               COUNT(1) AS n_intervals
        FROM t WHERE dt_us IS NOT NULL
        GROUP BY 1, 2
    """,
    "key_skew_report": f"""
        WITH per_key AS (
            SELECT user_id, COUNT(1) AS n_rows FROM events GROUP BY 1
        ),
        t AS (
            SELECT SUM(n_rows) AS total_rows, COUNT(1) AS n_keys,
                   MAX(n_rows) AS max_rows
            FROM per_key
        )
        SELECT p.user_id, p.n_rows,
               ROUND(p.n_rows / CAST(t.total_rows AS DOUBLE), 6) AS row_share,
               ROUND(t.max_rows / (t.total_rows / CAST(t.n_keys AS DOUBLE)), 4)
                   AS skew_ratio
        FROM per_key p CROSS JOIN t
        ORDER BY p.n_rows DESC, p.user_id ASC
        LIMIT {SKEW_TOP_K}
    """,
    "value_histogram_by_type": f"""
        SELECT event_type,
               CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
               ROUND(CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS BIGINT)
                     * {HIST_BIN_WIDTH}, 4) AS bin_lo,
               COUNT(1) AS n
        FROM events GROUP BY 1, 2, 3
    """,
    "winsorize_values": """
        WITH b AS (
            SELECT event_type,
                   quantile_cont(value, 0.01) AS lo,
                   quantile_cont(value, 0.99) AS hi
            FROM events GROUP BY 1
        )
        SELECT e.event_id, e.event_type, e.value,
               ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 4)
                   AS value_winsorized
        FROM events e JOIN b USING (event_type)
    """,
    "txs_per_day_gapfilled": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, COUNT(1) AS tx_count
            FROM events GROUP BY 1
        ),
        bounds AS (
            SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
            FROM events
        ),
        spine AS (
            SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                   AS day
            FROM bounds
        )
        SELECT s.day, COALESCE(d.tx_count, 0) AS tx_count
        FROM spine s LEFT JOIN daily d USING (day)
    """,
    "retention_cohorts": """
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        fc AS (
            SELECT user_id, day,
                   MIN(day) OVER (PARTITION BY user_id) AS cohort_day
            FROM ud
        )
        SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
               COUNT(1) AS n_active
        FROM fc GROUP BY 1, 2
    """,
    "conversion_funnel": """
        WITH staged AS (
            SELECT user_id, event_type, ts,
                   CASE WHEN event_type = 'click'
                        AND ts <= MIN(CASE WHEN event_type = 'view' THEN ts END)
                            OVER (PARTITION BY user_id ORDER BY ts
                                  RANGE BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) + INTERVAL 24 HOUR
                        THEN ts END AS click_ts
            FROM events
        ),
        staged2 AS (
            SELECT user_id, event_type, ts, click_ts,
                   CASE WHEN event_type = 'purchase'
                        AND ts <= MIN(click_ts)
                            OVER (PARTITION BY user_id ORDER BY ts
                                  RANGE BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) + INTERVAL 24 HOUR
                        THEN ts END AS purchase_ts
            FROM staged
        ),
        per_user AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(click_ts) AS t_click,
                   MIN(purchase_ts) AS t_purchase
            FROM staged2 GROUP BY user_id
        )
        SELECT CAST(t_view AS DATE) AS day,
               COUNT(1) AS n_viewed,
               COUNT(t_click) AS n_clicked,
               COUNT(t_purchase) AS n_purchased
        FROM per_user WHERE t_view IS NOT NULL
        GROUP BY 1
    """,
    "value_zscore_outliers": """
        WITH stats AS (
            SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               ROUND((e.value - s.mu) / s.sigma, 4) AS z
        FROM events e JOIN stats s ON e.event_type = s.event_type
        WHERE ABS(ROUND((e.value - s.mu) / s.sigma, 4)) > 3
    """,
    "daily_value_moving_avg": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   ROUND(SUM(value), 4) AS daily_value
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, daily_value,
               ROUND(AVG(daily_value) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ), 4) AS ma7
        FROM daily
    """,
}

MODELS = {
    "txs_per_day": txs_per_day,
    "value_per_day": value_per_day,
    "daily_value_by_type": daily_value_by_type,
    "hourly_value_by_type": hourly_value_by_type,
    "distinct_users_per_day": distinct_users_per_day,
    "cum_txs_per_day": cum_txs_per_day,
    "cum_value_by_type": cum_value_by_type,
    "revenue_by_segment": revenue_by_segment,
    "orders_by_nation": orders_by_nation,
    "customers_without_orders": customers_without_orders,
    "event_flows_union": event_flows_union,
    "brand_number_extract": brand_number_extract,
    "props_json_extract": props_json_extract,
    "base64_roundtrip": base64_roundtrip,
    "lineitem_flag_status_key": lineitem_flag_status_key,
    "doc_word_counts": doc_word_counts,
    "events_pivot_by_type": events_pivot_by_type,
    "pricing_summary": pricing_summary,
    "top_parts_by_revenue": top_parts_by_revenue,
    "nation_revenue_rollup": nation_revenue_rollup,
    "user_activity_span": user_activity_span,
    "value_cube_by_type_day": value_cube_by_type_day,
    "value_percentiles_by_type": value_percentiles_by_type,
    "day_over_day_txs": day_over_day_txs,
    "conversion_funnel": conversion_funnel,
    "txs_per_day_gapfilled": txs_per_day_gapfilled,
    "retention_cohorts": retention_cohorts,
    "winsorize_values": winsorize_values,
    "value_histogram_by_type": value_histogram_by_type,
    "key_skew_report": key_skew_report,
    "hourly_ohlc_by_type": hourly_ohlc_by_type,
    "daily_twap_by_type": daily_twap_by_type,
    "approx_value_percentiles_by_type": approx_value_percentiles_by_type,
    "value_zscore_outliers": value_zscore_outliers,
    "daily_value_moving_avg": daily_value_moving_avg,
    "regional_supplier_revenue": regional_supplier_revenue,
    "returned_items_topk": returned_items_topk,
    "approx_distinct_users_per_day": approx_distinct_users_per_day,  # rows-only (HLL)
    "orders_with_returns": orders_with_returns,
    "late_shipment_rate_by_priority": late_shipment_rate_by_priority,
}
