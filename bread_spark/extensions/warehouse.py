"""Warehouse analytics suite — the classic TPC-H-shaped multi-join
decision-support queries the existing catalog was still missing
(Q3/Q6/Q7/Q8/Q9/Q13/Q14/Q15/Q17/Q18/Q19/Q21/Q22 shapes, renamed to
their business meaning). The schema here is the reduced TPC-H of the
testdata (no partsupp, no commit/receipt dates, no phone/container/
comment columns), so three queries are explicitly "-shaped" re-reads
of the classic on the columns that exist — each docstring states the
substitution.

Exactness discipline (DECISIONS #12): every monetary column in the
testdata is cents-exact and every quantity/discount/tax is integral
at the percent grain (probed: ROUND(x*100) == x*100 for all rows of
lineitem/orders/customer/part). All revenue arithmetic therefore runs
on the exact integer lattice:

    price_cents = CAST(ROUND(l_extendedprice * 100) AS BIGINT)
    disc_pct    = CAST(ROUND(l_discount * 100) AS BIGINT)
    rev_e4      = price_cents * (100 - disc_pct)      -- 1e-4 dollars

Sums accumulate as DECIMAL(38,0) (HUGEINT in the oracle); every
RANKED or DIFFERENCED value (top-k revenue, market-share numerators,
profit) stays on that lattice; ratios are exact truncating-division
ppm; doubles appear only in final non-ranked projections as
ROUND(CAST(int AS DOUBLE) / 10^k, 4) — one correctly-rounded IEEE
division of an exact integer on both engines, then the certified
ROUND parity.

Scale shape: these are the canonical Catalyst plans — fact⋈fact
shuffles keyed on orderkey/custkey, dimension sides broadcast (the
`regional_supplier_revenue` Q5 precedent: supplier/nation/region/part
are the bounded-or-dimension sides), semi/anti joins for EXISTS / NOT
EXISTS, TakeOrderedAndProject for every top-k (no global sort), and
single-row "scalar" thresholds computed as a distributed aggregate
then broadcast-joined on a constant key (never a crossJoin, never a
driver collect). Per-query notes below.

Streaming: batch-only family by design — each query is a bounded-
snapshot, multi-fact-join decision-support report; the incremental
path for this shape is partition-grain recompute over the partitioned
parquet sink (SRC12), not operator state.

Reference parity: the reference has no TPC-H-style suite; additive,
next to `pricing_summary` (Q1) / `orders_with_returns` (Q4) /
`regional_supplier_revenue` (Q5) / `returned_items_topk` (Q10) /
`late_shipment_rate_by_priority` (Q12) which earlier rounds added.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

# exact-lattice building blocks (module docstring)
PRICE_CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
DISC_PCT = "CAST(ROUND(l_discount * 100) AS BIGINT)"
REV_E4 = f"({PRICE_CENTS} * (100 - {DISC_PCT}))"
QTY = "CAST(ROUND(l_quantity) AS BIGINT)"

# the same fragments in DuckDB spelling (identical text — both engines
# bind ROUND/CAST the same way; kept as named constants so the oracle
# strings can't drift from the Spark lattice)
_SQL_REV_E4 = REV_E4
_SQL_QTY = QTY


def _sum_e4(alias: str) -> F.Column:
    """Exact DECIMAL(38,0) revenue accumulator."""
    return F.expr(f"sum(CAST({REV_E4} AS DECIMAL(38,0)))").alias(alias)


def _as_dollars(col: str, scale: float, alias: str, places: int = 4) -> F.Column:
    """Exact integer → presentation double: ONE IEEE division + ROUND."""
    return F.round(F.expr(f"CAST({col} AS DOUBLE) / {scale}"), places).alias(alias)


def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 — top-10 unshipped-revenue orders for the BUILDING
    segment as of 1998-07-01.

    Plan: customer(segment) is a SEMI filter on orders (keyed — the
    segment side is 1/5 of all customers, not bounded, so no
    broadcast), orders⋈lineitem shuffle on orderkey, one aggregate,
    then TakeOrderedAndProject(10) on the exact rev_e4 lattice with
    the orderkey tie-break."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.expr("o_orderdate < TIMESTAMP '1998-07-01 00:00:00'"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.expr("l_shipdate >= TIMESTAMP '1998-07-02 00:00:00'"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_sum_e4("rev_e4"))
    )
    return (
        agg.orderBy(F.desc("rev_e4"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            _as_dollars("rev_e4", 10000.0, "revenue"),
            F.expr("CAST(o_orderdate AS DATE)").alias("o_orderdate"),
        )
    )


def discount_revenue_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — revenue that would be regained by dropping the 5-7%
    discounts on small (qty<24) 1997 shipments. One scan, every
    predicate pushed to parquet, one map-side-combined aggregate to a
    single row; the gain sum is price_cents·disc_pct, exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr(
            "l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND "
            "l_shipdate < TIMESTAMP '1998-01-01 00:00:00' AND "
            f"{DISC_PCT} BETWEEN 5 AND 7 AND {QTY} < 24"
        )
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        _as_dollars(
            f"sum(CAST({PRICE_CENTS} * {DISC_PCT} AS DECIMAL(38,0)))",
            10000.0,
            "revenue_gain",
        ),
    )


def volume_shipping_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 — bilateral trade volume between NATION_1 and NATION_2
    by ship year (1996-1997). Facts shuffle on their keys; supplier and
    both nation role aliases broadcast (Q5 precedent); the pair filter
    applies after both roles bind."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.expr(
                "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'"
                " AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'"
            )
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.expr("year(l_shipdate)").alias("l_year"),
            F.expr(f"CAST({REV_E4} AS DECIMAL(38,0))").alias("rev_e4"),
        )
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n_s = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n_c = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.expr("sum(rev_e4)").alias("rev_e4"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            _as_dollars("rev_e4", 10000.0, "revenue"),
        )
    )


def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 — NATION_3's supplier market share of ECONOMY-part
    revenue sold to ASIA customers, by order year (1996-1997). The
    share is an exact ppm: both numerator and denominator are rev_e4
    lattice sums, divided once with truncating div."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.expr(f"CAST({REV_E4} AS DECIMAL(38,0))").alias("rev_e4"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.expr(
                "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND "
                "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"
            )
        )
        .select("o_orderkey", "o_custkey", F.expr("year(o_orderdate)").alias("o_year"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat_c = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_c), cust.c_nationkey == nat_c.n_nationkey)
        .join(F.broadcast(region), nat_c.n_regionkey == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("s_nk"))
    )
    return j.groupBy("o_year").agg(
        F.expr(
            "CAST((sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4 "
            "ELSE CAST(0 AS DECIMAL(38,0)) END) * 1000000) div sum(rev_e4) "
            "AS BIGINT)"
        ).alias("mkt_share_ppm"),
        F.expr("sum(rev_e4)").alias("tot_e4"),
    ).select(
        "o_year", "mkt_share_ppm", _as_dollars("tot_e4", 10000.0, "total_revenue")
    )


def product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped — profit on 'widget' parts by supplier nation
    and order year. The schema has no partsupp/ps_supplycost, so unit
    cost is the stated proxy HALF THE PART'S RETAIL PRICE; profit is
    the exact integer difference rev_e4 − qty·retail_cents·50 (both
    terms on the 1e-4-dollar lattice — never a rounded-double
    difference)."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select(
            "p_partkey",
            F.expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").alias(
                "retail_cents"
            ),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.expr(f"CAST({REV_E4} AS DECIMAL(38,0))").alias("rev_e4"),
        F.expr(QTY).alias("qty"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr("year(o_orderdate)").alias("o_year")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.expr(
                "sum(rev_e4 - CAST(qty * retail_cents * 50 AS DECIMAL(38,0)))"
            ).alias("profit_e4")
        )
        .select("nation", "o_year", _as_dollars("profit_e4", 10000.0, "profit"))
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — distribution of customers by order count, excluding
    '4-NOT SPECIFIED' orders (the schema's analog of Q13's comment
    exclusion — no o_comment column). LEFT join keeps the zero-order
    customers; two cascaded integer aggregates."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def promo_revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 — PROMO-part revenue share per 1997 ship month, as an
    exact ppm of the month's rev_e4 lattice sums. One keyed join with
    the broadcast part dimension, one month aggregate."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.expr(
                "l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'"
                " AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'"
            )
        )
        .select(
            "l_partkey",
            F.expr("CAST(date_trunc('month', l_shipdate) AS DATE)").alias("month"),
            F.expr(f"CAST({REV_E4} AS DECIMAL(38,0))").alias("rev_e4"),
        )
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.groupBy("month").agg(
        F.expr(
            "CAST((sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 "
            "ELSE CAST(0 AS DECIMAL(38,0)) END) * 1000000) div sum(rev_e4) "
            "AS BIGINT)"
        ).alias("promo_ppm"),
        F.expr("sum(rev_e4)").alias("tot_e4"),
    ).select("month", "promo_ppm", _as_dollars("tot_e4", 10000.0, "total_revenue"))


def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — the supplier(s) with maximum revenue over 1997Q1
    shipments. The max is computed as a distributed single-row
    aggregate over the O(suppliers) revenue table and broadcast back
    as an equi-join key — exact rev_e4 equality, so ties surface
    exactly as in the classic query (no window, no driver collect)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.expr(
                "l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND "
                "l_shipdate < TIMESTAMP '1997-04-01 00:00:00'"
            )
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    revs = li.groupBy("l_suppkey").agg(_sum_e4("rev_e4"))
    top = revs.join(
        F.broadcast(revs.agg(F.max("rev_e4").alias("max_e4"))),
        F.col("rev_e4") == F.col("max_e4"),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        top.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", _as_dollars("rev_e4", 10000.0, "total_revenue"))
    )


def small_lines_df(li_b: DataFrame) -> DataFrame:
    """`small_order_revenue` core: keep the lines with qty strictly
    below 20% of their part's mean quantity, via the all-integer
    comparison qty·5·cnt < sum_qty over any (l_partkey, qty,
    price_cents) frame."""
    stats = li_b.groupBy(F.col("l_partkey").alias("sp_key")).agg(
        F.expr("sum(qty)").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return li_b.join(stats, F.col("l_partkey") == F.col("sp_key")).filter(
        F.expr("qty * 5 * cnt < sum_qty")
    )


def small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — average yearly revenue lost by not consolidating
    small (qty < 20% of the part's mean quantity) Brand#11 orders. The
    threshold comparison is fully integer: qty·5·cnt < sum_qty (both
    sides exact), never a double 0.2·avg. Per-part stats come from ONE
    aggregate over the brand's lineitems, joined back on partkey."""
    bparts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#11")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(QTY).alias("qty"),
        F.expr(PRICE_CENTS).alias("price_cents"),
    )
    li_b = li.join(F.broadcast(bparts), li.l_partkey == bparts.p_partkey)
    return small_lines_df(li_b).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.expr("CAST(sum(CAST(price_cents AS DECIMAL(38,0))) AS DOUBLE)")
            / 100.0
            / 7.0,
            4,
        ).alias("avg_yearly"),
    )


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 — top-100 large-volume orders (sum qty > 250, the
    99th percentile of this dataset's order sizes). HAVING on the
    exact integer quantity sum; ranking on o_totalprice cents with the
    orderkey tie-break; TakeOrderedAndProject, no global sort."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.expr(QTY).alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr("sum(qty)").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("price_cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        j.orderBy(F.desc("price_cents"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.expr("CAST(o_orderdate AS DATE)").alias("o_orderdate"),
            _as_dollars("price_cents", 100.0, "total_price", 2),
            "sum_qty",
        )
    )


def brand_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped — one-row revenue under a three-arm disjunctive
    brand × quantity × size predicate (the container/shipmode arms of
    the classic don't exist in this schema; p_size carries the third
    dimension). The disjunction stays a single scan filter after the
    broadcast part join — the plan Catalyst picks when the OR can't
    prune partitions."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(QTY).alias("qty"),
        F.expr(f"CAST({REV_E4} AS DECIMAL(38,0))").alias("rev_e4"),
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).filter(
        F.expr(
            "(p_brand = 'Brand#12' AND qty BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)"
            " OR (p_brand = 'Brand#21' AND qty BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)"
            " OR (p_brand = 'Brand#25' AND qty BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)"
        )
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr("sum(rev_e4)").alias("rev_e4"),
    ).select("n_lines", _as_dollars("rev_e4", 10000.0, "revenue"))


def late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped — suppliers solely to blame for a finished
    multi-supplier order shipping late. The schema has no commit/
    receipt dates, so "late" is the certified Q12 predicate
    (shipdate > orderdate + 30 days). EXISTS(another supplier in the
    order) is a left-semi join; NOT EXISTS(another LATE supplier) is a
    left-anti join — both keyed on orderkey with the supplier
    inequality as the residual condition. Top-20 by exact integer
    count with the suppkey tie-break."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    blamed = blamed_lines_df(li, orders)
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    counts = (
        blamed.groupBy("b_skey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("b_skey") == F.col("s_suppkey"))
    )
    return (
        counts.orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
        .select("s_suppkey", "s_name", "numwait")
    )


def blamed_lines_df(li: DataFrame, orders_f: DataFrame) -> DataFrame:
    """`late_supplier_blame` core: (b_okey, b_skey) solely-blamed late
    lines over any (l_orderkey, l_suppkey, l_shipdate) frame joined to
    the already-filtered finished orders (o_orderkey, o_orderdate).

    r13-opt (guide §2.4 — the classic Q21 decorrelation): the former
    EXISTS/NOT-EXISTS pair re-ran the li⋈orders subtree three times
    (probe side + semi side + anti side) and paid a shuffle per join.
    Per order, "EXISTS another supplier" ⟺ the order's distinct
    supplier count ≥ 2, and "NOT EXISTS another LATE supplier" ⟺ its
    distinct LATE-supplier count = 1 (a late line's own supplier is
    always in that set) — both computable as collect_set sizes over an
    orderkey window on the SINGLE joined frame, reusing the join's own
    partitioning (zero extra exchanges; set size bounded by suppliers
    per order). Line granularity is preserved, so per-supplier numwait
    counts are unchanged row-for-row."""
    from pyspark.sql.window import Window

    flagged = li.join(orders_f, li.l_orderkey == orders_f.o_orderkey).withColumn(
        "late",
        F.expr("CAST(l_shipdate AS DATE) > date_add(CAST(o_orderdate AS DATE), 30)"),
    )
    w = Window.partitionBy("l_orderkey")
    counted = flagged.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)
        ).alias("n_late_supp"),
    )
    blamed = (
        counted.filter(
            F.col("late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
        ).select(
            F.col("l_orderkey").alias("b_okey"),
            F.col("l_suppkey").alias("b_skey"),
        )
    )
    return blamed


def idle_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped — per-nation count and balance of above-average-
    balance customers with no recent (2000+) orders. The schema has no
    phone country codes, so the grouping key is the nation dimension.
    The "above average positive balance" threshold is exact integers:
    acctbal_cents · n_pos > sum_pos_cents — the global stats come from
    one distributed aggregate whose SINGLE row is collected and
    re-injected as filter literals (the repo's bounded-by-construction
    scalar pattern: O(1) rows cross the driver, never the corpus; a
    constant-key broadcast join constant-folds to a nested-loop join,
    which the no-cartesian plan pin rejects). Recency is a keyed ANTI
    join against the filtered orders."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.expr("o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'"))
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return idle_high_balance_df(cust, recent, nation)


def idle_high_balance_df(
    cust: DataFrame, recent: DataFrame, nation: DataFrame
) -> DataFrame:
    """`idle_high_balance_customers` core over any (c_custkey,
    c_nationkey, bal_cents) × recent-(o_custkey) × nation frames."""
    # bounded scalar collect: exactly one row (global sum + count)
    sum_pos, n_pos = (
        cust.filter(F.col("bal_cents") > 0)
        .agg(
            F.expr("sum(CAST(bal_cents AS DECIMAL(38,0)))").alias("sum_pos"),
            F.count(F.lit(1)).alias("n_pos"),
        )
        .collect()[0]
    )
    sum_pos = sum_pos if sum_pos is not None else 0  # no positive balances
    rich = cust.filter(
        F.expr(
            f"CAST(bal_cents AS DECIMAL(38,0)) * CAST({int(n_pos)} AS BIGINT)"
            f" > CAST('{int(sum_pos)}' AS DECIMAL(38,0))"
        )
    )
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.expr("sum(CAST(bal_cents AS DECIMAL(38,0)))").alias("bal_sum"),
        )
        .select("nation", "numcust", _as_dollars("bal_sum", 100.0, "total_acctbal", 2))
    )


def fulfillment_latency_df(li: DataFrame, orders: DataFrame) -> DataFrame:
    """`fulfillment_latency_by_priority` core: per-order first/last
    ship lag in exact integer days (min/max shipdate per order, one
    keyed join back to orders), folded per priority — n_orders, exact
    truncating-division means, and p50/p90 on the certified
    percentile ↔ quantile_cont parity (rounded 6)."""
    per_order = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.expr("min(CAST(l_shipdate AS DATE))").alias("first_ship"),
        F.expr("max(CAST(l_shipdate AS DATE))").alias("last_ship"),
    )
    j = per_order.join(orders, F.col("okey") == orders.o_orderkey).select(
        "o_orderpriority",
        F.expr("datediff(first_ship, CAST(o_orderdate AS DATE))").alias(
            "lag_first"
        ),
        F.expr("datediff(last_ship, CAST(o_orderdate AS DATE))").alias(
            "lag_last"
        ),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("sum(lag_first) div count(1)").alias("mean_first_days"),
        F.expr("sum(lag_last) div count(1)").alias("mean_last_days"),
        F.round(F.expr("percentile(lag_first, 0.5)"), 6).alias("p50_first_days"),
        F.round(F.expr("percentile(lag_first, 0.9)"), 6).alias("p90_first_days"),
        F.round(F.expr("percentile(lag_last, 0.9)"), 6).alias("p90_last_days"),
    )


def fulfillment_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfilment latency DISTRIBUTION per priority — the
    supply-chain companion of `late_shipment_rate_by_priority` (that
    one counts SLA breaches; this one shows the whole first/last-ship
    lag shape). Scale shape: one orderkey aggregate over lineitem, one
    keyed join to orders, one O(priorities) fold."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return fulfillment_latency_df(li, orders)


ORACLE_SQL: dict[str, str] = {
    "fulfillment_latency_by_priority": """
    WITH per_order AS (
        SELECT l_orderkey AS okey,
               MIN(CAST(l_shipdate AS DATE)) AS first_ship,
               MAX(CAST(l_shipdate AS DATE)) AS last_ship
        FROM lineitem GROUP BY l_orderkey
    ),
    lags AS (
        SELECT o_orderpriority,
               datediff('day', CAST(o_orderdate AS DATE), first_ship)
                   AS lag_first,
               datediff('day', CAST(o_orderdate AS DATE), last_ship)
                   AS lag_last
        FROM per_order JOIN orders ON okey = o_orderkey
    )
    SELECT o_orderpriority,
           COUNT(1) AS n_orders,
           CAST(SUM(lag_first) // COUNT(1) AS BIGINT) AS mean_first_days,
           CAST(SUM(lag_last) // COUNT(1) AS BIGINT) AS mean_last_days,
           ROUND(quantile_cont(lag_first, 0.5), 6) AS p50_first_days,
           ROUND(quantile_cont(lag_first, 0.9), 6) AS p90_first_days,
           ROUND(quantile_cont(lag_last, 0.9), 6) AS p90_last_days
    FROM lags GROUP BY o_orderpriority
""",
    "shipping_priority_topk": f"""
    WITH r AS (
        SELECT l_orderkey,
               CAST(o_orderdate AS DATE) AS o_orderdate,
               SUM(CAST({_SQL_REV_E4} AS HUGEINT)) AS rev_e4
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
          AND l_shipdate >= TIMESTAMP '1998-07-02 00:00:00'
        GROUP BY 1, 2
    )
    SELECT l_orderkey AS o_orderkey,
           ROUND(CAST(rev_e4 AS DOUBLE) / 10000.0, 4) AS revenue,
           o_orderdate
    FROM r
    ORDER BY rev_e4 DESC, l_orderkey
    LIMIT 10
""",
    "discount_revenue_opportunity": f"""
    SELECT COUNT(*) AS n_lines,
           ROUND(CAST(SUM(CAST({PRICE_CENTS} * {DISC_PCT} AS HUGEINT))
                      AS DOUBLE) / 10000.0, 4) AS revenue_gain
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND {DISC_PCT} BETWEEN 5 AND 7
      AND {_SQL_QTY} < 24
""",
    "volume_shipping_by_year": f"""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           ROUND(CAST(SUM(CAST({_SQL_REV_E4} AS HUGEINT)) AS DOUBLE)
                 / 10000.0, 4) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND ns.n_name IN ('NATION_1', 'NATION_2')
      AND nc.n_name IN ('NATION_1', 'NATION_2')
      AND ns.n_name <> nc.n_name
    GROUP BY 1, 2, 3
""",
    "market_share_by_year": f"""
    WITH j AS (
        SELECT year(o_orderdate) AS o_year,
               CAST({_SQL_REV_E4} AS HUGEINT) AS rev_e4,
               ns.n_name AS supp_nation
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region ON nc.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        WHERE p_type = 'ECONOMY'
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           CAST((SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4
                          ELSE CAST(0 AS HUGEINT) END) * 1000000)
                // SUM(rev_e4) AS BIGINT) AS mkt_share_ppm,
           ROUND(CAST(SUM(rev_e4) AS DOUBLE) / 10000.0, 4) AS total_revenue
    FROM j
    GROUP BY o_year
""",
    "product_profit_by_nation_year": f"""
    SELECT n_name AS nation,
           year(o_orderdate) AS o_year,
           ROUND(CAST(SUM(CAST({_SQL_REV_E4} AS HUGEINT)
                          - CAST({_SQL_QTY}
                                 * CAST(ROUND(p_retailprice * 100) AS BIGINT)
                                 * 50 AS HUGEINT)) AS DOUBLE)
                 / 10000.0, 4) AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
""",
    "customer_order_distribution": """
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN (
            SELECT o_orderkey, o_custkey FROM orders
            WHERE o_orderpriority <> '4-NOT SPECIFIED'
        ) o ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
""",
    "promo_revenue_by_month": f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           CAST((SUM(CASE WHEN p_type = 'PROMO'
                          THEN CAST({_SQL_REV_E4} AS HUGEINT)
                          ELSE CAST(0 AS HUGEINT) END) * 1000000)
                // SUM(CAST({_SQL_REV_E4} AS HUGEINT)) AS BIGINT)
               AS promo_ppm,
           ROUND(CAST(SUM(CAST({_SQL_REV_E4} AS HUGEINT)) AS DOUBLE)
                 / 10000.0, 4) AS total_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
""",
    "top_supplier_by_revenue": f"""
    WITH revs AS (
        SELECT l_suppkey, SUM(CAST({_SQL_REV_E4} AS HUGEINT)) AS rev_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           ROUND(CAST(rev_e4 AS DOUBLE) / 10000.0, 4) AS total_revenue
    FROM revs
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_e4 = (SELECT MAX(rev_e4) FROM revs)
""",
    "small_order_revenue": f"""
    WITH li_b AS (
        SELECT l_partkey, {_SQL_QTY} AS qty,
               {PRICE_CENTS} AS price_cents
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#11'
    ),
    stats AS (
        SELECT l_partkey AS sp_key, SUM(qty) AS sum_qty, COUNT(*) AS cnt
        FROM li_b
        GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_lines,
           ROUND(CAST(SUM(CAST(price_cents AS HUGEINT)) AS DOUBLE)
                 / 100.0 / 7.0, 4) AS avg_yearly
    FROM li_b
    JOIN stats ON l_partkey = sp_key
    WHERE qty * 5 * cnt < sum_qty
""",
    "large_volume_customers": """
    WITH big AS (
        SELECT l_orderkey, SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 250
    )
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           ROUND(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DOUBLE)
                 / 100.0, 2) AS total_price,
           CAST(sum_qty AS BIGINT) AS sum_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC, o_orderkey
    LIMIT 100
""",
    "brand_quantity_revenue": f"""
    SELECT COUNT(*) AS n_lines,
           ROUND(CAST(SUM(CAST({_SQL_REV_E4} AS HUGEINT)) AS DOUBLE)
                 / 10000.0, 4) AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND {_SQL_QTY} BETWEEN 1 AND 11
           AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#21' AND {_SQL_QTY} BETWEEN 10 AND 20
           AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#25' AND {_SQL_QTY} BETWEEN 20 AND 30
           AND p_size BETWEEN 1 AND 15)
""",
    "late_supplier_blame": """
    WITH flagged AS (
        SELECT l_orderkey, l_suppkey,
               CAST(l_shipdate AS DATE) >
                   CAST(o_orderdate AS DATE) + 30 AS late
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    ),
    blamed AS (
        SELECT f.l_orderkey, f.l_suppkey
        FROM flagged f
        WHERE f.late
          AND EXISTS (
              SELECT 1 FROM flagged o
              WHERE o.l_orderkey = f.l_orderkey
                AND o.l_suppkey <> f.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM flagged o
              WHERE o.l_orderkey = f.l_orderkey
                AND o.l_suppkey <> f.l_suppkey
                AND o.late
          )
    )
    SELECT s_suppkey, s_name, COUNT(*) AS numwait
    FROM blamed
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_suppkey, s_name
    ORDER BY numwait DESC, s_suppkey
    LIMIT 20
""",
    "idle_high_balance_customers": """
    WITH cents AS (
        SELECT c_custkey, c_nationkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
    ),
    pos AS (
        SELECT SUM(CAST(bal_cents AS HUGEINT)) AS sum_pos,
               COUNT(*) AS n_pos
        FROM cents WHERE bal_cents > 0
    )
    SELECT n_name AS nation,
           COUNT(*) AS numcust,
           ROUND(CAST(SUM(CAST(bal_cents AS HUGEINT)) AS DOUBLE)
                 / 100.0, 2) AS total_acctbal
    FROM cents
    JOIN nation ON c_nationkey = n_nationkey
    CROSS JOIN pos
    WHERE CAST(bal_cents AS HUGEINT) * n_pos > sum_pos
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY n_name
""",
}
