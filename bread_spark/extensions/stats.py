"""Exact-integer relationship & distribution statistics.

Five operators a data-quality / monitoring stack reads daily, all
reduced to the repo's moment discipline (DECISIONS #12/#16 — exact
integer/DECIMAL(38,0) sufficient statistics, doubles only in the final
non-ranked projection, rounded 4-6):

- `value_trend_by_type` — per-type OLS of the daily micro-value sum on
  the per-type day index (is this metric drifting, and how fast?).
  Slope numerator/denominator are exact DECIMAL(38,0) moments emitted
  as strings; slope/intercept/r² are doubles computed from those exact
  moments. The natural companion to the CUSUM family: CUSUM asks "did
  the level jump?", the trend asks "what is the level's velocity?".
- `type_correlation_matrix` — pairwise Pearson correlation between the
  event types' day-aligned daily sums (which metrics move together?).
  Defined over the days where BOTH types have rows (inner day join —
  documented choice, mirrored by the oracle). The covariance numerator
  n·Σxy − ΣxΣy is exact and emitted as a string; r is the
  double projection.
- `benford_digit_qc` — first-significant-digit distribution of the
  positive micro-quantized values per event type vs the Benford
  expectation (the classic fabricated-/synthetic-data smell test).
  FULLY integer-exact: expected shares are hardcoded ppm literals on
  both engines (they sum to exactly 1_000_000), observed shares are
  `1e6·cnt div total` in the engines' shared truncating division —
  the excess column is an exact integer DIFFERENCE, per the float
  discipline (never difference rounded doubles).
- `source_concentration` — one-row corpus-concentration report over
  the per-source character mass: exact Gini numerator
  (2·Σ rank·x − (n+1)·total over the ascending (x, source) order —
  the tie-break makes the rank engine-stable), HHI, and the top
  source's exact ppm share.
- `rolling_7d_distinct_users` — per event-day distinct users over the
  trailing 7-day window. Spark windows cannot COUNT(DISTINCT) over a
  range frame; the scale shape is the bounded ×7 fan-out: distinct
  (day, user) pairs → explode to the ≤7 anchor days each pair serves →
  one grouped count-distinct, then the equi join with the per-day
  count table, which also restricts anchors to real event days.
  No range join, no per-day rescan.

Scale shape: trend and the correlation matrix read the SHARED
`timeseries.daily_micro` materialized seam (one events pass serves six
catalog entries); their own arithmetic is O(days×types). The
correlation self-join renames BOTH day keys (DECISIONS #18) and joins
day-keyed aggregates — O(types²) per day, types being a bounded
dimension. Benford is one map-side-combined aggregate. The
concentration report's single-partition window runs on the O(sources)
AGGREGATE only — bounded by construction. The rolling-distinct fan-out
is exactly 7× the distinct-pair table.

Overflow honesty (ANSI): day indices are centered per type before any
product, so Σxy-style moments stay far inside DECIMAL(38,0) at any
plausible corpus (a daily micro-sum would need to exceed ~4e16 for
~1e5 days straight before Σy² threatens 38 digits — at which point
ANSI errors loudly and the micro scale drops to 1e3).

Streaming: the daily micro table IS the streaming surface — one
grouped aggregation (`timeseries._daily_micro` applied to a streaming
frame, the `ab_moments_df` discipline); a snapshot through the batch
`trend_from_daily` / `correlation_from_daily` folds is the online
trend/correlation monitor, pinned in tests/test_streaming_stats.py.
`benford_counts_df` is the same discipline over (type, digit)
counts. Batch-only: `source_concentration` (the Gini rank is a
total-order sort of the aggregate — recomputed per snapshot, not
incrementally maintainable) and `rolling_7d_distinct_users` (sliding
COUNT DISTINCT needs per-(day,user) dedup state with watermark
eviction; the approximate online path is the HLL engagement panel).

Reference parity: the reference (pandas/DuckDB ETL) has no
trend/correlation/Benford/concentration analytics; additive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from .timeseries import _DEC, _pearson, daily_micro_frame

# log10(1 + 1/d) in exact ppm literals; the nine sum to 1_000_000.
BENFORD_PPM = {
    1: 301030,
    2: 176091,
    3: 124939,
    4: 96910,
    5: 79181,
    6: 66947,
    7: 57992,
    8: 51153,
    9: 45757,
}


# ---------------------------------------------------------------------------
# OLS trend per type
# ---------------------------------------------------------------------------


def trend_from_daily(daily: DataFrame) -> DataFrame:
    """(event_type, n_days, slope_num, slope_den, slope_micro_per_day,
    intercept_micro, r2) from an (event_type, day, x) frame.

    x is re-labeled y here (the regressand); the regressor t is the
    day index from each type's FIRST observed day (per-type centering
    keeps every product small). slope = num/den with
    num = n·Σty − Σt·Σy and den = n·Σt² − (Σt)² — both exact
    DECIMAL(38,0), emitted as strings. slope/intercept/r² are double
    projections of those exact moments (non-ranked floats, rounded 6);
    NULL when degenerate (single day → den = 0; constant series →
    r² denominator 0)."""
    t = F.datediff(
        F.col("day"),
        F.min("day").over(Window.partitionBy("event_type")),
    ).cast("long")
    obs = daily.select("event_type", t.alias("t"), F.col("x").alias("y"))
    m = obs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t").cast(_DEC) * F.col("t").cast(_DEC)).alias("stt"),
        F.sum(F.col("t").cast(_DEC) * F.col("y").cast(_DEC)).alias("sty"),
        F.sum(F.col("y").cast(_DEC) * F.col("y").cast(_DEC)).alias("syy"),
    )
    num = F.col("n").cast(_DEC) * F.col("sty") - F.col("st").cast(
        _DEC
    ) * F.col("sy").cast(_DEC)
    den = F.col("n").cast(_DEC) * F.col("stt") - F.col("st").cast(
        _DEC
    ) * F.col("st").cast(_DEC)
    ydeng = F.col("n").cast(_DEC) * F.col("syy") - F.col("sy").cast(
        _DEC
    ) * F.col("sy").cast(_DEC)
    num_d, den_d, yden_d = (
        num.cast("double"),
        den.cast("double"),
        ydeng.cast("double"),
    )
    slope = F.when(den > 0, F.round(num_d / den_d, 6))
    intercept = F.when(
        den > 0,
        F.round(
            (F.col("sy").cast("double") - (num_d / den_d) * F.col("st").cast("double"))
            / F.col("n"),
            6,
        ),
    )
    r2 = F.when(
        (den > 0) & (ydeng > 0),
        F.round(num_d * num_d / (den_d * yden_d), 6),
    )
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        num.cast("string").alias("slope_num"),
        den.cast("string").alias("slope_den"),
        slope.alias("slope_micro_per_day"),
        intercept.alias("intercept_micro"),
        r2.alias("r2"),
    )


def value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of the daily micro-value sums (module
    docstring) off the shared daily seam."""
    return trend_from_daily(daily_micro_frame(spark, sf_dir))


# ---------------------------------------------------------------------------
# Pairwise Pearson correlation between types' daily series
# ---------------------------------------------------------------------------


def correlation_from_daily(daily: DataFrame) -> DataFrame:
    """(type_a, type_b, n_days, cov_num, r) for every type pair, from
    an (event_type, day, x) frame. Day-aligned inner join (days where
    both types observed); both join keys renamed per DECISIONS #18."""
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("day").alias("day_a"),
        F.col("x").alias("ya"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("day").alias("day_b"),
        F.col("x").alias("yb"),
    )
    pairs = a.join(
        b,
        (F.col("day_a") == F.col("day_b")) & (F.col("type_a") < F.col("type_b")),
    )
    return _pearson(pairs, ["type_a", "type_b"]).withColumnRenamed(
        "n", "n_days"
    )


def type_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson r between the types' daily series (module
    docstring) off the shared daily seam."""
    return correlation_from_daily(daily_micro_frame(spark, sf_dir))


# ---------------------------------------------------------------------------
# Benford first-digit QC
# ---------------------------------------------------------------------------


def benford_counts_df(ev: DataFrame) -> DataFrame:
    """(event_type, digit, cnt) — first significant digit of the
    POSITIVE micro-quantized values. The digit comes from the decimal
    string of an exact bigint, so both engines read the same glyph."""
    vu = F.round(F.col("value").cast("double") * 1_000_000).cast("long")
    return (
        ev.filter(F.col("value").isNotNull())
        .select("event_type", vu.alias("vu"))
        .filter(F.col("vu") > 0)
        .select(
            "event_type",
            F.substring(F.col("vu").cast("string"), 1, 1).cast("int").alias(
                "digit"
            ),
        )
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def benford_report_df(counts: DataFrame) -> DataFrame:
    """Project the count table to the exact-ppm QC report."""
    total = F.sum("cnt").over(Window.partitionBy("event_type"))
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
        ),
        F.col("digit"),
    ).cast("long")
    withtot = counts.select("event_type", "digit", "cnt", total.alias("total"))
    obs_ppm = F.expr(
        "CAST((CAST(cnt AS DECIMAL(38,0)) * 1000000) div total AS BIGINT)"
    )
    return withtot.select(
        "event_type",
        "digit",
        "cnt",
        "total",
        obs_ppm.alias("obs_ppm"),
        expected.alias("expected_ppm"),
        (obs_ppm - expected).alias("excess_ppm"),
    )


def benford_digit_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Benford first-digit report (module docstring):
    (event_type, digit, cnt, total, obs_ppm, expected_ppm,
    excess_ppm) — all exact integers."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return benford_report_df(benford_counts_df(ev))


# ---------------------------------------------------------------------------
# Source concentration (Gini / HHI)
# ---------------------------------------------------------------------------


def concentration_df(docs: DataFrame) -> DataFrame:
    """One-row concentration report over per-source character mass."""
    per_source = docs.groupBy("source").agg(F.sum("n_chars").alias("x"))
    rk = F.row_number().over(Window.orderBy("x", "source"))
    ranked = per_source.select("source", "x", rk.alias("i"))
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("total"),
        F.sum(F.col("i").cast(_DEC) * F.col("x").cast(_DEC)).alias("six"),
        F.sum(F.col("x").cast(_DEC) * F.col("x").cast(_DEC)).alias("sxx"),
        F.max("x").alias("xmax"),
    )
    gini_num = F.lit(2).cast(_DEC) * F.col("six") - (
        F.col("n") + F.lit(1)
    ).cast(_DEC) * F.col("total").cast(_DEC)
    gini = F.when(
        (F.col("n") > 0) & (F.col("total") > 0),
        F.round(
            gini_num.cast("double")
            / (F.col("n").cast("double") * F.col("total").cast("double")),
            6,
        ),
    )
    hhi = F.when(
        F.col("total") > 0,
        F.round(
            F.col("sxx").cast("double")
            / (F.col("total").cast("double") * F.col("total").cast("double")),
            6,
        ),
    )
    top_share = F.expr(
        "CAST((CAST(xmax AS DECIMAL(38,0)) * 1000000) div total AS BIGINT)"
    )
    return m.select(
        F.col("n").alias("n_sources"),
        F.col("total").alias("total_chars"),
        gini_num.cast("string").alias("gini_num"),
        gini.alias("gini"),
        hhi.alias("hhi"),
        F.when(F.col("total") > 0, top_share).alias("top_share_ppm"),
    )


def source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration report (module docstring): (n_sources,
    total_chars, gini_num, gini, hhi, top_share_ppm)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    return concentration_df(docs)


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users
# ---------------------------------------------------------------------------


def rolling_distinct_df(ev: DataFrame) -> DataFrame:
    """(day, users_1d, users_7d) — trailing-window distinct users per
    EVENT day, via the bounded ×7 fan-out (module docstring).

    r13-opt plan: one linear chain — distinct (day, user) pairs, the
    ×7 fan-out, a (day, user) MIN(offset) pre-aggregate, then one
    per-day aggregate of plain conditional COUNTs. The pre-aggregate
    reproduces exactly what countDistinct counted (one row per distinct
    (target day, user)), with min-offset 0 ⟺ the user had an event ON
    the day — so users_1d is a conditional count and the former
    separate `daily` branch (a second scan + dedup of the event
    stream) and its join disappear; `users_1d > 0` reproduces the
    join's restriction to real event days. No countDistinct Expand
    anywhere."""
    du = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    fan = du.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("off"),
        "day",
        "user_id",
    ).select(F.expr("date_add(day, off)").alias("day"), "user_id", "off")
    pud = fan.groupBy("day", "user_id").agg(F.min("off").alias("moff"))
    return (
        pud.groupBy("day")
        .agg(
            F.count(F.when(F.col("moff") == 0, F.lit(1))).alias("users_1d"),
            F.count(F.lit(1)).alias("users_7d"),
        )
        .filter(F.col("users_1d") > 0)
        .select("day", "users_1d", "users_7d")
    )


def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per event day (module
    docstring)."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    return rolling_distinct_df(ev)


def engagement_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAU/WAU/MAU engagement panel: per event day, distinct users
    over the trailing 1/7/30-day windows plus the exact stickiness
    ratios (dau_wau_ppm, dau_mau_ppm, wau_mau_ppm — truncating-division
    integers). Both windows reuse `rolling_distinct_df`'s bounded
    fan-out (×7 and ×30 of the distinct (day, user) table — never a
    range join); the window frames join on the event day. The
    standard growth-team read on top of the family's existing DAU and
    trailing-7d members."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    return engagement_df(ev)


def engagement_df(ev: DataFrame) -> DataFrame:
    """`engagement_ratios` core over any (ts, user_id) frame.

    NULL users are dropped up front (as `segment_churn_rates` does):
    `rolling_distinct_df`'s users_1d is a plain count over distinct
    (day, user) pairs while users_7d/users_30d use countDistinct,
    which drops NULLs — without the filter a day with NULL-user
    events could read dau_wau_ppm > 1_000_000 (r10 ADVICE)."""
    ev = ev.filter(F.col("user_id").isNotNull())
    # r13-opt: ONE ×30 fan-out serves all three windows — per (target
    # day, user) the MIN offset says whether the user had an event on
    # the day (moff = 0), within 7 days (moff < 7), or within 30
    # (row exists at all), so the three distinct-user counts are plain
    # conditional COUNTs on one pre-aggregated frame. Previously two
    # independent rolling_distinct_df passes (×7 and ×30) re-scanned
    # and re-deduped the event stream and paid two countDistinct
    # expands plus a join. Identical integers: each count enumerates
    # the same distinct membership sets.  (approximate online form:
    # the HLL panel below)
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    fan = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("off"),
        "day",
        "user_id",
    ).select(F.expr("date_add(day, off)").alias("day"), "user_id", "off")
    pud = fan.groupBy("day", "user_id").agg(F.min("off").alias("moff"))
    return (
        pud.groupBy("day")
        .agg(
            F.count(F.when(F.col("moff") == 0, F.lit(1))).alias("users_1d"),
            F.count(F.when(F.col("moff") < 7, F.lit(1))).alias("users_7d"),
            F.count(F.lit(1)).alias("users_30d"),
        )
        .filter(F.col("users_1d") > 0)
        .select(
            "day",
            "users_1d",
            "users_7d",
            "users_30d",
            F.expr(
                "CAST((CAST(users_1d AS DECIMAL(38,0)) * 1000000)"
                " div users_7d AS BIGINT)"
            ).alias("dau_wau_ppm"),
            F.expr(
                "CAST((CAST(users_1d AS DECIMAL(38,0)) * 1000000)"
                " div users_30d AS BIGINT)"
            ).alias("dau_mau_ppm"),
            F.expr(
                "CAST((CAST(users_7d AS DECIMAL(38,0)) * 1000000)"
                " div users_30d AS BIGINT)"
            ).alias("wau_mau_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_DAILY_CTE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS x
        FROM events GROUP BY 1, 2
    )
"""

_BENFORD_CASE = " ".join(
    f"WHEN digit = {d} THEN {ppm}" for d, ppm in BENFORD_PPM.items()
)

ORACLE_SQL: dict[str, str] = {
    "value_trend_by_type": _DAILY_CTE
    + """,
    obs AS (
        SELECT event_type,
               CAST(day - MIN(day) OVER (PARTITION BY event_type)
                    AS BIGINT) AS t,
               x AS y
        FROM daily
    ),
    m AS (
        SELECT event_type,
               COUNT(1) AS n,
               CAST(SUM(t) AS BIGINT) AS st,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(t AS HUGEINT) * t) AS stt,
               SUM(CAST(t AS HUGEINT) * y) AS sty,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM obs GROUP BY event_type
    ),
    nd AS (
        SELECT event_type, n, st, sy, syy,
               CAST(n AS HUGEINT) * sty
                   - CAST(st AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
               CAST(n AS HUGEINT) * stt
                   - CAST(st AS HUGEINT) * CAST(st AS HUGEINT) AS den
        FROM m
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(num AS VARCHAR) AS slope_num,
           CAST(den AS VARCHAR) AS slope_den,
           CASE WHEN den > 0 THEN
               ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
           END AS slope_micro_per_day,
           CASE WHEN den > 0 THEN
               ROUND((CAST(sy AS DOUBLE)
                      - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                        * CAST(st AS DOUBLE)) / n, 6)
           END AS intercept_micro,
           CASE WHEN den > 0
                 AND CAST(n AS HUGEINT) * syy
                     - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) > 0 THEN
               ROUND(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                     / (CAST(den AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * syy
                               - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT)
                               AS DOUBLE)), 6)
           END AS r2
    FROM nd
""",
    "type_correlation_matrix": _DAILY_CTE
    + """,
    m AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(1) AS n,
               CAST(SUM(a.x) AS BIGINT) AS sa,
               CAST(SUM(b.x) AS BIGINT) AS sb,
               SUM(CAST(a.x AS HUGEINT) * a.x) AS saa,
               SUM(CAST(b.x AS HUGEINT) * b.x) AS sbb,
               SUM(CAST(a.x AS HUGEINT) * b.x) AS sab
        FROM daily a
        JOIN daily b
          ON a.day = b.day AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    nd AS (
        SELECT type_a, type_b, n,
               CAST(n AS HUGEINT) * sab
                   - CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT) AS num,
               CAST(n AS HUGEINT) * saa
                   - CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT) AS dena,
               CAST(n AS HUGEINT) * sbb
                   - CAST(sb AS HUGEINT) * CAST(sb AS HUGEINT) AS denb
        FROM m
    )
    SELECT type_a, type_b,
           CAST(n AS BIGINT) AS n_days,
           CAST(num AS VARCHAR) AS cov_num,
           CASE WHEN dena > 0 AND denb > 0 THEN
               ROUND(CAST(num AS DOUBLE)
                     / sqrt(CAST(dena AS DOUBLE) * CAST(denb AS DOUBLE)), 6)
           END AS r
    FROM nd
""",
    "benford_digit_qc": f"""
    WITH vu AS (
        SELECT event_type,
               CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS vu
        FROM events
        WHERE value IS NOT NULL
    ),
    cnts AS (
        SELECT event_type,
               CAST(SUBSTRING(CAST(vu AS VARCHAR), 1, 1) AS INT) AS digit,
               COUNT(1) AS cnt
        FROM vu WHERE vu > 0
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, digit, cnt,
               SUM(cnt) OVER (PARTITION BY event_type) AS total
        FROM cnts
    )
    SELECT event_type, digit,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(total AS BIGINT) AS total,
           CAST((CAST(cnt AS HUGEINT) * 1000000) // total AS BIGINT)
               AS obs_ppm,
           CAST(CASE {_BENFORD_CASE} END AS BIGINT) AS expected_ppm,
           CAST((CAST(cnt AS HUGEINT) * 1000000) // total
                - CASE {_BENFORD_CASE} END AS BIGINT) AS excess_ppm
    FROM tot
""",
    "source_concentration": """
    WITH per_source AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS x
        FROM documents GROUP BY source
    ),
    ranked AS (
        SELECT source, x,
               ROW_NUMBER() OVER (ORDER BY x, source) AS i
        FROM per_source
    ),
    m AS (
        SELECT COUNT(1) AS n,
               CAST(SUM(x) AS BIGINT) AS total,
               SUM(CAST(i AS HUGEINT) * x) AS six,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               CAST(MAX(x) AS BIGINT) AS xmax
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_sources,
           total AS total_chars,
           CAST(2 * six - CAST(n + 1 AS HUGEINT) * total AS VARCHAR)
               AS gini_num,
           CASE WHEN n > 0 AND total > 0 THEN
               ROUND(CAST(2 * six - CAST(n + 1 AS HUGEINT) * total
                          AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6)
           END AS gini,
           CASE WHEN total > 0 THEN
               ROUND(CAST(sxx AS DOUBLE)
                     / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6)
           END AS hhi,
           CASE WHEN total > 0 THEN
               CAST((CAST(xmax AS HUGEINT) * 1000000) // total AS BIGINT)
           END AS top_share_ppm
    FROM m
""",
    "rolling_7d_distinct_users": """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    anchors AS (
        SELECT DISTINCT day FROM du
    )
    SELECT a.day,
           (SELECT COUNT(DISTINCT d1.user_id) FROM du d1
            WHERE d1.day = a.day) AS users_1d,
           COUNT(DISTINCT e.user_id) AS users_7d
    FROM anchors a
    JOIN du e ON e.day BETWEEN a.day - 6 AND a.day
    GROUP BY a.day
""",
}

ORACLE_SQL["engagement_ratios"] = """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        WHERE user_id IS NOT NULL
    ),
    anchors AS (SELECT DISTINCT day FROM du),
    d1 AS (SELECT day, COUNT(*) AS users_1d FROM du GROUP BY day),
    w7 AS (
        SELECT a.day, COUNT(DISTINCT e.user_id) AS users_7d
        FROM anchors a JOIN du e ON e.day BETWEEN a.day - 6 AND a.day
        GROUP BY a.day
    ),
    w30 AS (
        SELECT a.day, COUNT(DISTINCT e.user_id) AS users_30d
        FROM anchors a JOIN du e ON e.day BETWEEN a.day - 29 AND a.day
        GROUP BY a.day
    )
    SELECT d1.day, users_1d, users_7d, users_30d,
           CAST((CAST(users_1d AS HUGEINT) * 1000000) // users_7d
                AS BIGINT) AS dau_wau_ppm,
           CAST((CAST(users_1d AS HUGEINT) * 1000000) // users_30d
                AS BIGINT) AS dau_mau_ppm,
           CAST((CAST(users_7d AS HUGEINT) * 1000000) // users_30d
                AS BIGINT) AS wau_mau_ppm
    FROM d1
    JOIN w7 ON d1.day = w7.day
    JOIN w30 ON d1.day = w30.day
"""
