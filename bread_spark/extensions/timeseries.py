"""Time-series monitoring over the event stream: CUSUM changepoint
detection and seasonal decomposition — both in EXACT integer arithmetic.

The statistical-QC family (`value_zscore_outliers`,
`daily_value_moving_avg`, the anomaly stream) flags POINT outliers.
These two operators cover what point tests cannot see:

- **CUSUM** (`value_cusum_by_type` / `cusum_alarms`): a small
  persistent LEVEL SHIFT — a fee change, a unit regression, a silent
  partial outage — moves every day's value by less than any
  per-point threshold, but its cumulative deviation grows linearly.
  Page's CUSUM accumulates (x - mu -/+ k) clamped at zero and alarms
  when the sum crosses h. The clamped recurrence
  ``S_t = max(0, S_{t-1} + d_t)`` looks sequential, but the classic
  identity ``S_t = P_t - min(0, min_{j<=t} P_j)`` (P = prefix sums)
  turns it into TWO window functions — a running sum and a running
  min — so the whole detector is plain Catalyst window work over the
  tiny day x type aggregate, no recursion, no UDF.

- **Seasonal decomposition** (`seasonal_decomposition` /
  `seasonal_anomalies`): additive trend + day-of-week + residual.
  Trend is a centered 7-day window mean, seasonal is the per-(type,
  day-of-week) mean of the detrended series, residual is what's left;
  anomalies are residuals beyond ``SEAS_H_MAD`` mean-absolute
  deviations. A Monday spike that repeats every Monday stops being an
  "anomaly" once the weekday component absorbs it — the
  seasonality-aware upgrade of the z-score monitor.

**Exact-integer discipline** (DECISIONS.md #12: anything DIFFERENCED
or thresholded must come from exact integers): per-event values
micro-quantize map-side (``round(value * 1e6)`` as bigint), daily
sums, prefix sums, running mins, frame means (SUM div COUNT — integer
division; Spark ``div`` and DuckDB ``//`` both truncate toward zero,
which coincides with floor only for non-negative quotients — frame
means of negative micro-sums truncate up, identically on both engines),
MAD, and every threshold comparison stay in int64 — both engines
compute bit-identical verdicts, no float ever crosses a boundary.
Policy constants (the allowance k = |mu|/20, alarm h = 5 MAD, seasonal
gate = 4 MAD) are engine policy, documented, and part of the oracle.

Overflow: prefix sums are bounded by the series' total micro-mass; at
100 TB per-type daily totals live in a bigint comfortably (1e12 days x
values would be needed to threaten 2^62); the micro-quantization
itself bounds per-event values at ~9e12 units.

Scale shape: everything windows over the day x type aggregate —
O(days x types) rows regardless of raw volume; the only full-data pass
is the map-side quantize + one keyed daily aggregate with partial
sums. Window partitions are per event_type, so parallelism is bounded
by type cardinality — correct here (the aggregate is tiny); for
high-cardinality keys the same plan shards by key hash for free.

CUSUM is the naturally ONLINE detector — the recurrence carries one
(S+, S-) pair per key, scored against FROZEN baseline stats (mu, k, h
from the reference window). The decomposition is batch-only by design:
the centered trend window needs FUTURE days, so an online form is a
different (trailing-window) estimator, not this operator.

Reference parity: the reference has no changepoint/seasonal analytics;
additive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..plans.materialize import materialized_frame

CUSUM_K_DIV = 100  # allowance k = |mu| / 100 (1% of the baseline level)
CUSUM_H_MAD = 5  # alarm when S exceeds 5 mean-absolute-deviations
CUSUM_BASE_DAYS = 14  # baseline stats come from each type's first 14 days
SEAS_H_MAD = 4  # seasonal anomaly gate: |residual| > 4 MAD


def _daily_micro(ev: DataFrame) -> DataFrame:
    """(event_type, day, x) — exact integer micro-sums per day."""
    return (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 1_000_000)
            .cast("long")
            .alias("v_u"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_u").alias("x"))
    )


def daily_micro_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once daily micro-sum table — the ONLY full-data pass of
    the whole time-series family, shared by six catalog entries
    (cusum x2, seasonal x2, and the stats.py trend + correlation
    matrix; review finding: each was re-scanning events
    from scratch, and inside one cusum plan the unmaterialized `daily`
    fed three subtrees). At 100 TB this is the staged daily-rollup
    table every monitor reads. Plan asserts target the unmaterialized
    `cusum_df(_daily_micro(...))` core per the seams convention."""
    return materialized_frame(
        spark,
        "timeseries.daily_micro",
        sf_dir,
        lambda: _daily_micro(load_table(spark, sf_dir, "events")),
    )


def cusum_df(daily: DataFrame, base_days: int = CUSUM_BASE_DAYS) -> DataFrame:
    """`value_cusum_by_type` core over an (event_type, day, x) frame.

    The baseline is each type's FIRST `base_days` days (day-rank
    window): mu = sum(x) div n, k = |mu| div CUSUM_K_DIV,
    mad = sum(|x - mu|) div n, h = CUSUM_H_MAD * mad — the reference
    window a production monitor trains on before watching the rest.
    A GLOBAL baseline would be self-referential: a level shift drags
    mu toward the midpoint, the allowance swallows half the deviation,
    and the detector flags the PRE-change regime as a drop; the
    reference-window form has neither problem. Upper/lower CUSUM via
    the prefix-sum/running-min identity; alarm when either side
    exceeds h (baseline days are scored too — their deviations are
    near zero by construction)."""
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy("day")
    )
    base = daily.withColumn("rk", rk).filter(F.col("rk") <= base_days)
    stats = base.groupBy("event_type").agg(
        F.expr("sum(x) div count(1)").alias("mu"),
    )
    mad = (
        base.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(F.expr("sum(abs(x - mu)) div count(1)").alias("mad"))
    )
    d = (
        daily.join(F.broadcast(stats), "event_type")
        .join(F.broadcast(mad), "event_type")
        .withColumn("k", F.expr(f"abs(mu) div {CUSUM_K_DIV}"))
        .withColumn("h", F.expr(f"{CUSUM_H_MAD} * mad"))
        .withColumn("dp", F.col("x") - F.col("mu") - F.col("k"))
        .withColumn("dn", -(F.col("x") - F.col("mu") + F.col("k")))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pp = F.sum("dp").over(wcum)
    pn = F.sum("dn").over(wcum)
    s_pos = pp - F.least(F.lit(0), F.min(pp).over(wcum))
    s_neg = pn - F.least(F.lit(0), F.min(pn).over(wcum))
    return d.select(
        "event_type",
        "day",
        "x",
        s_pos.alias("s_pos"),
        s_neg.alias("s_neg"),
        "h",
        ((s_pos > F.col("h")) | (s_neg > F.col("h")))
        .cast("int")
        .alias("alarm"),
    )


def value_cusum_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM over daily per-type value totals (module
    docstring): (event_type, day, x, s_pos, s_neg, h, alarm) — x and
    both statistics in exact integer micro-units."""
    return cusum_df(daily_micro_frame(spark, sf_dir))


def cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint report per type: first alarm day, alarm-day count,
    and the peak statistic — the page an on-call engineer reads.
    Types that never alarm are surfaced with nulls (a monitoring
    rollup must show its silent rows).

    r13-opt: the scored CUSUM frame feeds TWO subtrees (the alarm
    aggregate and the per-type threshold list); unmaterialized, the
    whole baseline + prefix-sum window chain ran twice per pass.
    localCheckpoint is bounded — O(types × days), the daily-grain
    frame the seam already materializes one stage earlier."""
    c = value_cusum_by_type(spark, sf_dir).localCheckpoint()
    alarms = (
        c.filter(F.col("alarm") == 1)
        .groupBy("event_type")
        .agg(
            F.min("day").alias("first_alarm_day"),
            F.count(F.lit(1)).alias("n_alarm_days"),
            F.max(F.greatest("s_pos", "s_neg")).alias("peak_stat"),
        )
    )
    types = c.select("event_type", "h").distinct()
    return types.join(alarms, "event_type", "left").select(
        "event_type",
        "first_alarm_day",
        "n_alarm_days",
        "peak_stat",
        "h",
    )


def seasonal_df(daily: DataFrame) -> DataFrame:
    """`seasonal_decomposition` core over (event_type, day, x): trend =
    centered 7-day frame mean (SUM div COUNT — shrinks at the edges,
    same frame both engines), seasonal = per-(type, dow) mean of the
    detrended series, residual = x - trend - seasonal. dow follows
    DuckDB's convention (0 = Sunday)."""
    trend = F.expr(
        "sum(x) over (partition by event_type order by day "
        "rows between 3 preceding and 3 following) div "
        "count(1) over (partition by event_type order by day "
        "rows between 3 preceding and 3 following)"
    )
    t = daily.select(
        "event_type",
        "day",
        "x",
        (F.dayofweek("day") - 1).alias("dow"),
        trend.alias("trend"),
    ).withColumn("detr", F.col("x") - F.col("trend"))
    seas = t.groupBy("event_type", "dow").agg(
        F.expr("sum(detr) div count(1)").alias("seasonal")
    )
    return (
        t.join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "dow",
            "x",
            "trend",
            "seasonal",
            (F.col("x") - F.col("trend") - F.col("seasonal")).alias(
                "residual"
            ),
        )
    )


def seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend + day-of-week + residual decomposition of daily
    per-type value totals, exact micro-integers throughout (module
    docstring): (event_type, day, dow, x, trend, seasonal, residual)."""
    return seasonal_df(daily_micro_frame(spark, sf_dir))


def seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose RESIDUAL (after removing trend and weekday shape)
    exceeds `SEAS_H_MAD` mean-absolute-deviations of the residual —
    the seasonality-aware anomaly list: (event_type, day, x, residual,
    mad, severity_pct). severity = |residual| * 100 div (gate) — an
    integer percentage of the alarm threshold.

    r13-opt: the decomposition feeds both the MAD aggregate and the
    gated join side; localCheckpoint (bounded O(types × days)) stops
    the trend-window + seasonal-join chain from running twice."""
    s = seasonal_decomposition(spark, sf_dir).localCheckpoint()
    mad = s.groupBy("event_type").agg(
        F.expr("sum(abs(residual)) div count(1)").alias("mad")
    )
    gated = s.join(F.broadcast(mad), "event_type").filter(
        F.abs("residual") > SEAS_H_MAD * F.col("mad")
    )
    return gated.select(
        "event_type",
        "day",
        "x",
        "residual",
        "mad",
        F.expr(f"abs(residual) * 100 div ({SEAS_H_MAD} * mad)").alias(
            "severity_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Lag autocorrelation (ACF)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7  # one week of daily lags — seasonality shows at lag 7
_DEC = "decimal(38,0)"


def _pearson(pairs: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, n, cov_num, r) — Pearson r per group of a (ya, yb) pairs
    frame: six exact moments (n, Σa, Σb, Σa², Σb², Σab; products on
    DECIMAL(38,0)), the exact covariance numerator n·Σab − ΣaΣb as a
    string, and r as ONE IEEE division rounded 6 (null when either
    series is constant)."""
    m = pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ya").alias("sa"),
        F.sum("yb").alias("sb"),
        F.sum(F.col("ya").cast(_DEC) * F.col("ya").cast(_DEC)).alias("saa"),
        F.sum(F.col("yb").cast(_DEC) * F.col("yb").cast(_DEC)).alias("sbb"),
        F.sum(F.col("ya").cast(_DEC) * F.col("yb").cast(_DEC)).alias("sab"),
    )
    num = F.col("n").cast(_DEC) * F.col("sab") - F.col("sa").cast(
        _DEC
    ) * F.col("sb").cast(_DEC)
    dena = F.col("n").cast(_DEC) * F.col("saa") - F.col("sa").cast(
        _DEC
    ) * F.col("sa").cast(_DEC)
    denb = F.col("n").cast(_DEC) * F.col("sbb") - F.col("sb").cast(
        _DEC
    ) * F.col("sb").cast(_DEC)
    r = F.when(
        (dena > 0) & (denb > 0),
        F.round(
            num.cast("double")
            / F.sqrt(dena.cast("double") * denb.cast("double")),
            6,
        ),
    )
    return m.select(*keys, "n", num.cast("string").alias("cov_num"), r.alias("r"))


def acf_from_daily(daily: DataFrame, max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """(event_type, lag, n_pairs, cov_num, acf) — lag-k Pearson between
    each type's daily series and its k-day-later self, k = 1..max_lag,
    over the day pairs where BOTH ends exist (no gap imputation — the
    aligned-inner-join contract of `correlation_from_daily`). The
    seasonality diagnostic the monitoring family reads next to the
    decomposition: a weekly cycle peaks at lag 7, trend shows as slow
    decay, white noise sits near 0 at every lag.

    Exact-moment discipline (DECISIONS #12): integer daily micro-sums,
    DECIMAL(38,0)/HUGEINT moment products, covariance numerator rides
    as the exact integer string; the only float is ONE IEEE division
    rounded 6. Plan: the lag fan-out is a bounded ×max_lag explode of
    the tiny daily table; the self-join is equi-keyed on
    (type, day+lag) — shuffle on the rollup, never on raw events.

    Streaming surface: same as trend/correlation — a snapshot of the
    streamed daily micro table (`_daily_micro` on a stream) fed through this
    batch fold IS the batch answer (pinned in
    tests/test_streaming_stats.py)."""
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("day").alias("day_a"),
        F.col("x").alias("ya"),
        F.explode(F.expr(f"sequence(1, {max_lag})")).alias("lag"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("day").alias("day_b"),
        F.col("x").alias("yb"),
    )
    pairs = a.join(
        b,
        (F.col("type_a") == F.col("type_b"))
        & (F.expr("date_add(day_a, lag)") == F.col("day_b")),
    )
    return _pearson(pairs, ["type_a", "lag"]).select(
        F.col("type_a").alias("event_type"),
        "lag",
        F.col("n").alias("n_pairs"),
        "cov_num",
        F.col("r").alias("acf"),
    )


def autocorrelation_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: `acf_from_daily` off the shared daily seam."""
    return acf_from_daily(daily_micro_frame(spark, sf_dir))


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

_CUSUM_CTE = (
    _DAILY_CTE
    + f""",
    based AS (
        SELECT event_type, day, x FROM (
            SELECT event_type, day, x,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY day) AS rk
            FROM daily
        ) WHERE rk <= {CUSUM_BASE_DAYS}
    ),
    stats AS (
        SELECT event_type, SUM(x) // COUNT(1) AS mu FROM based GROUP BY 1
    ),
    madt AS (
        SELECT d.event_type,
               SUM(ABS(d.x - s.mu)) // COUNT(1) AS mad
        FROM based d JOIN stats s USING (event_type) GROUP BY 1
    ),
    dd AS (
        SELECT d.event_type, d.day, d.x,
               s.mu, ABS(s.mu) // {CUSUM_K_DIV} AS k,
               {CUSUM_H_MAD} * m.mad AS h
        FROM daily d
        JOIN stats s USING (event_type)
        JOIN madt m USING (event_type)
    ),
    pref AS (
        SELECT event_type, day, x, h,
               SUM(x - mu - k) OVER w AS pp,
               SUM(-(x - mu + k)) OVER w AS pn
        FROM dd
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    cus AS (
        SELECT event_type, day, x, h,
               pp - LEAST(0, MIN(pp) OVER w) AS s_pos,
               pn - LEAST(0, MIN(pn) OVER w) AS s_neg
        FROM pref
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
"""
)

_SEAS_CTE = (
    _DAILY_CTE
    + """,
    tr AS (
        SELECT event_type, day, x, dayofweek(day) AS dow,
               SUM(x) OVER w // COUNT(1) OVER w AS trend
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
        SELECT event_type, dow,
               SUM(x - trend) // COUNT(1) AS seasonal
        FROM tr GROUP BY 1, 2
    ),
    dec AS (
        SELECT t.event_type, t.day, t.dow, t.x, t.trend, s.seasonal,
               t.x - t.trend - s.seasonal AS residual
        FROM tr t JOIN seas s USING (event_type, dow)
    )
"""
)

ORACLE_SQL: dict[str, str] = {
    "autocorrelation_by_type": _DAILY_CTE
    + f""",
    lags AS (SELECT CAST(unnest(range(1, {ACF_MAX_LAG + 1})) AS INT) AS lag),
    m AS (
        SELECT a.event_type, l.lag,
               COUNT(1) AS n,
               CAST(SUM(a.x) AS BIGINT) AS sa,
               CAST(SUM(b.x) AS BIGINT) AS sb,
               SUM(CAST(a.x AS HUGEINT) * a.x) AS saa,
               SUM(CAST(b.x AS HUGEINT) * b.x) AS sbb,
               SUM(CAST(a.x AS HUGEINT) * b.x) AS sab
        FROM daily a
        CROSS JOIN lags l
        JOIN daily b ON b.event_type = a.event_type
                    AND b.day = a.day + l.lag
        GROUP BY 1, 2
    ),
    nd AS (
        SELECT event_type, lag, n,
               CAST(n AS HUGEINT) * sab
                   - CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT) AS num,
               CAST(n AS HUGEINT) * saa
                   - CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT) AS dena,
               CAST(n AS HUGEINT) * sbb
                   - CAST(sb AS HUGEINT) * CAST(sb AS HUGEINT) AS denb
        FROM m
    )
    SELECT event_type, lag,
           CAST(n AS BIGINT) AS n_pairs,
           CAST(num AS VARCHAR) AS cov_num,
           CASE WHEN dena > 0 AND denb > 0 THEN
               ROUND(CAST(num AS DOUBLE)
                     / sqrt(CAST(dena AS DOUBLE) * CAST(denb AS DOUBLE)), 6)
           END AS acf
    FROM nd
""",
    "value_cusum_by_type": _CUSUM_CTE
    + """
    SELECT event_type, day, CAST(x AS BIGINT) AS x,
           CAST(s_pos AS BIGINT) AS s_pos, CAST(s_neg AS BIGINT) AS s_neg,
           CAST(h AS BIGINT) AS h,
           CAST(CASE WHEN s_pos > h OR s_neg > h THEN 1 ELSE 0 END AS INT)
               AS alarm
    FROM cus
""",
    "cusum_alarms": _CUSUM_CTE
    + """
    SELECT t.event_type, a.first_alarm_day,
           CAST(a.n_alarm_days AS BIGINT) AS n_alarm_days,
           CAST(a.peak_stat AS BIGINT) AS peak_stat,
           CAST(t.h AS BIGINT) AS h
    FROM (SELECT DISTINCT event_type, h FROM cus) t
    LEFT JOIN (
        SELECT event_type,
               MIN(day) AS first_alarm_day,
               COUNT(1) AS n_alarm_days,
               MAX(GREATEST(s_pos, s_neg)) AS peak_stat
        FROM cus WHERE s_pos > h OR s_neg > h
        GROUP BY 1
    ) a USING (event_type)
""",
    "seasonal_decomposition": _SEAS_CTE
    + """
    SELECT event_type, day, CAST(dow AS INT) AS dow,
           CAST(x AS BIGINT) AS x, CAST(trend AS BIGINT) AS trend,
           CAST(seasonal AS BIGINT) AS seasonal,
           CAST(residual AS BIGINT) AS residual
    FROM dec
""",
    "seasonal_anomalies": _SEAS_CTE
    + f""",
    madr AS (
        SELECT event_type, SUM(ABS(residual)) // COUNT(1) AS mad
        FROM dec GROUP BY 1
    )
    SELECT d.event_type, d.day, d.x, d.residual, m.mad,
           ABS(d.residual) * 100 // ({SEAS_H_MAD} * m.mad) AS severity_pct
    FROM dec d JOIN madr m USING (event_type)
    WHERE ABS(d.residual) > {SEAS_H_MAD} * m.mad
""",
}


# ---------------------------------------------------------------------------
# Numeric distribution drift (PSI over the HDR lattice)
# ---------------------------------------------------------------------------

PSI_REF_DAYS = 14  # reference period: each type's first 14 days


def value_psi_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each type's VALUE distribution,
    reference period vs the rest — the numeric-drift twin of
    `source_kl_divergence` (which watches token distributions) and the
    DISTRIBUTION-shape complement of CUSUM (which watches the level):
    a fee restructure that leaves the daily total flat but moves mass
    between price points alarms here and nowhere else.

        PSI = Σ_b (p_b − q_b) · ln(p_b / q_b)

    over HDR-lattice buckets (`_hdr_bucket_expr` — the same integer
    log-histogram the quantile sketch uses: engine-agnostic bucketing,
    no learned cut points to disagree about), with add-1 smoothing
    over each type's occupied-bucket union so empty cells are finite
    without dropping them. The reference period is each type's first
    `PSI_REF_DAYS` distinct days (rank over the tiny type×day table,
    broadcast back — the CUSUM baseline convention, DECISIONS #15).
    Bucket counts are exact integers; ln touches only final smoothed
    ratios and the result rounds to 6 (the `source_kl_divergence`
    float policy). Industry reading: PSI < 0.1 stable, 0.1-0.25
    drifting, > 0.25 shifted.

    Output: (event_type, psi, n_buckets, n_ref, n_cur)."""
    from .sketch import _hdr_bucket_expr

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "value",
    )
    day_rank = F.row_number().over(
        Window.partitionBy("event_type").orderBy("day")
    )
    ref_days = (
        ev.select("event_type", "day")
        .distinct()
        .withColumn("rk", day_rank)
        .filter(F.col("rk") <= PSI_REF_DAYS)
        .select("event_type", "day", F.lit(1).alias("is_ref"))
    )
    binned = (
        ev.join(F.broadcast(ref_days), ["event_type", "day"], "left")
        .select(
            "event_type",
            F.coalesce("is_ref", F.lit(0)).alias("is_ref"),
            F.expr(_hdr_bucket_expr("value")).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.expr("is_ref")).alias("n_ref_b"),
            F.sum(F.expr("1 - is_ref")).alias("n_cur_b"),
        )
    )
    totals = binned.groupBy("event_type").agg(
        F.sum("n_ref_b").alias("n_ref"),
        F.sum("n_cur_b").alias("n_cur"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    p = (F.col("n_ref_b") + 1) / (F.col("n_ref") + F.col("n_buckets"))
    q = (F.col("n_cur_b") + 1) / (F.col("n_cur") + F.col("n_buckets"))
    return (
        binned.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
            F.max("n_buckets").cast("long").alias("n_buckets"),
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
        )
    )


# The DuckDB bucket mirror is IMPORTED from the sketch family (review
# finding: a hardcoded copy here would silently stay behind if
# HDR_SCALE/HDR_SUB_BITS were ever tuned — one definition, two oracles)
from .sketch import _HDR_BUCKET_DUCK as _HDR_BUCKET_DUCK_TS  # noqa: E402

ORACLE_SQL["value_psi_by_type"] = f"""
    WITH ranked_days AS (
        SELECT event_type, day,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day) AS rk
        FROM (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day
              FROM events)
    ),
    binned AS (
        SELECT e.event_type,
               CASE WHEN r.rk <= {PSI_REF_DAYS} THEN 1 ELSE 0 END AS is_ref,
               {_HDR_BUCKET_DUCK_TS} AS bucket
        FROM events e
        JOIN ranked_days r
          ON r.event_type = e.event_type
         AND r.day = CAST(e.ts AS DATE)
    ),
    cnt AS (
        SELECT event_type, bucket,
               SUM(is_ref) AS n_ref_b,
               SUM(1 - is_ref) AS n_cur_b
        FROM binned GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, SUM(n_ref_b) AS n_ref, SUM(n_cur_b) AS n_cur,
               COUNT(1) AS n_buckets
        FROM cnt GROUP BY 1
    )
    SELECT c.event_type,
           ROUND(SUM(
               ((c.n_ref_b + 1.0) / (t.n_ref + t.n_buckets)
                - (c.n_cur_b + 1.0) / (t.n_cur + t.n_buckets))
               * ln(((c.n_ref_b + 1.0) / (t.n_ref + t.n_buckets))
                    / ((c.n_cur_b + 1.0) / (t.n_cur + t.n_buckets)))
           ), 6) AS psi,
           CAST(MAX(t.n_buckets) AS BIGINT) AS n_buckets,
           CAST(MAX(t.n_ref) AS BIGINT) AS n_ref,
           CAST(MAX(t.n_cur) AS BIGINT) AS n_cur
    FROM cnt c JOIN tot t USING (event_type)
    GROUP BY 1
"""


def events_monitoring_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE per-type monitoring rollup — the events-side twin of the
    corpus `source_dashboard`: one row per event_type joining the
    CUSUM changepoint report (first alarm day, alarm-day count), the
    PSI distribution drift, the seasonal-anomaly tally (count + peak
    severity), and the volume context (days observed, total value) —
    the single page an on-call engineer reads before drilling into any
    member entry.

    Composition proof, not new math: every cell is the MEMBER
    operator's own value (the oracle chains the members' SQL, so a
    driver-green dashboard re-pins each member through the join), and
    a frame-level member-equality test guards against silent drift if
    a member later changes rounding or gains a seam (the VERDICT r7 #4
    convention). All joins are LEFT from the complete type list so a
    silent type shows null cells rather than disappearing (ADVICE r7
    convention); join keys are O(types) rows — broadcast, no
    data-volume shuffle added by the composition."""
    daily = daily_micro_frame(spark, sf_dir)
    types = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.sum("x") / 1_000_000.0, 4).alias("total_value"),
    )
    alarms = cusum_alarms(spark, sf_dir).select(
        "event_type", "first_alarm_day", "n_alarm_days"
    )
    psi = value_psi_by_type(spark, sf_dir).select("event_type", "psi")
    anom = (
        seasonal_anomalies(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_seasonal_anomalies"),
            F.max("severity_pct").alias("peak_severity_pct"),
        )
    )
    return (
        types.join(F.broadcast(alarms), "event_type", "left")
        .join(F.broadcast(psi), "event_type", "left")
        .join(F.broadcast(anom), "event_type", "left")
        .select(
            "event_type",
            "n_days",
            "total_value",
            "first_alarm_day",
            "n_alarm_days",
            "psi",
            F.coalesce("n_seasonal_anomalies", F.lit(0)).alias(
                "n_seasonal_anomalies"
            ),
            "peak_severity_pct",
        )
    )


ORACLE_SQL["events_monitoring_dashboard"] = f"""
    WITH alarms AS ({ORACLE_SQL["cusum_alarms"]}),
    psi AS ({ORACLE_SQL["value_psi_by_type"]}),
    anom AS ({ORACLE_SQL["seasonal_anomalies"]}),
    types AS (
        SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n_days,
               ROUND(SUM(x) / 1000000.0, 4) AS total_value
        FROM (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS x
            FROM events GROUP BY 1, 2
        ) GROUP BY 1
    ),
    anom_agg AS (
        SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n_seasonal_anomalies,
               CAST(MAX(severity_pct) AS BIGINT) AS peak_severity_pct
        FROM anom GROUP BY 1
    )
    SELECT t.event_type, t.n_days, t.total_value,
           a.first_alarm_day, a.n_alarm_days,
           p.psi,
           COALESCE(g.n_seasonal_anomalies, 0) AS n_seasonal_anomalies,
           g.peak_severity_pct
    FROM types t
    LEFT JOIN alarms a USING (event_type)
    LEFT JOIN psi p USING (event_type)
    LEFT JOIN anom_agg g USING (event_type)
"""
