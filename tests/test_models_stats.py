"""Ground-truth tests for the statistical-QC models (z-score outliers,
bounded moving-average window) on tiny hand-computed corpora — the oracle
differential proves engine agreement; these prove the math itself. The
sessionizer and the tumbling windows are also pinned against their
oracle SQL and against Spark's native `session_window`."""

from __future__ import annotations

import datetime
import statistics

from pyspark.sql import functions as F

from bread_spark.io import load_table
from bread_spark.models import (
    ORACLE_SQL,
    SESSION_GAP_MIN,
    daily_value_moving_avg,
    session_stats,
    value_zscore_outliers,
    windowed_value_by_type,
)
from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duckdb_con


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_zscore_flags_exactly_the_planted_outlier(spark, tmp_path):
    t0 = datetime.datetime(2024, 1, 1)
    # one planted spike; baseline must be large enough that a single
    # outlier CAN exceed z=3 (max attainable z is (n-1)/sqrt(n))
    vals = [10.0 + 0.1 * (i % 7) for i in range(29)] + [1000.0]
    rows = [
        (i, t0 + datetime.timedelta(minutes=i), 1, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = value_zscore_outliers(spark, sf).collect()
    assert [r["event_id"] for r in out] == [29]
    mu, sigma = statistics.mean(vals), statistics.stdev(vals)
    assert abs(out[0]["z"] - round((1000.0 - mu) / sigma, 4)) < 1e-9


def test_moving_avg_frame_shrinks_at_partition_start(spark, tmp_path):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (d, t0 + datetime.timedelta(days=d), 1, "click", float(d + 1), "{}")
        for d in range(10)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["day"].day: r["ma7"]
        for r in daily_value_moving_avg(spark, sf).collect()
    }
    # day k (0-based value k+1): avg of last min(k+1, 7) daily values
    for d in range(10):
        window = [v + 1 for v in range(max(0, d - 6), d + 1)]
        assert abs(got[d + 1] - round(sum(window) / len(window), 4)) < 1e-9


def test_conversion_funnel_stage_semantics(spark, tmp_path):
    """Hand-built user journeys pin the ordered-sequence rules:
    a click BEFORE the first view doesn't count, a click outside the
    24 h horizon doesn't count, a purchase before the qualifying click
    doesn't count, and a same-timestamp view+click pair does count
    (RANGE frame includes peers)."""
    from bread_spark.models import conversion_funnel

    t0 = datetime.datetime(2024, 5, 1, 12, 0)
    h = datetime.timedelta(hours=1)
    rows = []

    def ev(eid, user, typ, ts):
        rows.append((eid, ts, user, typ, 1.0, "{}"))

    # u1: full conversion inside both horizons
    ev(1, 1, "view", t0)
    ev(2, 1, "click", t0 + 2 * h)
    ev(3, 1, "purchase", t0 + 3 * h)
    # u2: click precedes the first view → no click stage
    ev(4, 2, "click", t0 - h)
    ev(5, 2, "view", t0)
    ev(6, 2, "purchase", t0 + h)
    # u3: click outside the 24 h view horizon → view only
    ev(7, 3, "view", t0)
    ev(8, 3, "click", t0 + 30 * h)
    # u4: purchase before the qualifying click → click only
    ev(9, 4, "view", t0)
    ev(10, 4, "purchase", t0 + h)
    ev(11, 4, "click", t0 + 2 * h)
    # u5: same-timestamp view+click, purchase within 24 h of the click
    ev(12, 5, "view", t0)
    ev(13, 5, "click", t0)
    ev(14, 5, "purchase", t0 + 20 * h)
    # u6: never views (purchase+click only) → not in the funnel at all
    ev(15, 6, "click", t0)
    ev(16, 6, "purchase", t0 + h)

    sf = _write_events(spark, tmp_path, rows)
    out = conversion_funnel(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["day"] == datetime.date(2024, 5, 1)
    assert r["n_viewed"] == 5  # u1-u5
    assert r["n_clicked"] == 3  # u1, u4, u5
    assert r["n_purchased"] == 2  # u1, u5


def test_gapfill_inserts_zero_days(spark, tmp_path):
    """A corpus with activity on days 1, 2 and 5 must yield a 5-day spine
    with explicit zeros on days 3-4."""
    from bread_spark.models import txs_per_day_gapfilled

    t0 = datetime.datetime(2024, 6, 1, 9, 0)
    d = datetime.timedelta(days=1)
    rows = [
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0, 2, "click", 1.0, "{}"),
        (3, t0 + d, 1, "view", 1.0, "{}"),
        (4, t0 + 4 * d, 3, "click", 1.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["day"].day: r["tx_count"]
        for r in txs_per_day_gapfilled(spark, sf).collect()
    }
    assert got == {1: 2, 2: 1, 3: 0, 4: 0, 5: 1}


def test_retention_cohorts_triangle(spark, tmp_path):
    """Two cohorts with hand-known comebacks: counts per (cohort, offset)
    and the invariant that offset 0 counts every cohort member."""
    from bread_spark.models import retention_cohorts

    t0 = datetime.datetime(2024, 6, 1, 9, 0)
    d = datetime.timedelta(days=1)
    rows = []
    eid = 0

    def ev(user, day_idx):
        nonlocal eid
        eid += 1
        rows.append((eid, t0 + day_idx * d, user, "click", 1.0, "{}"))

    # cohort day 0: users 1, 2; user 1 returns day 1 and 2, user 2 day 2
    ev(1, 0); ev(1, 1); ev(1, 2); ev(1, 2)  # same-day dup must not double-count
    ev(2, 0); ev(2, 2)
    # cohort day 1: user 3, never returns
    ev(3, 1)
    sf = _write_events(spark, tmp_path, rows)
    got = {
        (r["cohort_day"].day, r["day_offset"]): r["n_active"]
        for r in retention_cohorts(spark, sf).collect()
    }
    assert got == {(1, 0): 2, (1, 1): 1, (1, 2): 2, (2, 0): 1}


def test_approx_percentiles_within_rank_error(spark):
    """percentile_approx contract vs the exact operator: each approx
    quantile must land between the exact quantiles at p ∓ 0.01 (rank
    error 1/accuracy = 1e-4, asserted with 100× slack)."""
    from bread_spark.models import (
        approx_value_percentiles_by_type,
        value_percentiles_by_type,
    )

    approx = {
        r["event_type"]: r
        for r in approx_value_percentiles_by_type(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        bounds = {
            r["event_type"]: (r["lo"], r["hi"])
            for r in ev.groupBy("event_type")
            .agg(
                F.expr(f"percentile(value, {max(p - 0.01, 0.0)})").alias("lo"),
                F.expr(f"percentile(value, {min(p + 0.01, 1.0)})").alias("hi"),
            )
            .collect()
        }
        for typ, (lo, hi) in bounds.items():
            v = approx[typ][col]
            assert lo - 1e-4 <= v <= hi + 1e-4, (typ, col, v, lo, hi)


def test_winsorize_clips_to_percentile_band(spark, tmp_path):
    """Ground truth against independently computed percentile bounds
    (numpy 'linear' interpolation = Spark's exact `percentile`): planted
    extremes land EXACTLY on the p01/p99 bounds, every output sits inside
    the band, and interior values pass through unchanged."""
    import numpy as np

    from bread_spark.models import winsorize_values

    t0 = datetime.datetime(2024, 7, 1)
    vals = [float(v) for v in range(100)] + [-1e6, 1e6]
    rows = [
        (i, t0 + datetime.timedelta(minutes=i), 1, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = {r["event_id"]: r for r in winsorize_values(spark, sf).collect()}

    lo = round(float(np.percentile(vals, 1)), 4)
    hi = round(float(np.percentile(vals, 99)), 4)
    assert lo != min(vals) and hi != max(vals)  # the band really excludes the spikes
    assert out[100]["value_winsorized"] == lo  # -1e6 pulled up to p01
    assert out[101]["value_winsorized"] == hi  # +1e6 pulled down to p99
    assert all(lo <= r["value_winsorized"] <= hi for r in out.values())
    assert out[50]["value_winsorized"] == 50.0  # interior untouched


def test_ohlc_tie_break_and_bounds(spark, tmp_path):
    """Same-timestamp open tie breaks on event_id (padded-key contract);
    high/low are plain extremes; close is the latest reading."""
    from bread_spark.models import hourly_ohlc_by_type

    t0 = datetime.datetime(2024, 9, 1, 10, 0)
    m = datetime.timedelta(minutes=1)
    rows = [
        (7, t0, 1, "click", 5.0, "{}"),   # tied ts, higher id
        (3, t0, 1, "click", 9.0, "{}"),   # tied ts, LOWER id → open
        (8, t0 + m, 1, "click", 1.0, "{}"),
        (9, t0 + 2 * m, 1, "click", 4.0, "{}"),  # close
    ]
    sf = _write_events(spark, tmp_path, rows)
    r = hourly_ohlc_by_type(spark, sf).collect()[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["n_events"]) == (
        9.0, 9.0, 1.0, 4.0, 4,
    )


def test_twap_weights_by_interval(spark, tmp_path):
    """Hand-computed: values 10 (held 1 min), 20 (held 3 min); the final
    reading carries no weight → twap = (10·60 + 20·180) / 240 = 17.5,
    while the naive mean of [10, 20, 99] would be 43."""
    from bread_spark.models import daily_twap_by_type

    t0 = datetime.datetime(2024, 9, 1, 10, 0)
    m = datetime.timedelta(minutes=1)
    rows = [
        (1, t0, 1, "click", 10.0, "{}"),
        (2, t0 + m, 1, "click", 20.0, "{}"),
        (3, t0 + 4 * m, 1, "click", 99.0, "{}"),
        (4, t0, 1, "view", 7.0, "{}"),  # single event that day → no row
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {r["event_type"]: r for r in daily_twap_by_type(spark, sf).collect()}
    assert got["click"]["twap"] == 17.5
    assert got["click"]["n_intervals"] == 2
    assert "view" not in got


def test_histogram_bins_partition_the_corpus(spark, tmp_path):
    """Bin totals must sum to the event count, bins are zero-anchored
    width-25 (hand-checked boundaries: 24.99→bin 0, 25.0→bin 1), and
    negatives floor downward (-0.5→bin -1)."""
    from bread_spark.models import value_histogram_by_type

    t0 = datetime.datetime(2024, 10, 1)
    vals = [0.0, 24.99, 25.0, 49.9, 50.0, -0.5]
    rows = [
        (i, t0, 1, "click", v, "{}") for i, v in enumerate(vals)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {r["bin"]: r["n"] for r in value_histogram_by_type(spark, sf).collect()}
    assert got == {-1: 1, 0: 2, 1: 2, 2: 1}
    assert sum(got.values()) == len(vals)


def test_key_skew_report_flags_planted_hot_key(spark, tmp_path):
    """A planted hot key (80% of rows) must rank first with the right
    share, and skew_ratio = max·keys/total is hand-checkable."""
    from bread_spark.models import key_skew_report

    t0 = datetime.datetime(2024, 11, 1)
    rows = []
    for i in range(80):
        rows.append((i, t0, 7, "click", 1.0, "{}"))  # hot user 7
    for i in range(20):
        rows.append((100 + i, t0, i % 5, "click", 1.0, "{}"))  # 5 cold users
    sf = _write_events(spark, tmp_path, rows)
    out = key_skew_report(spark, sf).collect()
    top = out[0]
    assert top["user_id"] == 7 and top["n_rows"] == 80
    assert top["row_share"] == 0.8
    assert top["skew_ratio"] == round(80 * 6 / 100, 4)  # 4.8
    assert all(r["skew_ratio"] == top["skew_ratio"] for r in out)


def test_late_shipment_rate_hand_case(spark):
    """One order per priority: day-31 ship is late, day-30 is not
    (strict >30-day boundary); ppm is the exact truncating ratio."""
    import datetime

    from bread_spark.models import late_shipment_df

    orders = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1), "1-URGENT"),
            (2, datetime.datetime(2024, 1, 1), "2-HIGH"),
        ],
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 2, 1)),  # +31 days -> late
            (1, datetime.datetime(2024, 1, 31)),  # +30 days -> on time
            (2, datetime.datetime(2024, 1, 5)),
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    got = {
        r["o_orderpriority"]: r for r in late_shipment_df(li, orders).collect()
    }
    assert (got["1-URGENT"]["n_lines"], got["1-URGENT"]["n_late"]) == (2, 1)
    assert got["1-URGENT"]["late_ppm"] == 500_000
    assert got["2-HIGH"]["n_late"] == 0 and got["2-HIGH"]["late_ppm"] == 0


def test_late_shipment_rate_corpus(spark, sf_dir):
    from bread_spark.models import late_shipment_rate_by_priority

    rows = late_shipment_rate_by_priority(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_late"] <= r["n_lines"]
        assert 0 <= r["late_ppm"] <= 1_000_000


def test_sessionize_batch_vs_oracle(spark):
    events = load_table(spark, SF_DIR, "events")
    got = session_stats(events)
    con = duckdb_con(SF_DIR)
    sql = f"""
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
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, COUNT(1) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               ROUND(SUM(value), 4) AS session_value
        FROM sessioned GROUP BY user_id, session_id
    """
    ok, msg = compare(got, con, sql)
    assert ok, msg


def test_windowed_value_by_type_matches_oracle(spark):
    got = windowed_value_by_type(spark, SF_DIR)
    ok, msg = compare(got, duckdb_con(SF_DIR), ORACLE_SQL["windowed_value_by_type"])
    assert ok, msg


def test_native_session_window_matches_custom_sessionizer(spark):
    """Spark's built-in session_window must produce the same sessions as
    the repo's two-pass window sessionizer on the real events table:
    identical (user, start, n_events, value) multiset, and the native
    window end is exactly last-event + gap."""
    ev = load_table(spark, SF_DIR, "events")
    custom = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"]):
            r["session_end"]
        for r in session_stats(ev).collect()
    }
    native_rows = (
        ev.groupBy(
            "user_id", F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .collect()
    )
    native = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"]):
            (r["session_end"], r["sw"]["end"])
        for r in native_rows
    }
    assert set(native) == set(custom)
    gap = datetime.timedelta(minutes=SESSION_GAP_MIN)
    for key, (last_ts, sw_end) in native.items():
        assert custom[key] == last_ts
        assert sw_end == last_ts + gap
