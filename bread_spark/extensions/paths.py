"""Event-sequence analytics: user-journey paths and the Markov
transition matrix.

The funnel (`conversion_funnel`) answers "how many users completed
THIS ordered set of steps"; retention answers "who came back". Neither
answers the exploratory questions a product analyst actually starts
with: *what do users do next* (the transition matrix) and *which
journeys lead to conversion* (path mining). Both are pure
window-function work over per-user event order:

- `event_transition_matrix` — (from_type, to_type, n, prob_micro):
  per-user successor pairs via LEAD over (ts, event_id) order, counted
  per pair; the row-conditional probability is an exact integer ratio
  ``n * 1e6 div from_total`` (DECISIONS #12 — probabilities that feed
  ranking must come from exact integers, and Spark `div` / DuckDB `//`
  share truncate-toward-zero semantics).
- `event_path_trigrams` — (t1, t2, t3, n): every consecutive
  three-step journey, via LEAD(1)/LEAD(2) in the same pass — no
  self-joins, the n-gram trick applied to the event stream instead of
  text.
- `top_paths_to_purchase` — the trigrams ENDING in a purchase, ranked
  (n DESC, t1, t2) with the rank materialized — the "what happened
  right before conversion" report.

Determinism: the per-user order is (ts, event_id) — unique and
engine-agnostic; ranking ties break lexicographically on the path
itself, applied identically in the oracle.

Scale shape: ONE shuffle keyed on user_id feeds every window (the
LEAD family shares the same partitioning/sort, so Catalyst runs one
Window operator for all three offsets); the aggregates run on tiny
(types^k)-row outputs with map-side partials. At 100 TB this is the
canonical sessionized-clickstream plan: repartition by user, sort
within, derive everything in one pass.

Reference parity: the reference has no sequence analytics; additive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..plans.materialize import materialized_frame

TOP_PATHS = 10
PROB_SCALE = 1_000_000


def _ordered_events(ev: DataFrame) -> DataFrame:
    return ev.select("user_id", "ts", "event_id", "event_type")


def transitions_df(ev: DataFrame) -> DataFrame:
    """(from_type, to_type, n) — per-user successor pairs."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        _ordered_events(ev)
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    return (
        pairs.groupBy(
            F.col("event_type").alias("from_type"), "to_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def trigram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once trigram aggregate — the user-keyed shuffle + window
    pass over all events, shared by `event_path_trigrams` and
    `top_paths_to_purchase` (review finding: each entry was repeating
    it). Plan asserts target the unmaterialized `path_trigrams_df`
    core per the seams convention."""
    return materialized_frame(
        spark,
        "paths.trigrams",
        sf_dir,
        lambda: path_trigrams_df(load_table(spark, sf_dir, "events")),
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-journey Markov matrix (module docstring): (from_type,
    to_type, n, prob_micro) with prob an exact integer micro-ratio of
    the from-row total."""
    ev = load_table(spark, sf_dir, "events")
    t = transitions_df(ev)
    totals = t.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        t.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr(f"(n * {PROB_SCALE}) div tot").alias("prob_micro"),
        )
    )


def path_trigrams_df(ev: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        _ordered_events(ev)
        .select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
    )
    return tri.groupBy("t1", "t2", "t3").agg(F.count(F.lit(1)).alias("n"))


def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every consecutive three-step user journey with its frequency:
    (t1, t2, t3, n) — the n-gram trick on the event stream. Serves the
    compute-once seam."""
    return trigram_frame(spark, sf_dir)


def top_paths_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `TOP_PATHS` most frequent three-step journeys ENDING in a
    purchase — (rank, t1, t2, n): what users did right before
    converting. Rank order (n DESC, t1, t2) is total, so the top-k cut
    is engine-deterministic."""
    tri = trigram_frame(spark, sf_dir).filter(F.col("t3") == "purchase")
    w = Window.orderBy(F.desc("n"), F.asc("t1"), F.asc("t2"))
    return (
        tri.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_PATHS)
        .select(F.col("rank").cast("long").alias("rank"), "t1", "t2", "n")
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_PAIRS_CTE = """
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               LEAD(event_type, 1) OVER w AS to_type,
               LEAD(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
"""


FOLLOWUP_WINDOW_S = 3600  # "B follows A" horizon: one hour


def followup_rates_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The followed-by matrix: for every event-type pair (a, b), the
    exact ppm of a-events that see AT LEAST ONE same-user b-event
    STRICTLY within the next hour — the non-adjacent generalization of
    `event_transition_matrix` (which only sees the immediate next
    event) and the all-pairs sibling of the fixed-steps funnel.

    Scale shape: the candidate generation is the §2.4 bucketed range
    join (`operators/interval.py`, bucket = the window length, equi
    key = user_id) — candidates meet only inside (user, hour-bucket)
    cells, never across the corpus. EXISTS collapses via DISTINCT
    (a_event, b_type) BEFORE the matrix aggregate; the per-type
    denominators are a bounded O(types) broadcast. Pairs with zero
    followups are absent by contract (the dense spine is the
    transition matrix's job). Batch-only: the horizon needs each
    event's full next-hour future.
    Output: (a_type, b_type, n_a, n_with_followup, followup_ppm)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return followup_matrix_df(ev)


def followup_matrix_df(ev: DataFrame) -> DataFrame:
    """`followup_rates_matrix` core over any (event_id, user_id,
    event_type, ts) frame."""
    from ..operators.interval import interval_join

    a = ev.select(
        F.col("event_id").alias("a_id"),
        "user_id",
        F.col("event_type").alias("a_type"),
        F.col("ts").alias("a_ts"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr(f"INTERVAL {FOLLOWUP_WINDOW_S} SECONDS")).alias(
            "win_end"
        ),
    )
    b = ev.select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("user_id"),
        F.col("event_type").alias("b_type"),
        F.col("ts").alias("b_ts"),
    )
    cand = interval_join(
        b,
        a,
        point_ts="b_ts",
        start_col="win_start",
        end_col="win_end",
        bucket_seconds=FOLLOWUP_WINDOW_S,
        extra_key="user_id",
    ).filter(F.col("b_ts") > F.col("a_ts"))  # strictly after (also drops self)
    hits = cand.select("a_id", "a_type", "b_type").distinct()
    num = hits.groupBy("a_type", "b_type").agg(
        F.count(F.lit(1)).alias("n_with_followup")
    )
    den = ev.groupBy(F.col("event_type").alias("d_type")).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    return num.join(F.broadcast(den), F.col("a_type") == F.col("d_type")).select(
        "a_type",
        "b_type",
        "n_a",
        "n_with_followup",
        F.expr(
            "CAST((CAST(n_with_followup AS DECIMAL(38,0)) * 1000000)"
            " div n_a AS BIGINT)"
        ).alias("followup_ppm"),
    )

ORACLE_SQL: dict[str, str] = {
    "event_transition_matrix": _PAIRS_CTE
    + f""",
    t AS (
        SELECT event_type AS from_type, to_type, COUNT(1) AS n
        FROM ordered WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS tot FROM t GROUP BY 1)
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
           CAST((t.n * {PROB_SCALE}) // tot.tot AS BIGINT) AS prob_micro
    FROM t JOIN tot USING (from_type)
""",
    "event_path_trigrams": _PAIRS_CTE
    + """
    SELECT event_type AS t1, to_type AS t2, t3, COUNT(1) AS n
    FROM ordered WHERE t3 IS NOT NULL GROUP BY 1, 2, 3
""",
    "top_paths_to_purchase": _PAIRS_CTE
    + f""",
    tri AS (
        SELECT event_type AS t1, to_type AS t2, t3, COUNT(1) AS n
        FROM ordered WHERE t3 IS NOT NULL GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT t1, t2, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, t1 ASC, t2 ASC) AS rank
        FROM tri WHERE t3 = 'purchase'
    )
    SELECT CAST(rank AS BIGINT) AS rank, t1, t2, CAST(n AS BIGINT) AS n
    FROM ranked WHERE rank <= {TOP_PATHS}
""",
}

ORACLE_SQL["followup_rates_matrix"] = """
    WITH a AS (
        SELECT event_id, user_id, event_type AS a_type, ts FROM events
    ),
    hits AS (
        SELECT DISTINCT a.event_id, a.a_type, b.event_type AS b_type
        FROM a
        JOIN events b
          ON a.user_id = b.user_id
         AND b.ts > a.ts
         AND b.ts <= a.ts + INTERVAL 3600 SECONDS
    ),
    num AS (
        SELECT a_type, b_type, COUNT(1) AS n_with_followup
        FROM hits GROUP BY 1, 2
    ),
    den AS (
        SELECT event_type AS a_type, COUNT(1) AS n_a FROM events GROUP BY 1
    )
    SELECT num.a_type, num.b_type, den.n_a, num.n_with_followup,
           CAST((CAST(num.n_with_followup AS HUGEINT) * 1000000)
                // den.n_a AS BIGINT) AS followup_ppm
    FROM num JOIN den ON num.a_type = den.a_type
"""
