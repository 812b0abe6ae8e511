"""Quality-gate tuning metrics — AUC / PR / calibration of the production
quality signal against curation survivorship.

The NB gate-metric machinery (`classify.py`) is generic over
``(doc_id, is_correct, margin_u)``; this family points it at the table a
data-curation user actually tunes with: does the exact-integer
stopword-density score (`quality_rank_df`'s ``stop_ppm`` lattice)
discriminate documents that SURVIVE curation — near-dup cluster
canonicals that are not benchmark-contaminated — from the documents
curation drops? Three entries form the threshold-picker's dashboard:

- ``quality_gate_auc``: Mann-Whitney ROC-AUC — does the signal rank
  keepers above drops at all?
- ``quality_gate_pr_curve``: precision/recall at each candidate
  stopword-ratio gate — the trade a corpus owner actually commits to.
- ``quality_gate_calibration``: score deciles vs empirical keep rate —
  whether a higher score means more-often-kept, bin by bin.

Float discipline: the ranked/differenced quantity is ``stop_ppm =
(n_stop·1e6) div n_tokens`` — exact integers on both engines; every
displayed ratio is a ROUND of identical integer numerators and
denominators (DECISIONS.md #12).

Scale shape: the label frame is two doc_id-keyed left joins (cluster
canonicals O(docs), contamination flags O(docs)) — keyed shuffles, no
broadcast assumptions; both inputs ride their existing materialized
seams (`dedup_clusters`, the shingle frame). The AUC/calibration
cumulatives inherit classify.py's striped two-level windows, so no
single-reducer stage sees O(n) rows.

Batch-only family: the labels are survivorship verdicts over a full
corpus snapshot (cluster canonicals + contamination flags), recomputed
per snapshot — the `quality_rank_df` / `quality_filter` convention for
total-order-over-history artifacts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..functions.text import STOPWORDS_EN, split_tokens
from .classify import calibration_bins_df, margin_auc_df, pr_curve_df
from .dedup import ORACLE_SQL as _DEDUP_SQL
from .dedup import dedup_clusters
from .training import ORACLE_SQL as _TRAIN_SQL
from .training import PROBE_MAX_DOC_ID, decontaminate

# Stopword-ratio gate ladder (display ratio, micro-ppm units) — spans the
# corpus's observed stop_ppm spread so the gates are non-degenerate at
# test scale. Micro units are the lattice `quality_rank_df` ranks on.
QUALITY_GATE_THRESHOLDS = (
    (0.0, 0),
    (0.05, 50_000),
    (0.10, 100_000),
    (0.15, 150_000),
    (0.20, 200_000),
    (0.25, 250_000),
    (0.30, 300_000),
)


def _gate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_correct, margin_u) over the corpus docs — shared by
    all three gate entries, so it rides the `materialized_frame` seam
    (first touch in the bench cold pass pays for all; plan asserts
    target the unmaterialized `gate_rows_df` core)."""
    from ..plans.materialize import materialized_frame

    return materialized_frame(
        spark, "quality_gate_rows", sf_dir, lambda: _gate_rows_build(spark, sf_dir)
    )


def _gate_rows_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_correct, margin_u): margin_u is the exact stop_ppm
    score, is_correct = 1 iff the doc survives curation (its near-dup
    cluster's canonical AND not contaminated). Zero-token docs have no
    score and are excluded on both engines; probe (benchmark) docs are
    out of scope — they are the eval set, not curation candidates."""
    docs = load_table(spark, sf_dir, "documents")
    toks = split_tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    scored = (
        docs.filter(F.col("doc_id") >= PROBE_MAX_DOC_ID)
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            n_stop.cast("long").alias("n_stop"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id", F.expr("(n_stop * 1000000) div n_tokens").alias("margin_u")
        )
    )
    survivors = (
        dedup_clusters(spark, sf_dir)
        .groupBy(F.col("cluster_id").alias("doc_id"))
        .agg(F.lit(1).alias("_kept"))
    )
    contam = (
        decontaminate(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select("doc_id", F.lit(1).alias("_contam"))
    )
    return gate_rows_df(scored, survivors, contam)


def gate_rows_df(
    scored: DataFrame, survivors: DataFrame, contam: DataFrame
) -> DataFrame:
    """`_gate_rows` core over any (doc_id, margin_u) score frame plus
    (doc_id, _kept) / (doc_id, _contam) verdict frames — tests drive it
    with planted survivorship patterns."""
    return (
        scored.join(survivors, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("_kept").isNotNull() & F.col("_contam").isNull())
            .cast("int")
            .alias("is_correct"),
            "margin_u",
        )
    )


def quality_gate_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the stopword-density score as a keeper-vs-dropped
    discriminator — exact Mann-Whitney pair counts via classify.py's
    margin-grouped cumulative frame (never O(n²) pairs or a global
    per-row sort). One row: (n_pos, n_neg, n_concordant, n_tied, auc);
    a degenerate snapshot (nothing dropped, or everything) yields a
    null auc instead of an ANSI divide-by-zero."""
    return margin_auc_df(_gate_rows(spark, sf_dir))


def quality_gate_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of "keep docs with stop ratio ≥ t" at each
    QUALITY_GATE_THRESHOLDS gate, scored against the curation verdicts:
    precision = true-keeper share of the gate's kept set, recall = kept
    share of all true keepers. One conditional aggregate (map-side
    partials, one combiner row), unpivoted with ``stack``."""
    return pr_curve_df(_gate_rows(spark, sf_dir), thresholds=QUALITY_GATE_THRESHOLDS)


def quality_gate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-decile calibration: rank corpus docs by stop_ppm (ties by
    doc_id — the repo-wide engine-stable convention), cut into 10
    equal-count bins, and compare each bin's mean score against its
    empirical keep rate. (bin, n_docs, n_correct, accuracy,
    avg/lo/hi_stop_ratio) — the stop-ratio columns are the exact integer
    stats divided back to ratio units for display."""
    return calibration_bins_df(_gate_rows(spark, sf_dir)).withColumnsRenamed(
        {
            "avg_margin": "avg_stop_ratio",
            "lo_margin": "lo_stop_ratio",
            "hi_margin": "hi_stop_ratio",
        }
    )


# ---------------------------------------------------------------------------
# DuckDB oracles — the label CTE recomputes dedup survivorship and
# contamination from scratch (composing the green `dedup_clusters` and
# `decontaminate` oracles as subqueries), the score is the same integer
# lattice, and each metric tail mirrors its NB sibling exactly.
# ---------------------------------------------------------------------------

_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS_EN)

_GATE_ROWS_CTE = f"""
    survivors AS (
        SELECT cluster_id AS doc_id
        FROM ({_DEDUP_SQL["dedup_clusters"]})
        GROUP BY 1
    ),
    contam AS (
        SELECT doc_id FROM ({_TRAIN_SQL["decontaminate"]}) WHERE contaminated
    ),
    st AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents WHERE doc_id >= {PROBE_MAX_DOC_ID}
    ),
    mrows AS (
        SELECT st.doc_id,
               CAST(CASE WHEN sv.doc_id IS NOT NULL AND c.doc_id IS NULL
                         THEN 1 ELSE 0 END AS INT) AS is_correct,
               (len(list_filter(toks, x -> x IN ({_STOP_IN})))
                * 1000000) // len(toks) AS margin_u
        FROM st
        LEFT JOIN survivors sv ON sv.doc_id = st.doc_id
        LEFT JOIN contam c ON c.doc_id = st.doc_id
        WHERE len(toks) > 0
    )
"""

_PR_VALUES = ", ".join(
    f"(CAST({t} AS DOUBLE), {t_u})" for t, t_u in QUALITY_GATE_THRESHOLDS
)

ORACLE_SQL: dict[str, str] = {
    "quality_gate_auc": f"""
        WITH {_GATE_ROWS_CTE},
        per AS (
            SELECT margin_u, COUNT(1) AS n_m,
                   CAST(SUM(is_correct) AS BIGINT) AS pos_m
            FROM mrows GROUP BY 1
        ),
        cum AS (
            SELECT margin_u, pos_m, n_m - pos_m AS neg_m,
                   COALESCE(SUM(n_m - pos_m) OVER (
                       ORDER BY margin_u
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS neg_below
            FROM per
        ),
        tot AS (
            SELECT CAST(SUM(pos_m) AS BIGINT) AS n_pos,
                   CAST(SUM(neg_m) AS BIGINT) AS n_neg,
                   CAST(SUM(pos_m * neg_below) AS BIGINT) AS n_concordant,
                   CAST(SUM(pos_m * neg_m) AS BIGINT) AS n_tied
            FROM cum
        )
        SELECT n_pos, n_neg, n_concordant, n_tied,
               CASE WHEN n_pos > 0 AND n_neg > 0
                    THEN ROUND((2 * n_concordant + n_tied) * 1.0
                         / (2 * n_pos * n_neg), 6) END AS auc
        FROM tot
    """,
    "quality_gate_pr_curve": f"""
        WITH {_GATE_ROWS_CTE},
        thr(threshold, t_u) AS (VALUES {_PR_VALUES}),
        tot AS (SELECT CAST(SUM(is_correct) AS BIGINT) AS nc_total FROM mrows)
        SELECT CAST(t.threshold AS DOUBLE) AS threshold,
               CAST(SUM(CASE WHEN m.margin_u >= t.t_u THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN m.margin_u >= t.t_u THEN m.is_correct
                             ELSE 0 END) AS BIGINT) AS n_correct_kept,
               CASE WHEN SUM(CASE WHEN m.margin_u >= t.t_u THEN 1 ELSE 0 END) > 0
                    THEN ROUND(
                        SUM(CASE WHEN m.margin_u >= t.t_u THEN m.is_correct
                                 ELSE 0 END) * 1.0
                        / SUM(CASE WHEN m.margin_u >= t.t_u THEN 1 ELSE 0 END), 4)
               END AS precision,
               CASE WHEN tt.nc_total > 0
                    THEN ROUND(
                        SUM(CASE WHEN m.margin_u >= t.t_u THEN m.is_correct
                                 ELSE 0 END) * 1.0 / tt.nc_total, 4)
               END AS recall
        FROM thr t CROSS JOIN mrows m CROSS JOIN tot tt
        GROUP BY t.threshold, tt.nc_total
    """,
    "quality_gate_calibration": f"""
        WITH {_GATE_ROWS_CTE},
        tot AS (SELECT COUNT(1) AS n_total FROM mrows),
        rk AS (
            SELECT m.is_correct, m.margin_u, t.n_total,
                   ROW_NUMBER() OVER (ORDER BY m.margin_u, m.doc_id) AS rk
            FROM mrows m CROSS JOIN tot t
        ),
        binned AS (
            SELECT CAST(((rk - 1) * 10) // n_total AS INT) AS bin,
                   is_correct, margin_u
            FROM rk
        )
        SELECT bin, COUNT(1) AS n_docs,
               CAST(SUM(is_correct) AS BIGINT) AS n_correct,
               ROUND(SUM(is_correct) * 1.0 / COUNT(1), 4) AS accuracy,
               ROUND(SUM(margin_u) * 1.0 / COUNT(1) / 1000000, 6)
                   AS avg_stop_ratio,
               ROUND(MIN(margin_u) / 1000000.0, 6) AS lo_stop_ratio,
               ROUND(MAX(margin_u) / 1000000.0, 6) AS hi_stop_ratio
        FROM binned GROUP BY 1
    """,
}
