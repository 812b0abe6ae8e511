"""Learned quality/language classification — the trained counterpart of
the rule-based gates.

The reference pipeline has no learned classifier (its curation surface
is rule-based SQL models, `/root/reference/dbt/models`); this module is
part of the additive LLM-training-data layer: the CCNet / fastText-shaped
step where a LINEAR MODEL trained on labeled text scores every incoming
document (CCNet trains a fastText language classifier; RefinedWeb and
FineWeb gate on learned quality classifiers). The engine-side shape is
identical for language-ID and quality classification — train per-class
feature counts, broadcast the model, score each doc with a dot product —
so the `lang` column of the synthetic documents table stands in as the
class label.

Multinomial Naive Bayes over HASHED token features (the hashing trick,
Weinberger et al. 2009 — fastText's input layer does the same bucketing):

- every token maps to ``md5(token) % NB_BUCKETS``, so the model is a
  DENSE (class × bucket) table of at most ``n_classes · NB_BUCKETS``
  rows BY CONSTRUCTION — at 100 TB the vocabulary grows unboundedly but
  the model does not, which is what keeps the scoring join a broadcast
  at any corpus size (the n-gram LM tables in `curation.py` are keyed on
  raw vocabulary and need their ``broadcast_lm=False`` degrade switch;
  this family never does).
- add-α smoothing with integer α keeps every likelihood a ratio of
  integers, so the model TABLE itself is oracle-checked: both engines
  compute ``round(log10((cnt+α)/(tot+α·B)), 6)`` on identical integers.
- training data is the CONTENT-KEYED train split — `_split_assignment`
  from `functions.text`, the same single-source-of-truth expression
  `dataset_splits` projects — so byte-identical duplicates can never
  leak a held-out document's text into the model (the auditor discipline
  `split_leakage_report` proves corpus-wide).
- counts are additive, so the model is MERGEABLE: `merge_nb_models` sums
  two shards' count tables and recomputes the likelihoods — exactly the
  model a from-scratch build on the union produces (shard-split-merge
  pinned in test_scale_smoke.py), the same incremental-maintenance
  contract as the CMS/HLL/HDR/KMV sketches: each crawl trains on its own
  data, the fleet-wide model is a sum of count tables.

Tie-break convention: the predicted class is the lexicographic MAX of
``(score, class)`` — score DESC then class DESC. Chosen over the more
common class-ASC so an aggregate-only consumer (a stream cannot rank
with window functions) gets the identical argmax from a plain
``max(struct(score, lang))`` aggregate; batch and oracle SQL share it,
so ties (possible only when two classes' scores are
analytically equal) can never disagree across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import SPLIT_TRAIN_CUTOFF, SPLIT_VAL_CUTOFF, _split_assignment
from ..io import load_table
from ..plans.materialize import materialized_frame

NB_BUCKETS = 512  # hashed feature space: model ≤ classes × 512 rows, always
NB_ALPHA = 1  # integer add-α keeps every likelihood a ratio of integers


def _micro(col):
    """Lift a 6-decimal log value to exact integer micro-logs — scoring
    sums these bigints instead of doubles, so argmax ranking and margins
    carry zero float-summation-order sensitivity across engines."""
    return F.round(col * 1e6, 0).cast("bigint")


def _bucket_expr(col):
    """``md5(token) % NB_BUCKETS`` on a 60-bit positive integer lane —
    the same 15-hex-char md5 prefix idiom as the CMS/KMV lanes (ANSI-safe
    under 2^62, identical arithmetic in DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint") % NB_BUCKETS


def _tagged_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return _split_assignment(docs)


def _token_rows(df: DataFrame, *keep: str, text_col: str = "text") -> DataFrame:
    """(*keep, bucket) — one row per token occurrence, hashed map-side.
    THE tokenizer+featurizer for this family: the model build and the
    scorer both call it, so the model and
    everything scored against it can never tokenize differently."""
    toks = df.select(*keep, F.explode(F.split(text_col, " ")).alias("token")).filter(
        F.col("token") != ""
    )
    return toks.select(*keep, _bucket_expr(F.col("token")).alias("bucket"))


def nb_lang_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained model: (lang, bucket, cnt, log_lik) — DENSE over all
    ``NB_BUCKETS`` buckets for every class seen in the train split, so
    the table is exactly ``n_classes × NB_BUCKETS`` rows at ANY corpus
    size and the scoring join needs no missing-feature fallback (the
    smoothed likelihood of an unseen bucket is a real row, not an OOV
    branch).

    Plan: one (lang, bucket)-keyed count aggregate over the train-split
    token stream (map-side partials collapse to ≤ classes·B groups per
    task), a per-class total, then the dense grid built by exploding a
    literal ``sequence(0, B-1)`` per class — no join fan-out, no
    cartesian operator. Compute-once seam shared by the scores and
    report entries."""
    return materialized_frame(
        spark, "nb_lang_model", sf_dir, lambda: nb_model_df(_tagged_docs(spark, sf_dir))
    )


def nb_model_df(tagged: DataFrame) -> DataFrame:
    """`nb_lang_model` core over any frame carrying (lang, text, split)."""
    train_toks = _token_rows(tagged.filter(F.col("split") == "train"), "lang")
    counts = train_toks.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    return nb_counts_to_model(counts)


def nb_counts_to_model(counts: DataFrame) -> DataFrame:
    """(lang, bucket, cnt) sparse count table → the dense smoothed model.
    Shared by the batch build and the shard merge — one likelihood
    formula, two producers."""
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    grid = totals.select(
        "lang",
        "tot",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.lit(NB_BUCKETS - 1).cast("bigint"))
        ).alias("bucket"),
    )
    return (
        grid.join(counts, ["lang", "bucket"], "left")
        .select(
            "lang",
            "bucket",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.round(
                F.log10(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(NB_ALPHA))
                    / (F.col("tot") + F.lit(NB_ALPHA * NB_BUCKETS))
                ),
                6,
            ).alias("log_lik"),
        )
    )


def merge_nb_models(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold one shard's model into another: counts are additive, so the
    merge sums ``cnt`` per (lang, bucket) and recomputes the likelihoods
    from the merged totals — bit-for-bit the model a from-scratch build
    on the concatenated corpora produces (pinned at ×10 replication in
    sequential and tree orders, test_scale_smoke.py). The dense grid is
    closed under union (a class missing from one side contributes its
    full 512-row block from the other), so no re-gridding is needed."""
    merged = (
        base.select("lang", "bucket", "cnt")
        .unionByName(delta.select("lang", "bucket", "cnt"))
        .groupBy("lang", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return nb_counts_to_model(merged)


def nb_priors_df(tagged: DataFrame, model: DataFrame) -> DataFrame:
    """(lang, log_prior) over the train split, restricted to classes the
    model actually has likelihood rows for (a token-less class cannot be
    scored). O(classes) rows — broadcast everywhere it is consumed."""
    train = tagged.filter(F.col("split") == "train")
    per = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    total = train.agg(F.count(F.lit(1)).alias("n_train"))
    return (
        per.join(model.select("lang").distinct(), "lang")
        .join(F.broadcast(total))
        .select(
            "lang", F.round(F.log10(F.col("n") / F.col("n_train")), 6).alias("log_prior")
        )
    )


def nb_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every HELD-OUT document (val + test splits) under the
    trained model: (doc_id, split, true_lang, pred_lang, is_correct,
    logp, margin). ``logp`` is the winning class's total log-score
    (prior + Σ cnt·log_lik), ``margin`` the gap to the runner-up — the
    confidence threshold a production gate would cut on (CCNet keeps
    docs whose language score clears 0.5; the margin is the NB analog).

    The model and priors enter as BROADCASTS — bounded at classes×512
    rows by the hashing trick, at ANY corpus size (the point of the
    family). Per-doc bucket counts shuffle (doc_id, bucket) pairs —
    integers, never raw text; the per-(doc, class) sum shuffles on
    doc_id. Two integer-keyed shuffles total, both AQE-coalesced.

    Cross-engine determinism: scoring happens in INTEGER MICRO-LOGS —
    the model's 6-decimal likelihoods are lifted to ``round(log_lik·1e6)``
    bigints, summed exactly, and only divided back for display — so the
    per-class totals, the argmax ranking, and the margins are integer
    arithmetic with no float-summation-order sensitivity at all (a plain
    double sum put ~1% of margins exactly on a round-4 tie boundary,
    where summation order flipped the last digit between engines).

    One honest caveat, measured not assumed: the synthetic corpus draws
    `lang` independently of `text` (per-lang token distributions are
    uniform to within sampling noise), so held-out accuracy equals the
    majority-class share — the analytically correct answer. The
    classifier's discrimination is pinned in tests on a constructed
    corpus with real per-class signal (tests/test_classify.py)."""
    return materialized_frame(
        spark,
        "nb_lang_scores",
        sf_dir,
        lambda: _nb_scores_build(spark, sf_dir),
    )


def _nb_scores_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = _tagged_docs(spark, sf_dir)
    model = nb_lang_model(spark, sf_dir)
    return nb_scores_df(tagged, model, nb_priors_df(tagged, model))


def nb_scores_df(tagged: DataFrame, model: DataFrame, priors: DataFrame) -> DataFrame:
    """`nb_lang_scores` core over any tagged (doc_id, lang, text, split)
    frame and a (possibly merged) model — the seam tests drive with
    constructed-signal corpora."""
    eval_docs = tagged.filter(F.col("split") != "train").select(
        "doc_id", "split", F.col("lang").alias("true_lang"), "text"
    )
    doc_toks = _token_rows(eval_docs, "doc_id").groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    lik_u = _micro(F.col("log_lik"))
    tsum = (
        doc_toks.join(
            F.broadcast(model.select("lang", "bucket", lik_u.alias("lik_u"))),
            "bucket",
        )
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("cnt") * F.col("lik_u")).alias("su"))
    )
    prior_u = _micro(F.col("log_prior"))
    scored = (
        eval_docs.drop("text")
        .join(F.broadcast(priors.select("lang", prior_u.alias("prior_u"))))
        .join(tsum, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "split",
            "true_lang",
            "lang",
            (F.col("prior_u") + F.coalesce(F.col("su"), F.lit(0))).alias("score_u"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_u"), F.desc("lang"))
    ranked = scored.withColumns(
        {"rk": F.row_number().over(w), "s2_u": F.lead("score_u").over(w)}
    )
    return ranked.filter(F.col("rk") == 1).select(
        "doc_id",
        "split",
        "true_lang",
        F.col("lang").alias("pred_lang"),
        (F.col("lang") == F.col("true_lang")).cast("int").alias("is_correct"),
        F.round(F.col("score_u") / 1e6, 6).alias("logp"),
        F.round((F.col("score_u") - F.col("s2_u")) / 1e6, 6).alias("margin"),
    )


def nb_lang_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class evaluation rollup on the held-out scores: (lang, n_docs,
    n_correct, accuracy, n_predicted, pred_precision) — accuracy is the
    per-true-class recall, pred_precision the per-predicted-class
    precision. The pred side joins LEFT from the true-class list, so a
    class the model never predicts surfaces with n_predicted = 0 and a
    null precision instead of vanishing (the left-join-zero discipline).
    O(classes) rows from the shared scores seam — the frame a training
    dashboard would watch next to `source_dashboard`."""
    scores = nb_lang_scores(spark, sf_dir)
    by_true = scores.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_correct").alias("n_correct"),
    )
    by_pred = scores.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_predicted"),
        F.sum("is_correct").alias("n_pred_correct"),
    )
    return (
        by_true.join(F.broadcast(by_pred), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_docs"), 4).alias("accuracy"),
            F.coalesce(F.col("n_predicted"), F.lit(0)).alias("n_predicted"),
            F.round(F.col("n_pred_correct") / F.col("n_predicted"), 4).alias(
                "pred_precision"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Ranking / calibration metrics over the classifier margins (r9) — the
# threshold-choosing toolkit for every learned gate: a production
# pipeline keeps docs whose margin clears a cut, and these three entries
# are how that cut is chosen (CCNet picks 0.5 on the fastText score;
# RefinedWeb/FineWeb sweep quality-classifier thresholds the same way).
#
# All three are EXACT-INTEGER rank statistics: the margin is already an
# integer micro-log (score_u - s2_u) rounded to 6 decimals for display,
# so ``round(margin * 1e6)`` recovers the original bigint exactly
# (|margin_u| < 2^52, double round-trip lossless) and every rank,
# threshold comparison, and tie is engine-stable by construction — no
# float ever enters a comparison (DECISIONS.md #12).
#
# Batch-only family: these are corpus-level OFFLINE evaluation over the
# frozen held-out split (the population is the whole eval set by
# definition); a windowed "AUC so far" would measure a different
# (window-local) population, not this statistic.
# ---------------------------------------------------------------------------

AUC_STRIPE = 1_000_000  # cum-window coarse stripe: 1.0 log10 unit of margin
# fixed margin gates a production filter would sweep (log10 units, with
# the exact micro-integer each compiles to — one constant, both engines)
PR_THRESHOLDS = (
    (0.0, 0),
    (0.5, 500_000),
    (1.0, 1_000_000),
    (1.5, 1_500_000),
    (2.0, 2_000_000),
    (2.5, 2_500_000),
    (3.0, 3_000_000),
    (4.0, 4_000_000),
)
CAL_BINS = 10  # margin deciles


def _margin_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_correct, margin_u) off the materialized scores seam —
    margin_u is the exact integer micro-log margin (recovery round-trip
    documented above). Rows with a null margin (impossible with ≥2
    trained classes, guarded anyway) are excluded on both engines."""
    scores = nb_lang_scores(spark, sf_dir)
    return scores.filter(F.col("margin").isNotNull()).select(
        "doc_id", "is_correct", _micro(F.col("margin")).alias("margin_u")
    )


def _margin_cum_df(rows: DataFrame) -> DataFrame:
    """Per-distinct-margin counts with EXCLUSIVE cumulative counts below:
    (margin_u, n_m, pos_m, neg_m, n_below, neg_below).

    Scale shape: one (margin_u)-keyed aggregate, then the cumulative is
    split two-level so no single-reducer window ever sees O(n) rows —
    within-stripe windows partition by ``margin_u div AUC_STRIPE``
    (≤ AUC_STRIPE distinct margins per stripe by construction) and the
    cross-stripe offsets come from a window over the stripe TOTALS,
    whose row count is bounded by the margin range in log10 units
    (physically ≤ max-doc-token-count × the largest likelihood gap —
    corpus-size-independent), then join back broadcast."""
    per = (
        rows.groupBy("margin_u")
        .agg(
            F.count(F.lit(1)).alias("n_m"),
            F.sum("is_correct").alias("pos_m"),
        )
        .withColumn("neg_m", F.col("n_m") - F.col("pos_m"))
        .withColumn("stripe", F.expr(f"margin_u div {AUC_STRIPE}"))
    )
    stripes = per.groupBy("stripe").agg(
        F.sum("n_m").alias("sn"), F.sum("neg_m").alias("sneg")
    )
    w_s = Window.orderBy("stripe").rowsBetween(Window.unboundedPreceding, -1)
    stripe_off = stripes.select(
        "stripe",
        F.coalesce(F.sum("sn").over(w_s), F.lit(0)).alias("n_off"),
        F.coalesce(F.sum("sneg").over(w_s), F.lit(0)).alias("neg_off"),
    )
    w_f = (
        Window.partitionBy("stripe")
        .orderBy("margin_u")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per.withColumns(
            {
                "n_in": F.coalesce(F.sum("n_m").over(w_f), F.lit(0)),
                "neg_in": F.coalesce(F.sum("neg_m").over(w_f), F.lit(0)),
            }
        )
        .join(F.broadcast(stripe_off), "stripe")
        .select(
            "margin_u",
            "n_m",
            "pos_m",
            "neg_m",
            (F.col("n_off") + F.col("n_in")).alias("n_below"),
            (F.col("neg_off") + F.col("neg_in")).alias("neg_below"),
        )
    )


def nb_margin_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the margin as a correct-vs-incorrect discriminator —
    the Mann-Whitney U statistic, computed as pair counts from the
    margin-grouped cumulative frame (`_margin_cum_df`), never from
    O(n²) pairs or a global per-row sort: concordant = Σ pos_m ·
    neg_below, tied = Σ pos_m · neg_m, and the midrank tie convention
    gives AUC = (2·concordant + tied) / (2·n_pos·n_neg) — a ratio of
    exact integers, rounded to 6 for display on both engines.

    One row: (n_pos, n_neg, n_concordant, n_tied, auc). A degenerate
    eval set (all correct or all incorrect) yields a null auc instead
    of an ANSI divide-by-zero.

    Overflow bound under ANSI mode: n_concordant ≤ n_pos·n_neg ≤ n²/4,
    inside int64 for eval sets to ~4e9 docs — far beyond any holdout
    split; past that, cast the pair-count partials to DECIMAL(38,0)
    (same plan shape, the silhouette family's convention)."""
    return margin_auc_df(_margin_rows(spark, sf_dir))


def margin_auc_df(rows: DataFrame) -> DataFrame:
    """`nb_margin_auc` core over any (doc_id, is_correct, margin_u)
    frame — tests drive it with constructed separations and ties."""
    cum = _margin_cum_df(rows)
    agg = cum.agg(
        F.sum("pos_m").alias("n_pos"),
        F.sum("neg_m").alias("n_neg"),
        F.sum(F.col("pos_m") * F.col("neg_below")).alias("n_concordant"),
        F.sum(F.col("pos_m") * F.col("neg_m")).alias("n_tied"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "n_concordant",
        "n_tied",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                (2 * F.col("n_concordant") + F.col("n_tied"))
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                6,
            ),
        ).alias("auc"),
    )


def nb_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the margin gate at the fixed PR_THRESHOLDS:
    keeping docs with margin ≥ t, precision = correctly-classified share
    of the kept set, recall = kept share of all correctly-classified
    docs. One conditional aggregate over the margin rows (8 filtered
    sums, all map-side partials) unpivoted with ``stack`` — no join, no
    window, one shuffle to a single combiner row.

    (threshold, n_kept, n_correct_kept, precision, recall) per gate;
    empty-kept gates surface with n_kept = 0 and a null precision."""
    return pr_curve_df(_margin_rows(spark, sf_dir))


def pr_curve_df(rows: DataFrame, thresholds=PR_THRESHOLDS) -> DataFrame:
    """`nb_pr_curve` core over any (doc_id, is_correct, margin_u) frame.
    `thresholds` is a ((display, micro_units), ...) gate ladder — the NB
    margins by default; the quality-gate family passes its own."""
    aggs = [F.sum("is_correct").alias("nc_total")]
    for i, (_, t_u) in enumerate(thresholds):
        kept = F.when(F.col("margin_u") >= t_u, 1).otherwise(0)
        aggs.append(F.sum(kept).alias(f"k{i}"))
        aggs.append(F.sum(kept * F.col("is_correct")).alias(f"c{i}"))
    one = rows.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS DOUBLE), k{i}, c{i}"
        for i, (t, _) in enumerate(thresholds)
    )
    unpivoted = one.select(
        "nc_total",
        F.expr(
            f"stack({len(thresholds)}, {stack_args}) "
            "AS (threshold, n_kept, n_correct_kept)"
        ),
    )
    return unpivoted.select(
        "threshold",
        "n_kept",
        "n_correct_kept",
        F.when(
            F.col("n_kept") > 0,
            F.round(F.col("n_correct_kept") / F.col("n_kept"), 4),
        ).alias("precision"),
        F.when(
            F.col("nc_total") > 0,
            F.round(F.col("n_correct_kept") / F.col("nc_total"), 4),
        ).alias("recall"),
    )


def nb_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-decile calibration: rank the held-out docs by margin (the
    model's confidence), cut into CAL_BINS equal-count bins, and compare
    each bin's mean margin against its empirical accuracy — the table a
    threshold-picker reads to see whether higher confidence actually
    means more-often-correct.

    Scale shape: the global rank is NOT a single-reducer window — it is
    ``n_below`` from the margin-grouped cumulative frame plus a
    row_number partitioned BY margin value (ties broken by doc_id, the
    repo-wide convention, so bin membership of tied margins is engine-
    stable). Bin = (rank-1)·CAL_BINS div n — integer arithmetic, bins
    within ±1 row of equal.

    (bin, n_docs, n_correct, accuracy, avg_margin, lo_margin,
    hi_margin) — avg/lo/hi are the exact integer stats divided back to
    log10 units for display."""
    return calibration_bins_df(_margin_rows(spark, sf_dir))


def calibration_bins_df(rows: DataFrame) -> DataFrame:
    """`nb_calibration_bins` core over any (doc_id, is_correct,
    margin_u) frame — the decile assignment is deterministic under any
    tie pattern (margin_u then doc_id)."""
    cum = _margin_cum_df(rows)
    total = rows.agg(F.count(F.lit(1)).alias("n_total"))
    w = Window.partitionBy("margin_u").orderBy("doc_id")
    ranked = (
        rows.join(cum.select("margin_u", "n_below"), "margin_u")
        .join(F.broadcast(total))
        .withColumn("rk", F.col("n_below") + F.row_number().over(w))
        .withColumn("bin", F.expr(f"((rk - 1) * {CAL_BINS}) div n_total").cast("int"))
    )
    return (
        ranked.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_correct").alias("n_correct"),
            F.sum("margin_u").alias("sum_mu"),
            F.min("margin_u").alias("min_mu"),
            F.max("margin_u").alias("max_mu"),
        )
        .select(
            "bin",
            "n_docs",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_docs"), 4).alias("accuracy"),
            F.round(F.col("sum_mu") / F.col("n_docs") / 1e6, 6).alias("avg_margin"),
            F.round(F.col("min_mu") / 1e6, 6).alias("lo_margin"),
            F.round(F.col("max_mu") / 1e6, 6).alias("hi_margin"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracles — every CTE mirrors the Spark arithmetic on identical
# integers; log10 is applied to the same rationals and rounded to the
# same 6 decimals, so even the float columns compare exactly.
# ---------------------------------------------------------------------------

_NB_MODEL_CTE = f"""
    WITH tagged AS (
        SELECT doc_id, lang, text,
               CASE WHEN substring(md5(text), 1, 4) < '{SPLIT_TRAIN_CUTOFF}' THEN 'train'
                    WHEN substring(md5(text), 1, 4) < '{SPLIT_VAL_CUTOFF}' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    train_tok AS (
        SELECT lang,
               CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)
                   % {NB_BUCKETS} AS bucket
        FROM (
            SELECT lang,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
            FROM tagged WHERE split = 'train'
        )
    ),
    bcnt AS (
        SELECT lang, bucket, COUNT(1) AS cnt FROM train_tok GROUP BY 1, 2
    ),
    ltot AS (SELECT lang, COUNT(1) AS tot FROM train_tok GROUP BY 1),
    grid AS (
        SELECT t.lang, t.tot, g.bucket
        FROM ltot t CROSS JOIN (
            SELECT unnest(range(0, {NB_BUCKETS})) AS bucket
        ) g
    ),
    model AS (
        SELECT g.lang, g.bucket,
               COALESCE(b.cnt, 0) AS cnt,
               ROUND(log10((COALESCE(b.cnt, 0) + {NB_ALPHA}) * 1.0
                     / (g.tot + {NB_ALPHA * NB_BUCKETS})), 6) AS log_lik
        FROM grid g
        LEFT JOIN bcnt b ON b.lang = g.lang AND b.bucket = g.bucket
    )
"""

_NB_SCORES_CTE = (
    _NB_MODEL_CTE
    + f""",
    priors AS (
        SELECT t.lang,
               ROUND(log10(COUNT(1) * 1.0 / (
                   SELECT COUNT(1) FROM tagged WHERE split = 'train'
               )), 6) AS log_prior
        FROM tagged t JOIN ltot l ON l.lang = t.lang
        WHERE t.split = 'train'
        GROUP BY t.lang
    ),
    eval_docs AS (
        SELECT doc_id, split, lang AS true_lang, text
        FROM tagged WHERE split <> 'train'
    ),
    doc_tok AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)
                   % {NB_BUCKETS} AS bucket,
               COUNT(1) AS cnt
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
            FROM eval_docs
        )
        GROUP BY 1, 2
    ),
    tsum AS (
        SELECT d.doc_id, m.lang,
               SUM(d.cnt * CAST(ROUND(m.log_lik * 1000000, 0) AS BIGINT))
                   AS su
        FROM doc_tok d JOIN model m ON m.bucket = d.bucket
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT e.doc_id, e.split, e.true_lang, p.lang,
               CAST(ROUND(p.log_prior * 1000000, 0) AS BIGINT)
                   + COALESCE(t.su, 0) AS score_u
        FROM eval_docs e
        CROSS JOIN priors p
        LEFT JOIN tsum t ON t.doc_id = e.doc_id AND t.lang = p.lang
    ),
    ranked AS (
        SELECT doc_id, split, true_lang, lang, score_u,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score_u DESC, lang DESC) AS rk,
               LEAD(score_u) OVER (
                   PARTITION BY doc_id ORDER BY score_u DESC, lang DESC) AS s2_u
        FROM scored
    ),
    preds AS (
        SELECT doc_id, split, true_lang, lang AS pred_lang,
               CAST(CASE WHEN lang = true_lang THEN 1 ELSE 0 END AS INT)
                   AS is_correct,
               ROUND(score_u / 1000000.0, 6) AS logp,
               ROUND((score_u - s2_u) / 1000000.0, 6) AS margin
        FROM ranked WHERE rk = 1
    )
"""
)

def nb_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (true, predicted) count table over the held-out scores —
    the error-ANATOMY view the scalar report can't give (which pairs of
    classes the model confuses, not just how often it is right). Sparse:
    only observed pairs emit rows; O(classes²) worst case by
    construction. One grouped integer aggregate off the scores seam."""
    scores = nb_lang_scores(spark, sf_dir)
    return scores.groupBy(
        "true_lang", "pred_lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def nb_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the classifier against the true labels —
    chance-corrected agreement, the honest scalar for an imbalanced
    label set (plain accuracy reads high when one class dominates;
    kappa subtracts exactly the agreement a label-marginal-matching
    random guesser would get).

    Exact integers end to end: with N docs, A = Σ diagonal counts,
    PE_num = Σ_k rowtotal_k · coltotal_k, kappa = (A·N − PE_num) /
    (N² − PE_num) — a ratio of bigints, rounded to 6 for display.
    All inputs are O(classes)-row aggregates of the scores seam; the
    marginal join is a broadcast. Degenerate corpus (both sides all one
    class → N² = PE_num) yields null, not an ANSI divide error.
    ANSI overflow bound: every term is ≤ N², inside int64 to ~2e9 eval
    docs; past that cast the marginals to DECIMAL(38,0)."""
    scores = nb_lang_scores(spark, sf_dir)
    by_true = scores.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_t")
    )
    by_pred = scores.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_p")
    )
    marg = (
        by_true.join(F.broadcast(by_pred), "lang", "full")
        .select(
            (
                F.coalesce("n_t", F.lit(0)) * F.coalesce("n_p", F.lit(0))
            ).alias("tp")
        )
        .agg(F.sum("tp").alias("pe_num"))
    )
    tot = scores.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_correct").alias("n_agree"),
    )
    return (
        tot.join(F.broadcast(marg))
        .select(
            "n_docs",
            "n_agree",
            "pe_num",
            F.when(
                F.col("n_docs") * F.col("n_docs") != F.col("pe_num"),
                F.round(
                    (F.col("n_agree") * F.col("n_docs") - F.col("pe_num"))
                    / (
                        F.col("n_docs") * F.col("n_docs") - F.col("pe_num")
                    ).cast("double"),
                    6,
                ),
            ).alias("kappa"),
        )
    )


# shared metric base: exact integer margins off the preds CTE — the SAME
# round-trip recovery the Spark side does (round(margin·1e6) as bigint),
# so both engines rank the identical integers
_NB_MARGIN_CTE = (
    _NB_SCORES_CTE
    + """,
    mrows AS (
        SELECT doc_id, is_correct,
               CAST(ROUND(margin * 1000000, 0) AS BIGINT) AS margin_u
        FROM preds WHERE margin IS NOT NULL
    )
"""
)

_PR_THRESHOLD_VALUES = ", ".join(
    f"(CAST({t} AS DOUBLE), {t_u})" for t, t_u in PR_THRESHOLDS
)

ORACLE_SQL: dict[str, str] = {
    "nb_confusion_matrix": _NB_SCORES_CTE
    + """
    SELECT true_lang, pred_lang, COUNT(1) AS n_docs
    FROM preds GROUP BY 1, 2
""",
    "nb_cohens_kappa": _NB_SCORES_CTE
    + """,
    by_true AS (SELECT true_lang AS lang, COUNT(1) AS n_t FROM preds GROUP BY 1),
    by_pred AS (SELECT pred_lang AS lang, COUNT(1) AS n_p FROM preds GROUP BY 1),
    marg AS (
        SELECT CAST(SUM(COALESCE(t.n_t, 0) * COALESCE(p.n_p, 0)) AS BIGINT)
                   AS pe_num
        FROM by_true t FULL JOIN by_pred p ON p.lang = t.lang
    ),
    tot AS (
        SELECT COUNT(1) AS n_docs, CAST(SUM(is_correct) AS BIGINT) AS n_agree
        FROM preds
    )
    SELECT t.n_docs, t.n_agree, m.pe_num,
           CASE WHEN t.n_docs * t.n_docs <> m.pe_num
                THEN ROUND((t.n_agree * t.n_docs - m.pe_num) * 1.0
                     / (t.n_docs * t.n_docs - m.pe_num), 6) END AS kappa
    FROM tot t CROSS JOIN marg m
""",
    "nb_margin_auc": _NB_MARGIN_CTE
    + """,
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
    "nb_pr_curve": _NB_MARGIN_CTE
    + f""",
    thr(threshold, t_u) AS (VALUES {_PR_THRESHOLD_VALUES}),
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
    "nb_calibration_bins": _NB_MARGIN_CTE
    + f""",
    tot AS (SELECT COUNT(1) AS n_total FROM mrows),
    rk AS (
        SELECT m.is_correct, m.margin_u, t.n_total,
               ROW_NUMBER() OVER (ORDER BY m.margin_u, m.doc_id) AS rk
        FROM mrows m CROSS JOIN tot t
    ),
    binned AS (
        SELECT CAST(((rk - 1) * {CAL_BINS}) // n_total AS INT) AS bin,
               is_correct, margin_u
        FROM rk
    )
    SELECT bin, COUNT(1) AS n_docs,
           CAST(SUM(is_correct) AS BIGINT) AS n_correct,
           ROUND(SUM(is_correct) * 1.0 / COUNT(1), 4) AS accuracy,
           ROUND(SUM(margin_u) * 1.0 / COUNT(1) / 1000000, 6) AS avg_margin,
           ROUND(MIN(margin_u) / 1000000.0, 6) AS lo_margin,
           ROUND(MAX(margin_u) / 1000000.0, 6) AS hi_margin
    FROM binned GROUP BY 1
""",
    "nb_lang_model": _NB_MODEL_CTE
    + """
    SELECT lang, bucket, cnt, log_lik FROM model
""",
    "nb_lang_scores": _NB_SCORES_CTE
    + """
    SELECT doc_id, split, true_lang, pred_lang, is_correct, logp, margin
    FROM preds
""",
    "nb_lang_report": _NB_SCORES_CTE
    + """,
    by_true AS (
        SELECT true_lang AS lang, COUNT(1) AS n_docs,
               CAST(SUM(is_correct) AS BIGINT) AS n_correct
        FROM preds GROUP BY 1
    ),
    by_pred AS (
        SELECT pred_lang AS lang, COUNT(1) AS n_predicted,
               CAST(SUM(is_correct) AS BIGINT) AS n_pred_correct
        FROM preds GROUP BY 1
    )
    SELECT t.lang, t.n_docs, t.n_correct,
           ROUND(t.n_correct * 1.0 / t.n_docs, 4) AS accuracy,
           COALESCE(p.n_predicted, 0) AS n_predicted,
           ROUND(p.n_pred_correct * 1.0 / p.n_predicted, 4) AS pred_precision
    FROM by_true t LEFT JOIN by_pred p ON p.lang = t.lang
""",
}
