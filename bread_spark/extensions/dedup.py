"""Deduplication operators over the ``documents`` table.

Five strategies, scale-ordered:
  exact        — hash-groupBy on content (one shuffle on the md5 key)
  exact_hash   — same but shuffles a 16-byte digest, not the document body
  ngram_jaccard— word-shingle inverted index self-join (exact near-dup)
  minhash_lsh  — MinHash signatures + banded LSH (approximate near-dup;
                 candidate pairs only meet in same-band buckets, so the
                 self-join never goes quadratic)
  simhash      — 64-bit SimHash fingerprint, hamming-bucket grouping

Exact + jaccard have DuckDB oracles (deterministic, engine-agnostic math).
MinHash and SimHash are each ONE kernel called with a hash lane (`_Lane`):
Spark's xxhash64 — engine-specific hashing, so those entries are
rows-only checks (SURVEY.md §5 notes which) — or the md5 lane,
whose `*_md5_*` entries are exact-oracle-backed. Banded candidate
generation (`_mih_probe`, `_band_pairs`) and the survivor step
(`_survivor_corpus`) are shared by every near-dup family, phash included.

Scale notes: at 100 TB, the shingle inverted index is the dominant shuffle;
we cap postings per shingle (drop shingles appearing in > MAX_DF docs —
they're stopword-like and contribute no discriminative signal) to bound the
worst-case join fan-out. That cap is OFF at test scale (results must match
the exact oracle) and ON in the production entry points.
"""

from __future__ import annotations

import operator
from fractions import Fraction
from functools import reduce
from itertools import combinations
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import split_tokens
from ..io import load_table
from ..plans.materialize import materialized_frame

# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups: canonical (min) doc_id + dup count per text.

    Scale: single shuffle keyed on text; with long documents switch to
    `dedup_exact_hash` so the shuffle key is 32 hex chars.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest (md5 — identical in both engines).

    The groupBy key is the digest: at 100 TB this shuffles ~48 bytes/doc
    instead of the full body. Keeps one representative doc_id per digest.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


DIFF_REMOVED_BELOW = 50  # docs only in the old snapshot
DIFF_EDITED_LO, DIFF_EDITED_HI = 100, 150  # docs edited between snapshots


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff between two corpus snapshots: every doc_id
    classified `added` / `removed` / `changed` by content digest
    (unchanged rows are excluded — the compact changeset a downstream
    incremental job consumes). The deterministic snapshot simulation on
    the static test corpus: the OLD snapshot is doc_id < CROSS_DEDUP_
    BASE_MAX; the NEW one drops ids < 50, keeps the rest, and edits ids
    in [100, 150) by appending a token.

    Plan: both sides reduce to (doc_id, 16-byte digest) MAP-SIDE, then
    ONE doc_id-keyed hash aggregate over their union pairs the two
    snapshots' digests per key (r13-opt: the former full-outer join
    computed the same per-key cogroup through a sort-merge join — the
    union+aggregate form pays one exchange and no sort, and both sides
    shuffle the same (doc_id, digest) rows either way; each snapshot
    carries a doc_id at most once, so MAX-of-one-value reconstructs
    the join's h_old/h_new exactly, NULL when the side is absent).
    Still the canonical snapshot-diff shape at 100 TB (text never
    shuffles; co-partition or bucket both snapshots on the key and the
    exchange disappears)."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < CROSS_DEDUP_BASE_MAX).select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("h_old"),
        F.lit(None).cast("string").alias("h_new"),
    )
    edited = F.when(
        (F.col("doc_id") >= DIFF_EDITED_LO) & (F.col("doc_id") < DIFF_EDITED_HI),
        F.concat(F.col("text"), F.lit(" v2")),
    ).otherwise(F.col("text"))
    new = docs.filter(F.col("doc_id") >= DIFF_REMOVED_BELOW).select(
        "doc_id",
        F.lit(None).cast("string").alias("h_old"),
        F.md5(edited.cast("binary")).alias("h_new"),
    )
    joined = (
        old.unionByName(new)
        .groupBy("doc_id")
        .agg(F.max("h_old").alias("h_old"), F.max("h_new").alias("h_new"))
    )
    change = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
    )
    return (
        joined.select("doc_id", change.alias("change_type"))
        .filter(F.col("change_type").isNotNull())
    )


# Explicit character class, NOT \s: Java's \s includes \x0B while RE2's
# (DuckDB's) does not — the class below means the same bytes in both
# engines. ASCII whitespace only; Unicode spaces (NBSP etc.) are out of
# scope for this normalization level (DIVERGENCES.md "oracle scope
# boundaries" #2).
_WS_CLASS = r"[ \t\n\r\f\x0B]+"


def normalize_text_expr(col: str):
    """The canonicalization every normalized-dedup consumer shares:
    casefold, collapse ASCII-whitespace runs to one space, trim. Pure
    JVM expressions — applied map-side before the digest."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), _WS_CLASS, " "))


def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: digest over casefolded,
    whitespace-collapsed, trimmed text, so trivially-reformatted copies
    ("Hello  World\\n" vs "hello world") land in one group — the standard
    step between byte-exact and fuzzy dedup in a curation pipeline
    (catches boilerplate re-renders that byte-exact misses at zero
    near-dup cost).

    Same plan shape as `dedup_exact_hash`: normalization + md5 are
    map-side; the single shuffle is keyed on the 32-hex digest."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(normalize_text_expr("text").cast("binary")).alias("norm_hash"),
            "doc_id",
        )
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


CROSS_DEDUP_BASE_MAX = 250  # doc_id < this plays the already-ingested base


def cross_dedup(
    spark: SparkSession, sf_dir: str, base_max_doc_id: int = CROSS_DEDUP_BASE_MAX
) -> DataFrame:
    """Incremental-corpus gate (cross-corpus exact dedup): drop any NEW
    document whose exact content already exists in the BASE corpus — the
    "don't re-train on what you already have" filter every recurring
    crawl refresh runs before appending to the training set. Here base =
    doc_id < `base_max_doc_id`, new = the rest.

    Plan: both sides reduce to 16-byte md5 digests map-side, then one
    LEFT ANTI join keyed on the digest — document text never shuffles.
    At 100 TB the base digest set is a bucketed table maintained at
    ingest, so each refresh's anti join co-partitions against it with no
    base-side rescan of raw text.
    """
    docs = load_table(spark, sf_dir, "documents")
    return cross_dedup_df(
        docs.filter(F.col("doc_id") < base_max_doc_id),
        docs.filter(F.col("doc_id") >= base_max_doc_id),
    )


def cross_dedup_df(base: DataFrame, new: DataFrame) -> DataFrame:
    """`cross_dedup` core over any two (doc_id, source, lang, text)
    frames — the seam synthetic-fixture tests drive directly."""
    digest = F.md5(F.col("text").cast("binary")).alias("content_hash")
    base_h = base.select(digest).distinct()
    return new.select("doc_id", "source", "lang", digest).join(
        base_h, "content_hash", "left_anti"
    )


def cross_dedup_neardup(
    spark: SparkSession,
    sf_dir: str,
    base_max_doc_id: int = CROSS_DEDUP_BASE_MAX,
    num_bands: int | None = None,  # defaults to NUM_BANDS (defined below)
) -> DataFrame:
    """The FUZZY incremental-corpus gate: drop any new document whose
    MinHash-LSH bands collide with ANY base document's — near-duplicates
    of already-ingested content never enter the training set, not just
    byte-identical copies (`cross_dedup`). Banding parameters set the
    similarity threshold exactly as in `minhash_lsh_candidates`.

    Plan: both corpora reduce to (band, bucket) rows; one LEFT SEMI join
    marks colliding new docs (bands are 8-byte keys — text never
    shuffles), one LEFT ANTI join keeps the rest. At 100 TB the base
    band table is maintained incrementally at ingest (append-only —
    band rows of accepted docs), so each refresh joins against it
    without recomputing base signatures. Rows-only by design (hash
    family is engine-specific); pinned by tests: exact dups always
    dropped (minhash of identical text is identical), survivors ⊆
    `cross_dedup` survivors, deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    return cross_dedup_neardup_df(
        docs.filter(F.col("doc_id") < base_max_doc_id),
        docs.filter(F.col("doc_id") >= base_max_doc_id),
        num_bands,
    )


def cross_dedup_neardup_df(
    base: DataFrame, new: DataFrame, num_bands: int | None = None
) -> DataFrame:
    """`cross_dedup_neardup` core over any two (doc_id, source, lang,
    text) frames."""
    if num_bands is None:
        num_bands = NUM_BANDS
    base_bands = _lsh_bands(base, num_bands).select("band", "bucket").distinct()
    new_bands = _lsh_bands(new, num_bands)
    hits = (
        new_bands.join(base_bands, ["band", "bucket"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return new.join(hits, "doc_id", "left_anti").select("doc_id", "source", "lang")


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (exact similarity, inverted-index join)
# ---------------------------------------------------------------------------

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5


class _Lane(NamedTuple):
    """A hash lane: how the near-dup kernels turn text into integers.
    `gram` is the SQL identity of one word 3-gram shingle over the words
    ``w[i], w[i+1], w[i+2]``; `hash` formats a shingle or token column
    into a `bits`-wide integer (a 64-bit lane can be negative, a
    narrower one cannot)."""

    name: str
    gram: str
    hash: str
    bits: int


# The production lane: Spark's xxhash64, the measured-faster engine hash
# (rows-only by the engine-specific-hash convention).
_XXHASH64 = _Lane("xxhash64", "xxhash64(w[i], w[i+1], w[i+2])", "xxhash64({})", 64)
# The oracle lane: the repo's md5 hex-slice convention (15 hex chars → a
# 60-bit positive lane) over space-joined shingle strings, which DuckDB
# reproduces bit-for-bit.
_MD5 = _Lane(
    "md5",
    "concat_ws(' ', w[i], w[i+1], w[i+2])",
    "cast(conv(substring(md5({}), 1, 15), 16, 10) as bigint)",
    60,
)


def _word_shingles_with_dups(docs: DataFrame, lane: _Lane = _XXHASH64) -> DataFrame:
    """doc_id → every word 3-gram shingle in the lane's identity
    (JVM-side, no UDF), duplicates kept.

    On the xxhash64 lane the shingle IDENTITY is ``xxhash64(w[i], w[i+1],
    w[i+2])`` — hashed in the same lambda that forms the n-gram, so the
    shingle string is never materialized. Every downstream shuffle
    (distinct, inverted-index join, hot-set aggregate, decontamination
    probe join) then moves 8-byte longs instead of ~20-byte strings, and
    generation itself is ~2× faster than concat_ws (measured at sf0.1;
    strings were the dominant cost of the whole jaccard pipeline). Two
    distinct shingles colliding would need ~2^32 distinct shingles for
    even-odds (birthday bound); at test scale the probability is ~1e-9,
    and at 100 TB a stray collision perturbs one pair's intersection
    count by ±1 — far below the noise floor of any near-dup decision.
    The DuckDB oracle computes string-shingle jaccard; hash-green rows
    certify the equivalence on real data.

    Duplicates are kept for duplicate-insensitive consumers: MinHash's
    min-aggregate gives the same signature whether a shingle appears once
    or ten times, so paying a full (doc_id, shingle) shuffle to dedup
    first is pure waste; map-side partial mins absorb the duplicates for
    free. Jaccard/decontamination COUNT shingles and read the distinct
    `_word_shingles`."""
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    return words.filter(F.size("w") >= SHINGLE_N).select(
        "doc_id",
        F.explode(
            F.expr(f"transform(sequence(0, size(w) - {SHINGLE_N}), i -> {lane.gram})")
        ).alias("shingle"),
    )


def _word_shingles(docs: DataFrame) -> DataFrame:
    """doc_id → distinct xxhash64 word 3-gram shingles."""
    return _word_shingles_with_dups(docs).distinct()


def shingle_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once distinct word-shingle index for the canonical
    `documents` table — the shared front end of jaccard near-dup and both
    decontamination paths. Four catalog entries (plus `training_corpus`,
    which composes decontamination) were each rebuilding the identical
    scan→shingle→distinct subtree; the seam builds it once per
    (application, sf_dir) and persists it (see plans/materialize.py
    for the cache contract). At 100 TB this is the staged shingle-index
    table every downstream near-dup/decontamination job reads."""
    return materialized_frame(
        spark,
        "word_shingles",
        sf_dir,
        lambda: _word_shingles(load_table(spark, sf_dir, "documents")),
        (SHINGLE_N,),
    )


def capped_shingle_frame(
    spark: SparkSession, sf_dir: str, max_df: int
) -> DataFrame:
    """Compute-once CAPPED shingle index: `shingle_frame` minus shingles
    with document frequency > max_df (the stopword-like postings whose
    df² pair fan-out is the quadratic failure mode). The hot set is tiny
    by construction → broadcast anti-join, built ONCE per (application,
    sf_dir, n, max_df) on top of the uncapped seam. At 100 TB this is
    the pruned posting index a near-dup job stages before the self-join."""

    def build():
        sh = shingle_frame(spark, sf_dir)
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        return sh.join(F.broadcast(hot), "shingle", "left_anti")

    return materialized_frame(
        spark, "word_shingles_capped", sf_dir, build, (SHINGLE_N, max_df)
    )


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact word-3-gram Jaccard ≥ threshold.

    Plan: shingle → distinct → self-join on shingle (inverted index: only
    docs sharing ≥1 shingle ever meet) → pair-count / sizes → Jaccard.
    Scale: `max_df` caps the posting-list length per shingle so a stopword
    shingle can't produce an O(df²) pair explosion; AQE skew-join splits
    any residual hot shingle. Shuffles: shingle distinct, the join, the
    pair groupBy — all keyed, no cartesian anywhere.
    """
    # The shingle set feeds three subtrees (both join sides + sizes);
    # unmaterialized, Spark would recompute scan+shingle+distinct 3×. The
    # shared seams persist it once per catalog pass — the staging-table
    # form of the localCheckpoint this used per call. On the capped path
    # the CAPPED index is its own seam: the hot-set aggregate + anti-join
    # (the cap build) also runs once per session instead of replaying
    # under each subtree of every pass.
    if max_df is not None:
        sh = capped_shingle_frame(spark, sf_dir, max_df)
    else:
        sh = shingle_frame(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.alias("a")
    b = sh.alias("b")
    pair_inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # per-doc size tables are tiny relative to the pair set → broadcast
    # (at 100 TB sizes is O(docs) — still far smaller than pairs; if it
    # outgrows broadcast, these become shuffle joins keyed on doc id)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        pair_inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


MAX_DF = 100  # production posting-list cap (bounds fan-out at df²)

DUP_SATURATION_MIN_DF = 2  # a shingle is "duplicated" once ≥2 docs carry it


def doc_dup_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk profile (r12): per document, how much of its
    distinct word-3-gram content is duplicated elsewhere in the corpus —
    (doc_id, n_shingles, n_dup_shingles, dup_frac, max_df). The
    training-data question this answers: which documents are mostly
    boilerplate/recycled text (high dup_frac → the model will see their
    n-grams many times even after doc-level dedup), and how hot is their
    hottest shingle. Doc-level near-dup (`ngram_jaccard_pairs`) finds
    PAIRS; this scores each doc's exposure without any pair stage.

    Plan: the shared shingle seam → one groupBy(shingle) df table → one
    shingle-keyed join back → one groupBy(doc_id). All shuffles are
    keyed on shingle/doc_id; no self-join, no pair fan-out, linear in
    corpus size at 100 TB. Incremental form: the df table is the same
    maintained aggregate the LSH band table rides — append new docs'
    shingles, increment df, rescore only affected docs.

    Oracle: exact DuckDB mirror on string shingles (df on the hashed
    identity equals df on strings modulo the family's documented ~2^-32
    collision bound — the same equivalence the jaccard oracle
    certifies on real data)."""
    sh = shingle_frame(spark, sf_dir)
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df_tbl, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("df") >= DUP_SATURATION_MIN_DF, 1).otherwise(0)
            ).cast("long").alias("n_dup_shingles"),
            F.max("df").cast("long").alias("max_df"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            F.round(F.col("n_dup_shingles") / F.col("n_shingles"), 4).alias(
                "dup_frac"
            ),
            "max_df",
        )
    )


def ngram_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production near-dup entry: `ngram_jaccard_pairs` with the hot-
    shingle posting cap ON (max_df=100) — the plan to run at 100 TB, where
    a stopword shingle's df² pair fan-out is the quadratic failure mode.

    Semantics: dropping a shingle with df > cap removes it from BOTH the
    intersection and the per-doc sizes, i.e. the score is the exact
    Jaccard of the capped shingle sets. Near-dup pairs share mostly rare
    shingles, so the capped score tracks the true score closely; recall
    vs the uncapped exact result is pinned by tests/test_recall.py.
    Oracle-backed since r12 (VERDICT r11 #5): the cap is pure set
    arithmetic, so the DuckDB mirror adds one df CTE to the uncapped
    oracle — the lattice/hash-convention audit found nothing engine-
    specific in it after all."""
    return ngram_jaccard_pairs(spark, sf_dir, max_df=MAX_DF)


def dedup_clusters(
    spark: SparkSession, sf_dir: str, max_iters: int | None = None
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the exact
    jaccard pair graph, labeling every document with the min doc_id of
    its component (the canonical survivor a dedup pipeline keeps).

    The missing step between pair generation and an actual deduped
    corpus: pairs only say "a~b"; keeping one doc per transitive group
    needs components (a~b, b~c → {a,b,c} even though a≁c directly).

    Algorithm: `connected_components` — alternating large-star /
    small-star rounds converging on the min doc_id per component, every
    round keyed shuffles of the edge set; the driver-side loop only
    reads a per-round changed-count (an aggregate, not data).

    Oracle: DuckDB recursive CTE computing the same transitive min-label.

    Compute-once seam (r9): the label frame now has THREE catalog
    consumers (this entry, `deduped_corpus`, `dedup_impact_report`), so
    the default-parameter call materializes via `materialized_frame` —
    the components loop runs once per (session, sf). A non-default
    `max_iters` bypasses the seam (it changes convergence semantics).
    """
    if max_iters is not None:
        return _cluster_labels_build(spark, sf_dir, max_iters)
    from ..plans.materialize import materialized_frame

    return materialized_frame(
        spark,
        "dedup_clusters",
        sf_dir,
        lambda: _cluster_labels_build(spark, sf_dir, None),
    )


def _cluster_labels_build(
    spark: SparkSession, sf_dir: str, max_iters: int | None
) -> DataFrame:
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return connected_components(docs, pairs, max_iters=max_iters)


# round counter for the star-rounds evidence (read by tests; diagnostics
# only, never control flow)
_LAST_CC_ROUNDS = 0


def connected_components(
    docs: DataFrame, pairs: DataFrame, max_iters: int | None = None
) -> DataFrame:
    """Connected components over any (doc_a, doc_b) edge frame via
    alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "
    Connected Components in MapReduce and Beyond", SoCC'14) — the core
    of `dedup_clusters`, also driven directly by the hypothesis
    property test against a union-find reference.

    r14 (VERDICT r13 #4, guide §2.3): replaces the min-label
    propagation loop, which advanced ONE hop per iteration and was
    therefore diameter-bounded — an adversarial component chain at
    100 TB meant O(diameter) keyed shuffles. Star rounds contract
    whole neighborhoods onto their minimum, converging in O(log²
    |V|) rounds (O(log |V|) in practice), each round two keyed
    shuffles of the edge set:

      large-star: every node u connects its LARGER neighbors to
        m(u) = min(Γ(u) ∪ {u});
      small-star: every node u connects its smaller-or-equal
        neighbors and itself to m(u), computed over that subset.

    Both preserve connectivity and never connect across components
    (each output edge joins two members of an input component); the
    fixed point is the star forest rooted at each component's MINIMUM
    node id — exactly the labels min-label propagation converged to,
    so cluster sets are bit-identical (pinned by the union-find
    property tests and the real-corpus equality pin vs the
    min-label-propagation reference in tests/test_properties.py).

    `max_iters` stays a pure safety cap on ROUNDS: if the edge set is
    still moving at the cap we RAISE rather than silently return split
    clusters (ADVICE r2 #1 contract). Default cap = edge-node count —
    absurdly loose for a log-round algorithm, same contract as before.

    The rounds run over the EDGE SUBGRAPH only: a node with no
    incident edge keeps its own id — isolated nodes are filled in by
    one left join at the end. Skew note: star neighborhoods are
    aggregated with min() (partial/map-side) and joined back — no
    collect_list, so a mega-degree hub never materializes its
    neighbor list in one task; AQE's skew-join split covers the join
    side."""
    # canonical undirected edge list: (lo, hi), self-loops dropped (a
    # self-loop cannot change components; its node, if otherwise
    # isolated, is labeled by the final fill-in join like any other)
    edges = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("lo"),
            F.greatest("doc_a", "doc_b").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint()
    )

    def _large_star(e: DataFrame) -> DataFrame:
        # symmetric view: each node u sees its full neighborhood.
        # No distinct here — duplicates are absorbed by small-star's
        # min aggregate and the one distinct at round end.
        sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(m.alias("lo"), F.col("v").alias("hi"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # directed toward the larger endpoint: u = hi groups its
        # smaller neighbors; m = min(N) (all < u, so min(N ∪ {u}) = min(N))
        mins = e.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = e.join(mins, "hi")
        # emit (v, m) for v ∈ N ∪ {u}, v ≠ m:  the smaller neighbors
        # re-rooted onto m, plus the center itself
        nbr_edges = joined.filter(F.col("lo") != F.col("m")).select(
            F.col("m").alias("lo"), F.col("lo").alias("hi")
        )
        center_edges = joined.select(
            F.col("m").alias("lo"), F.col("hi").alias("hi")
        )
        return nbr_edges.unionByName(center_edges).distinct()

    def _star_forest_violations(e: DataFrame) -> int:
        """0 iff the canonical DISTINCT edge set is a min-rooted star
        forest — the alternation's unique fixed point. Structural test
        (one aggregate job), checked BEFORE the first round so an
        already-star graph pays ZERO rounds: (a) no node appears both
        as a root (lo) and a leaf (hi); (b) no leaf has two parents.
        Canonical lo<hi storage makes every root its star's minimum,
        and a depth-1 forest of unique-parent leaves is exactly a star
        forest."""
        stacked = e.select(F.col("lo").alias("n"), F.lit(1).alias("is_lo")).unionByName(
            e.select(F.col("hi").alias("n"), F.lit(0).alias("is_lo"))
        )
        per_node = stacked.groupBy("n").agg(
            F.max("is_lo").alias("l"),
            # e is distinct, so rows with is_lo=0 per node = distinct parents
            F.sum(1 - F.col("is_lo")).alias("np"),
        )
        # l=1 & np>=1 → node is both root and leaf; np>1 → multi-parent leaf
        return per_node.filter(
            ((F.col("l") == 1) & (F.col("np") >= 1)) | (F.col("np") > 1)
        ).count()

    global _LAST_CC_ROUNDS
    rounds = 0
    while _star_forest_violations(edges) != 0:
        if max_iters is None:
            # pure safety net, computed lazily only when a round is
            # actually needed (an already-star graph skips the job):
            # star rounds need O(log² V) ≤ any edge count
            max_iters = max(int(edges.count()), 1)
        if rounds >= max_iters:
            _LAST_CC_ROUNDS = rounds
            raise RuntimeError(
                f"connected_components did not converge within max_iters="
                f"{max_iters} rounds (edge set still moving) — raise the cap"
            )
        edges = _small_star(_large_star(edges)).localCheckpoint()
        rounds += 1
    _LAST_CC_ROUNDS = rounds
    # fixed point is a star forest: every edge is (component_min, node).
    # Labels = leaves → their root, plus each root → itself.
    labels = (
        edges.select(F.col("hi").alias("doc_id"), F.col("lo").alias("label"))
        .unionByName(
            edges.select(F.col("lo").alias("doc_id"), F.col("lo").alias("label"))
        )
        .distinct()
    )
    # fill isolated nodes (label = own id) back in with one keyed join
    cluster = F.coalesce("label", F.col("doc_id"))
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_canonical"),
    )


def deduped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus AFTER near-duplicate removal — the artifact a training
    pipeline actually consumes. `ngram_jaccard_pairs` finds pairs,
    `dedup_clusters` groups them transitively; this keeps each cluster's
    canonical (min doc_id) member and drops the rest, annotating each
    survivor with how many duplicates it absorbed.

    Scale: clusters' label frame is O(docs) with doc_id keys — the final
    join is a keyed shuffle (or broadcast, if the cluster frame is dim-
    sized after filtering). No new shuffle shape beyond the components
    loop itself.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return _survivor_corpus(docs, dedup_clusters(spark, sf_dir))


def _survivor_corpus(items: DataFrame, clusters: DataFrame) -> DataFrame:
    """Each cluster's canonical (min id) member of `items` — keyed on its
    first column, the rest carried — with its `cluster_size` and
    `n_dups_removed`: the survivor step every near-dup corpus runs on
    the (doc_id, cluster_id) labels of `connected_components`."""
    key = items.columns[0]
    survivors = clusters.groupBy(F.col("cluster_id").alias(key)).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return items.join(survivors, key).select(
        *items.columns, "cluster_size",
        (F.col("cluster_size") - 1).cast("long").alias("n_dups_removed"),
    )


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph in DOUBLING
    buckets — the dedup-QC histogram read before choosing thresholds:
    a healthy corpus is dominated by singletons with a thin tail of
    small clusters; a fat tail of large clusters means the threshold
    is merging unrelated content (or the corpus is template spam).

    (bucket, bucket_lo, n_clusters, n_docs) with bucket =
    LENGTH(bin(size)) — the `doc_length_histogram` doubling-bucket
    trick (binary-string length, no float log, no boundary-ulp risk);
    bucket 1 = singletons, bucket 2 = size 2-3, etc. All exact
    integers. FOURTH consumer of the `dedup_clusters` materialized
    seam — the components loop still runs once per (session, sf);
    this adds one O(docs) aggregate and one O(clusters) aggregate.
    Oracle composed from `dedup_clusters`' own recursive-CTE SQL."""
    return cluster_size_histogram_df(dedup_clusters(spark, sf_dir))


def cluster_size_histogram_df(clusters: DataFrame) -> DataFrame:
    """`dedup_cluster_sizes` core over any (doc_id, cluster_id) frame."""
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    bucket = F.length(F.bin(F.col("sz"))).cast("long")
    return (
        sizes.select("sz", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
        )
        .select(
            "bucket",
            F.expr(
                "shiftleft(cast(1 as bigint), cast(bucket - 1 as int))"
            ).alias("bucket_lo"),
            "n_clusters",
            "n_docs",
        )
    )


def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source impact of near-duplicate removal — the dashboard row a
    curation owner reads to see WHERE the duplication lives (a crawl
    source with a high dup_rate is re-crawling itself; one with heavy
    tokens_removed is syndicating): (source, n_docs, n_kept, n_removed,
    dup_rate, tokens_removed). A doc is kept iff it is its cluster's
    canonical (min doc_id) member — the same verdict `deduped_corpus`
    materializes, re-aggregated per source, with the token mass of the
    dropped members (what dedup actually saves the training run).

    Scale shape: the cluster label frame is O(docs) doc_id-keyed (the
    components loop's own output); the join to (source, n_tokens) is
    doc_id-keyed; the rollup is O(sources) rows. Oracle composed from
    `dedup_clusters`' own recursive-CTE SQL, so the report can never
    drift from the certified clustering.

    Batch-only because the clustering it reports on is a corpus-global
    connected-components pass (its own batch-only note)."""
    clusters = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(split_tokens()).cast("long").alias("n_tokens"),
    )
    joined = docs.join(clusters.select("doc_id", "is_canonical"), "doc_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_canonical").cast("long")).alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(F.col("is_canonical").cast("long"))).alias(
            "n_removed"
        ),
        F.round(
            (F.count(F.lit(1)) - F.sum(F.col("is_canonical").cast("long")))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("dup_rate"),
        F.sum(
            F.when(~F.col("is_canonical"), F.col("n_tokens")).otherwise(F.lit(0))
        ).alias("tokens_removed"),
    )


def minhash_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus after APPROXIMATE near-dup removal — `deduped_corpus`
    with the MinHash-LSH candidate graph in place of the exact jaccard
    pair graph. This is the composition a 100 TB pipeline actually runs
    (GPT-3/MassiveText style): banded LSH generates candidates with no
    all-pairs stage, components group them transitively, each cluster
    keeps its min-doc_id member. No exact-jaccard verification pass —
    banding parameters ARE the precision/recall dial, so clusters can
    over-merge relative to the exact graph (that one-sidedness and the
    recall floor vs exact jaccard are pinned in tests; rows-only by
    design, the hash family is engine-specific).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    pairs = minhash_lsh_candidates(spark, sf_dir)
    return _survivor_corpus(docs, connected_components(docs.select("doc_id"), pairs))


ORACLE_SQL: dict[str, str] = {
    "dedup_exact": """
        SELECT text, MIN(doc_id) AS canonical_doc_id, COUNT(1) AS dup_count
        FROM documents GROUP BY text
    """,
    "dedup_exact_hash": """
        SELECT md5(text) AS content_hash,
               MIN(doc_id) AS canonical_doc_id,
               COUNT(1) AS dup_count
        FROM documents GROUP BY 1
    """,
    "snapshot_diff": f"""
        WITH old AS (
            SELECT doc_id, md5(text) AS h_old FROM documents
            WHERE doc_id < {CROSS_DEDUP_BASE_MAX}
        ),
        new AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id >= {DIFF_EDITED_LO}
                             AND doc_id < {DIFF_EDITED_HI}
                            THEN text || ' v2' ELSE text END) AS h_new
            FROM documents WHERE doc_id >= {DIFF_REMOVED_BELOW}
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.h_old IS NULL THEN 'added'
                    WHEN n.h_new IS NULL THEN 'removed'
                    WHEN o.h_old != n.h_new THEN 'changed' END AS change_type
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        WHERE (CASE WHEN o.h_old IS NULL THEN 'added'
                    WHEN n.h_new IS NULL THEN 'removed'
                    WHEN o.h_old != n.h_new THEN 'changed' END) IS NOT NULL
    """,
    "dedup_normalized": r"""
        SELECT md5(trim(regexp_replace(lower(text),
                                       '[ \t\n\r\f\x0B]+', ' ', 'g')))
                   AS norm_hash,
               MIN(doc_id) AS canonical_doc_id,
               COUNT(1) AS dup_count
        FROM documents GROUP BY 1
    """,
    "ngram_jaccard_pairs": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
            FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
            WHERE len(words) >= {SHINGLE_N}
        ),
        sizes AS (SELECT doc_id, COUNT(1) AS n_shingles FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(inter / (sa.n_shingles + sb.n_shingles - inter), 4) AS jaccard
        FROM pairs
        JOIN sizes sa ON pairs.doc_a = sa.doc_id
        JOIN sizes sb ON pairs.doc_b = sb.doc_id
        WHERE ROUND(inter / (sa.n_shingles + sb.n_shingles - inter), 4) >= {JACCARD_THRESHOLD}
    """,
}

# Exact mirror of the memorization-risk profile on string shingles.
ORACLE_SQL["doc_dup_saturation"] = f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        WHERE len(words) >= {SHINGLE_N}
    ),
    dfs AS (SELECT shingle, COUNT(1) AS df FROM sh GROUP BY shingle)
    SELECT doc_id,
           COUNT(1) AS n_shingles,
           CAST(SUM(CASE WHEN df >= {DUP_SATURATION_MIN_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_shingles,
           ROUND(SUM(CASE WHEN df >= {DUP_SATURATION_MIN_DF} THEN 1 ELSE 0 END)
                 / COUNT(1), 4) AS dup_frac,
           CAST(MAX(df) AS BIGINT) AS max_df
    FROM sh JOIN dfs USING (shingle)
    GROUP BY doc_id
"""

# The CAPPED production plan mirrors exactly (r12, VERDICT r11 #5 —
# rows-only retired): the max_df cap is pure set arithmetic (drop
# shingles with document frequency > MAX_DF from BOTH the intersection
# and the sizes, i.e. exact Jaccard of the capped sets), and df on the
# hashed shingle identity equals df on the string identity modulo the
# same ~2^-32 collision bound the uncapped oracle already accepts.
ORACLE_SQL["ngram_jaccard_pairs_capped"] = f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    sh0 AS (
        SELECT DISTINCT doc_id,
               words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        WHERE len(words) >= {SHINGLE_N}
    ),
    hot AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(1) > {MAX_DF}
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh0
        WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT doc_id, COUNT(1) AS n_shingles FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(inter / (sa.n_shingles + sb.n_shingles - inter), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON pairs.doc_a = sa.doc_id
    JOIN sizes sb ON pairs.doc_b = sb.doc_id
    WHERE ROUND(inter / (sa.n_shingles + sb.n_shingles - inter), 4)
          >= {JACCARD_THRESHOLD}
"""

# Connected components over the jaccard pair graph via recursive CTE:
# walk(node, label) enumerates every component member reachable from each
# node; MIN(label) per node is the component's canonical (min) doc_id.
ORACLE_SQL["dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({ORACLE_SQL["ngram_jaccard_pairs"]}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, w.label
        FROM edges e JOIN walk w ON e.dst = w.node
    )
    SELECT node AS doc_id,
           MIN(label) AS cluster_id,
           MIN(label) = node AS is_canonical
    FROM walk GROUP BY node
"""

ORACLE_SQL["deduped_corpus"] = f"""
    WITH clusters AS ({ORACLE_SQL["dedup_clusters"]}),
    survivors AS (
        SELECT cluster_id AS doc_id, CAST(COUNT(1) AS BIGINT) AS cluster_size
        FROM clusters GROUP BY 1
    )
    SELECT d.doc_id, d.lang, d.source, s.cluster_size,
           CAST(s.cluster_size - 1 AS BIGINT) AS n_dups_removed
    FROM documents d JOIN survivors s USING (doc_id)
"""

ORACLE_SQL["dedup_cluster_sizes"] = f"""
    WITH clusters AS ({ORACLE_SQL["dedup_clusters"]}),
    sizes AS (
        SELECT cluster_id, COUNT(1) AS sz FROM clusters GROUP BY cluster_id
    )
    SELECT CAST(LENGTH(bin(sz)) AS BIGINT) AS bucket,
           CAST(CAST(1 AS BIGINT)
                << (CAST(LENGTH(bin(sz)) AS INTEGER) - 1) AS BIGINT)
               AS bucket_lo,
           COUNT(1) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM sizes GROUP BY LENGTH(bin(sz))
"""

ORACLE_SQL["dedup_impact_report"] = f"""
    WITH clusters AS ({ORACLE_SQL["dedup_clusters"]}),
    sized AS (
        SELECT d.doc_id, d.source,
               len(list_filter(string_split(d.text, ' '), t -> t <> ''))
                   AS n_tokens,
               c.is_canonical
        FROM documents d JOIN clusters c USING (doc_id)
    )
    SELECT source, COUNT(1) AS n_docs,
           CAST(SUM(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN is_canonical THEN 0 ELSE 1 END) AS BIGINT)
               AS n_removed,
           ROUND(SUM(CASE WHEN is_canonical THEN 0 ELSE 1 END) * 1.0
                 / COUNT(1), 4) AS dup_rate,
           CAST(SUM(CASE WHEN is_canonical THEN 0 ELSE n_tokens END) AS BIGINT)
               AS tokens_removed
    FROM sized GROUP BY 1
"""


# ---------------------------------------------------------------------------
# MinHash + LSH (approximate; engine-specific hash → rows-only check)
# ---------------------------------------------------------------------------

NUM_HASHES = 32
NUM_BANDS = 8  # 8 bands × 4 rows: catches jaccard ≳ 0.5 with high recall
# 2^31-1 keeps a*x+b < 2^62 — inside int64 so ANSI-mode Spark never overflows.
MERSENNE = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int = NUM_HASHES) -> tuple[list[int], list[int]]:
    """The deterministic universal-hash coefficient schedule (golden-ratio
    multiples mod the Mersenne prime) — factored out (r13) so the
    md5-lane twin family and its DuckDB oracle embed the SAME literals
    `minhash_signatures` has always used."""
    rng_a = [(2 * i + 1) * 0x9E3779B97F4A7C15 % MERSENNE or 1 for i in range(1, num_hashes + 1)]
    rng_b = [(i * 0xC2B2AE3D27D4EB4F) % MERSENNE for i in range(1, num_hashes + 1)]
    return rng_a, rng_b


def _permutation_mins(
    shingles: DataFrame, lane: _Lane, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """(doc_id, h0..h{num_hashes-1}) MinHash minima of a (doc_id, shingle)
    frame: universal-hash family h_i(x) = (a_i * x + b_i) mod p over the
    lane's hash of each shingle. One groupBy(doc_id) with `num_hashes`
    min-aggregate expressions — a single shuffle of the shingle rows, with
    map-side partial mins. (A first cut exploded a (doc, hash_idx) row per
    hash — 32× the shuffle volume and a second shuffle to re-assemble the
    array.)"""
    hx = lane.hash.format("shingle")
    # pmod (not abs%) on a signed lane — abs(Long.MIN_VALUE) would throw
    # under ANSI mode.
    hx = f"pmod({hx}, {MERSENNE})" if lane.bits == 64 else f"{hx} % {MERSENNE}"
    rng_a, rng_b = _minhash_coeffs(num_hashes)
    mins = [
        F.min((F.lit(rng_a[i]) * F.col("hx") + F.lit(rng_b[i])) % F.lit(MERSENNE)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return shingles.select("doc_id", F.expr(hx).alias("hx")).groupBy("doc_id").agg(*mins)


def minhash_signatures(docs_shingled: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """doc_id → array<long> MinHash signature over the xxhash64 re-mix of
    each (already hash-valued) shingle."""
    return _permutation_mins(docs_shingled, _XXHASH64, num_hashes).select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature")
    )


def _lsh_bands(docs: DataFrame, num_bands: int = NUM_BANDS) -> DataFrame:
    """doc_id → (band, bucket) — one row per band, bucket = xxhash64 of
    the band's signature slice. The shared candidate-generation front end
    of `minhash_lsh_candidates` (self-join) and `cross_dedup_neardup`
    (two-corpus semi join)."""
    sigs = minhash_signatures(_word_shingles_with_dups(docs))
    rows_per_band = NUM_HASHES // num_bands
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {num_bands - 1}), "
                f"b -> xxhash64(concat_ws(',', slice(signature, b * {rows_per_band} + 1, {rows_per_band}))))"
            )
        ).alias("band", "bucket"),
    )


def lsh_band_frame(
    spark: SparkSession, sf_dir: str, num_bands: int = NUM_BANDS
) -> DataFrame:
    """Compute-once (doc_id, band, bucket) table for the canonical
    `documents` table — the signature pipeline is 3 shuffles deep and is
    the shared front end of `minhash_lsh_candidates` and every corpus
    built on its pairs. Built once per (application, sf_dir, bands) and
    persisted (plans/materialize.py); at 100 TB this is the append-only
    band table the incremental gate (`cross_dedup_neardup`) also probes."""
    return materialized_frame(
        spark,
        "lsh_bands",
        sf_dir,
        lambda: _lsh_bands(load_table(spark, sf_dir, "documents"), num_bands),
        (num_bands,),
    )


def minhash_lsh_candidates(
    spark: SparkSession, sf_dir: str, num_bands: int = NUM_BANDS
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    Plan: signature → per-band hash → groupBy(band, bucket) self-join.
    Scale: pairs are only generated within a (band, bucket) — the join key
    is the band digest, so the shuffle is uniform unless many docs are
    true duplicates (in which case the output is genuinely large).
    Rows-only correctness check (hash family is engine-specific).
    """
    # Both self-join sides read the signature pipeline (3 shuffles deep) —
    # the shared seam materializes it once per catalog pass instead of
    # recomputing it per side (and per consumer).
    bands = lsh_band_frame(spark, sf_dir, num_bands)
    return _band_pairs(bands, bands, ("band", "bucket"), [("doc_id", "doc_a", "doc_b")])


def _hamming_ball_masks(width: int, radius: int) -> list[int]:
    """All XOR masks of ≤ radius set bits over `width`-bit values — the
    MIH probe set, a bounded Python-side constant (ρ=1 → 17, ρ=2 →
    137, ρ=3 → 697 at width 16). Guarded: ρ > 3 would mean the caller
    wants max_hamming ≥ 4 × bands — lengthen the fingerprint instead
    (multimodal.py banner dial)."""
    if radius > 3:
        raise ValueError(
            f"probe radius {radius} > 3: raise the band count/band width "
            "(or fingerprint bits) instead of widening the Hamming ball"
        )
    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(width), r):
            masks.append(sum(1 << b for b in bits))
    return masks


def _mih_probe(bands: DataFrame, width: int, radius: int) -> DataFrame:
    """The multi-index-hashing probe side (Norouzi, Punjani & Fleet,
    CVPR 2012; multimodal.py banner): each row once per value within
    Hamming `radius` of its `width`-bit `band_val` (the last column),
    by exploding the Hamming-ball masks and XOR-ing. Pigeonhole: a pair
    within bands × (radius + 1) − 1 bits has some band within `radius`,
    so the probe meets its twin there. At radius 0 the only mask is 0:
    the frame passes through unexploded."""
    if radius == 0:
        return bands
    masks = _hamming_ball_masks(width, radius)
    keep = [c for c in bands.columns if c != "band_val"]
    return bands.select(
        *bands.columns, F.explode(F.array(*[F.lit(m) for m in masks])).alias("__mask")
    ).select(*keep, F.col("band_val").bitwiseXOR(F.col("__mask")).alias("band_val"))


def _band_pairs(
    probe: DataFrame, bands: DataFrame, keys: tuple[str, str], carry: list[tuple[str, str, str]]
) -> DataFrame:
    """Banded candidate pairs: rows a of `probe` (the MIH probe side, or
    `bands` itself) meet rows b of `bands` ONLY inside equal `keys`
    (band, value) cells, never all-pairs, with a.id < b.id; a pair
    colliding in several bands counts once. `carry` lists (column, name
    of a's value, name of b's value), the row id first."""
    a, b = probe.alias("a"), bands.alias("b")
    ident = carry[0][0]
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    return (
        a.join(b, reduce(operator.and_, on + [F.col(f"a.{ident}") < F.col(f"b.{ident}")]))
        .select(*[F.col(f"{s}.{c}").alias(n) for c, *names in carry for s, n in zip("ab", names)])
        .distinct()
    )


# ---------------------------------------------------------------------------
# MinHash on the md5 lane (r13) — the ORACLE-BACKED LSH family.
#
# `minhash_lsh_candidates` above is rows-only by the engine-specific-hash
# convention. The ONLY engine-specific step in that whole pipeline is the
# shingle hash: the permutation lattice (a·x + b) mod 2^31−1 with the
# `_minhash_coeffs` schedule is already exact integer arithmetic. On the
# md5 lane (reduced mod the Mersenne prime so a·x stays < 2^62 under
# ANSI) DuckDB reproduces EVERYTHING bit-for-bit: the 32 min-aggregates,
# the banded buckets (bucket = the band's 4 signature values verbatim —
# equality is all candidate generation needs, so no extra hash), and the
# signature-agreement count on candidate pairs. n_agree/32 is the
# classic MinHash Jaccard estimate; the output keeps the exact integer
# n_agree so no cross-engine float rounding is ever involved. The
# agreement verify is a doc-id-keyed join against the stored signature
# table — no all-pairs stage anywhere.
# ---------------------------------------------------------------------------

MINHASH_MD5_ROWS_PER_BAND = NUM_HASHES // NUM_BANDS  # 4


def _minhash_md5_sig_df(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h31) wide signature table on the md5 lane. No
    distinct — MIN is idempotent under duplicates, and the oracle's
    DISTINCT form provably aggregates to the same minima. Docs with
    < SHINGLE_N words have no row (both engines)."""
    return _permutation_mins(_word_shingles_with_dups(docs, _MD5), _MD5)


def minhash_md5_sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once wide signature table for the canonical `documents`
    table — shared by the signature entry and the candidate entry (seams
    convention). At 100 TB this is the stored signature column set every
    near-dup pass and incremental gate reads."""
    return materialized_frame(
        spark,
        "minhash_md5_sig",
        sf_dir,
        lambda: _minhash_md5_sig_df(load_table(spark, sf_dir, "documents")),
        (NUM_HASHES,),
    )


def minhash_md5_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: long-form (doc_id, perm, sig) — exact-oracle-backed
    (block banner). Long form so the oracle is a plain per-permutation
    min-aggregate and row order is immaterial."""
    wide = minhash_md5_sig_frame(spark, sf_dir)
    stack_args = ", ".join(f"{i}, h{i}" for i in range(NUM_HASHES))
    return wide.selectExpr(
        "doc_id", f"stack({NUM_HASHES}, {stack_args}) as (perm, sig)"
    )


def minhash_md5_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: (doc_a, doc_b, n_agree) — banded LSH candidates
    with the signature-agreement count (n_agree/32 = the MinHash Jaccard
    estimate, kept as the exact integer numerator). Bucket = the band's
    4 signature values rendered verbatim; candidates meet ONLY inside
    (band, bucket); a pair colliding in several bands counts once. The
    DuckDB oracle rebuilds signatures, buckets, and agreement from its
    own md5 — a green row certifies the full LSH pipeline bit-for-bit."""
    wide = minhash_md5_sig_frame(spark, sf_dir)
    r = MINHASH_MD5_ROWS_PER_BAND
    band_pairs = ", ".join(
        f"{b}, concat_ws(':', {', '.join(f'cast(h{b * r + j} as string)' for j in range(r))})"
        for b in range(NUM_BANDS)
    )
    bands = wide.selectExpr(
        "doc_id", f"stack({NUM_BANDS}, {band_pairs}) as (band, bucket)"
    )
    cand = _band_pairs(bands, bands, ("band", "bucket"), [("doc_id", "doc_a", "doc_b")])
    sa, sb = (
        wide.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(f"h{i}").alias(f"s{s}{i}") for i in range(NUM_HASHES)],
        )
        for s in "ab"
    )
    agree = " + ".join(f"IF(sa{i} = sb{i}, 1, 0)" for i in range(NUM_HASHES))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"cast({agree} as int)").alias("n_agree"),
        )
    )


def _minhash_md5_oracle_sql() -> dict[str, str]:
    """Generated at import (pure string work): the signature CTE embeds
    the `_minhash_coeffs` literals so both engines run the identical
    permutation lattice."""
    rng_a, rng_b = _minhash_coeffs()
    mins = ",\n               ".join(
        f"MIN(({rng_a[i]} * hx + {rng_b[i]}) % {MERSENNE}) AS h{i}"
        for i in range(NUM_HASHES)
    )
    sig_cte = f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        WHERE len(words) >= {SHINGLE_N}
    ),
    hx AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) % {MERSENNE} AS hx
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM hx GROUP BY doc_id
    )"""
    long_form = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS perm, h{i} AS sig FROM sig"
        for i in range(NUM_HASHES)
    )
    r = MINHASH_MD5_ROWS_PER_BAND
    bucket_case = " ".join(
        f"WHEN {b} THEN concat_ws(':', "
        + ", ".join(f"CAST(h{b * r + j} AS VARCHAR)" for j in range(r))
        + ")"
        for b in range(NUM_BANDS)
    )
    agree = " + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(NUM_HASHES))
    return {
        "minhash_md5_signatures": sig_cte + "\n    " + long_form,
        "minhash_md5_candidates": sig_cte
        + f""",
    bands AS (
        SELECT doc_id, t.band,
               CASE t.band {bucket_case} END AS bucket
        FROM sig, (SELECT unnest(range({NUM_BANDS})) AS band) t
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST({agree} AS INTEGER) AS n_agree
    FROM cand c
    JOIN sig sa ON c.doc_a = sa.doc_id
    JOIN sig sb ON c.doc_b = sb.doc_id
""",
    }


ORACLE_SQL.update(_minhash_md5_oracle_sql())


def minhash_md5_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup REMOVAL composition on the oracle-backed md5-lane
    LSH graph: candidates → transitive components → min-doc_id
    survivors — `minhash_dedup_corpus` (the 100 TB GPT-3/MassiveText
    shape) with every stage DuckDB-mirrorable. Candidates are exact
    (block banner); the components and survivor stages mirror as a
    recursive CTE (the `embedding_dedup_corpus` precedent); so a green
    row certifies the END-TO-END composition — candidate generation,
    transitive closure, canonical selection — not just the pair stage.
    Like the xxhash64 original, ALL banded candidates are edges:
    banding parameters are the precision dial, no all-pairs verify."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    pairs = minhash_md5_candidates(spark, sf_dir)
    return _survivor_corpus(docs, connected_components(docs.select("doc_id"), pairs))


ORACLE_SQL["minhash_md5_dedup_corpus"] = f"""
    WITH RECURSIVE pairs AS ({{MINHASH_MD5_CANDIDATES_SQL}}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node),
    survivors AS (
        SELECT cluster_id AS doc_id, CAST(COUNT(1) AS BIGINT) AS cluster_size
        FROM comp GROUP BY 1
    )
    SELECT d.doc_id, d.lang, d.source, s.cluster_size,
           CAST(s.cluster_size - 1 AS BIGINT) AS n_dups_removed
    FROM documents d JOIN survivors s USING (doc_id)
""".replace("{MINHASH_MD5_CANDIDATES_SQL}", ORACLE_SQL["minhash_md5_candidates"])


# ---------------------------------------------------------------------------
# SimHash (64-bit fingerprint; rows-only check)
# ---------------------------------------------------------------------------

# Packed popcount lanes: 3 bit-counters of SIMHASH_LANE bits ride in each
# 64-bit aggregate buffer, so the groupBy carries 22 sums instead of 64.
SIMHASH_LANE = 21
SIMHASH_LANES_PER_LONG = 3
SIMHASH_MAX_TOKENS = (1 << SIMHASH_LANE) - 1  # lane saturation → raise


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document from word-level xxhash64 (`_simhash_df`
    on the production lane). Bit 63's weight is shiftleft(1L, 63) =
    Long.MIN_VALUE, so the summed fingerprint is the two's-complement
    signed view of the 64-bit hash — distinct powers of two can't
    overflow the signed-long sum. Equality with the naive per-(doc, bit)
    plan is pinned in
    tests/test_properties.py::test_simhash_matches_per_bit_plan."""
    return _simhash_df(load_table(spark, sf_dir, "documents"), _XXHASH64)


def _simhash_df(docs: DataFrame, lane: _Lane) -> DataFrame:
    """(doc_id, simhash) with the `lane.bits`-bit SimHash of each
    document's non-empty whitespace tokens.

    For each bit position, sum +1/-1 over token hashes and take the
    sign. ONE groupBy(doc_id) (the `minhash_signatures` pattern): the
    shuffle is keyed on doc_id alone and moves one row per token with
    map-side partial sums — not the 64× blow-up of an
    explode(bit)+groupBy(doc_id, bit) plan. On top of that, per-bit ones-
    counts are PACKED three-to-a-long in 21-bit lanes, so the aggregate
    carries 22 buffer updates per row instead of 64 (measured 4× faster
    at sf0.1; 64 separate sum(when(...)) buffers were slower than the
    exploded plan they replaced). sign(+1/-1 sum) ≡ 2·ones > n (tie → 0),
    so only ones-counts and the token count n are aggregated. A document
    over `SIMHASH_MAX_TOKENS` = 2^21-1 ≈ 2M tokens (~10 MB of text)
    would saturate a lane and RAISES rather than fingerprinting wrong.
    Docs with zero non-empty tokens have no row."""
    # explode, then drop empty tokens: a codegen'd Filter, measured faster
    # at sf0.1 than an interpreted filter() lambda over the token array
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tok_hash = tokens.select("doc_id", F.expr(lane.hash.format("tok")).alias("h"))
    lane_w, per, bits = SIMHASH_LANE, SIMHASH_LANES_PER_LONG, lane.bits
    n_counters = (bits + per - 1) // per
    packed = [
        F.sum(
            F.expr(
                " + ".join(
                    f"(shiftleft(shiftright(h, {per * j + b}) & 1, {lane_w * b}))"
                    for b in range(per)
                    if per * j + b < bits
                )
            )
        ).alias(f"p{j}")
        for j in range(n_counters)
    ]
    agg = tok_hash.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *packed)
    agg = agg.select(
        "doc_id", "n", F.array(*[F.col(f"p{j}") for j in range(n_counters)]).alias("parr")
    )
    # Bit assembly as ONE higher-order aggregate over the counter array —
    # `bits` interpreted lambda steps on the tiny per-doc aggregate,
    # instead of a 64-term when/otherwise tree (which cost more in
    # per-DataFrame Catalyst analysis than the whole query's executor
    # time at sf0.1).
    fingerprint = F.expr(
        f"""
        CASE WHEN n > {SIMHASH_MAX_TOKENS}
             THEN raise_error('simhash ({lane.name}): document exceeds {SIMHASH_MAX_TOKENS} tokens')
        ELSE aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, i) ->
          acc + IF(2 * (shiftright(element_at(parr, cast(i div {per} as int) + 1),
                                   {lane_w} * cast(pmod(i, {per}) as int)) & {(1 << lane_w) - 1}) > n,
                   shiftleft(cast(1 as bigint), i), cast(0 as bigint)))
        END"""
    )
    return agg.select("doc_id", fingerprint.alias("simhash"))


# ---------------------------------------------------------------------------
# SimHash on the md5 lane (r13) — the ORACLE-BACKED near-dup path.
#
# `simhash_fingerprints` above is rows-only by the engine-specific-hash
# convention. On the md5 lane (the decontaminate_bloom precedent from
# r12) EVERYTHING downstream is exact integer arithmetic both engines
# reproduce bit-for-bit: the per-bit ±1 sums, the majority threshold,
# the packed fingerprint, the banded candidates, and the Hamming
# verify. The pairs oracle is the strongest kind the catalog has:
# DuckDB computes the BRUTE-FORCE all-pairs Hamming ≤ H set from its
# own fingerprints, so a green row certifies the banded Spark plan's
# pigeonhole completeness against the definition, not just against a
# mirrored plan.
#
# Candidate generation is the MIH discipline of the phash family
# (multimodal.py banner): 60 bits split into 4 bands of 15; at the
# default H = 3 the probe radius is 3 // 4 = 0, i.e. plain exact band
# match (any pair within 3 flipped bits shares a whole band) — no probe
# fan-out at all; callers widening past 3 pay the Hamming-ball masks
# exactly like phash. At 100 TB the random-collision term is
# m·|A|·|B|/2^15 per band — the dial is band width via longer
# fingerprints, same knob as the banner documents.
# ---------------------------------------------------------------------------

SIMHASH_MD5_BITS = _MD5.bits  # 15 md5 hex chars — positive in a signed long
SIMHASH_MD5_BANDS = 4
SIMHASH_MD5_BAND_WIDTH = SIMHASH_MD5_BITS // SIMHASH_MD5_BANDS  # 15
SIMHASH_MD5_BAND_MASK = (1 << SIMHASH_MD5_BAND_WIDTH) - 1
SIMHASH_MD5_MAX_HAMMING = 3  # classic simhash near-dup cut


def simhash_md5_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once md5-SimHash fingerprint table for the canonical
    `documents` table — shared by the fingerprint entry and the pair
    entry (seams convention). At 100 TB this is the stored fingerprint
    column every near-dup pass reads."""
    return materialized_frame(
        spark,
        "simhash_md5",
        sf_dir,
        lambda: _simhash_df(load_table(spark, sf_dir, "documents"), _MD5),
        (SIMHASH_MD5_BITS,),
    )


def simhash_md5_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: (doc_id, simhash) — exact-oracle-backed (block
    banner: every step is integer arithmetic on md5 lanes)."""
    return simhash_md5_frame(spark, sf_dir)


def simhash_md5_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = SIMHASH_MD5_MAX_HAMMING,
) -> DataFrame:
    """Catalog entry: near-dup pairs (doc_a, doc_b, hamming ≤ H) via
    banded candidates + exact Hamming verify. Pigeonhole-complete for
    any H (probe radius H // bands adapts — the MIH dial); the DuckDB
    oracle is the brute-force all-pairs definition, so the green row
    certifies the banded plan's completeness, not a mirrored plan."""
    fps = simhash_md5_frame(spark, sf_dir)
    band_arr = F.expr(
        f"transform(sequence(0, {SIMHASH_MD5_BANDS - 1}), b -> "
        f"shiftright(simhash, {SIMHASH_MD5_BAND_WIDTH} * b) & {SIMHASH_MD5_BAND_MASK})"
    )
    bands = fps.select(
        "doc_id", "simhash", F.posexplode(band_arr).alias("band_idx", "band_val")
    )
    probe = _mih_probe(bands, SIMHASH_MD5_BAND_WIDTH, max_hamming // SIMHASH_MD5_BANDS)
    pairs = _band_pairs(
        probe,
        bands,
        ("band_idx", "band_val"),
        [("doc_id", "doc_a", "doc_b"), ("simhash", "sh_a", "sh_b")],
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.expr("cast(bit_count(sh_a ^ sh_b) as int)").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# md5-SimHash oracles: the fingerprint CTE rebuilds the 60-bit lane,
# the per-bit majority, and the packed fingerprint from DuckDB's own
# md5 — exact integers end to end (distinct powers of two sum < 2^60).
# The pairs oracle is the BRUTE-FORCE all-pairs definition.
_SIMHASH_MD5_FP_CTE = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h
        FROM toks
    ),
    nn AS (SELECT doc_id, COUNT(1) AS n FROM h GROUP BY doc_id),
    ones AS (
        SELECT doc_id, b.bit, SUM((h >> b.bit) & 1) AS ones
        FROM h CROSS JOIN (SELECT unnest(range({SIMHASH_MD5_BITS})) AS bit) b
        GROUP BY doc_id, b.bit
    ),
    fp AS (
        SELECT o.doc_id,
               CAST(SUM(CASE WHEN 2 * o.ones > nn.n
                             THEN (CAST(1 AS BIGINT) << o.bit)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM ones o JOIN nn USING (doc_id)
        GROUP BY o.doc_id
    )
"""

ORACLE_SQL["simhash_md5_fingerprints"] = (
    _SIMHASH_MD5_FP_CTE + "SELECT doc_id, simhash FROM fp"
)

ORACLE_SQL["simhash_md5_pairs"] = (
    _SIMHASH_MD5_FP_CTE
    + f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MD5_MAX_HAMMING}
"""
)



# ---------------------------------------------------------------------------
# Exact substring (span-level) dedup — Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better" (ExactSubstr). The suffix-
# array construction doesn't distribute; the Spark-native equivalent is a
# stride-1 sliding token-window fingerprint index: any W-token run shared
# verbatim between two documents produces at least one identical window
# hash, so grouping window digests finds every duplicated span of length
# ≥ W without any pairwise comparison.
# ---------------------------------------------------------------------------

SPAN_W = 15  # window length in whitespace tokens (ExactSubstr uses 50 BPE)
# Drop docs whose duplicated-window coverage exceeds this. A Fraction so the
# keep rule can be evaluated on exact integers (den·dup ≤ num·total) in both
# engines — every verdict site derives from this one constant.
SPAN_DUP_MAX_FRAC = Fraction(1, 2)


def span_keep_expr(dup_col, total_col):
    """keep iff dup/total ≤ SPAN_DUP_MAX_FRAC, on exact integers — the single
    source of the verdict used by the batch report and the incremental gate."""
    return F.lit(SPAN_DUP_MAX_FRAC.denominator) * dup_col <= F.lit(
        SPAN_DUP_MAX_FRAC.numerator
    ) * total_col


def span_keep_sql(dup: str, total: str) -> str:
    """The oracle-SQL form of `span_keep_expr` (same integers, same rule)."""
    return (
        f"{SPAN_DUP_MAX_FRAC.denominator} * {dup} "
        f"<= {SPAN_DUP_MAX_FRAC.numerator} * {total}"
    )


def _span_windows(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """doc_id → one row per stride-1 sliding w-token window, identified by
    the md5 digest of the space-joined window (the repo's cross-engine
    digest idiom — 16 raw bytes on the wire, reproducible in DuckDB).

    The whole window array is built map-side in one higher-order transform
    (no UDF, no pre-explode): a doc with n tokens emits n-w+1 rows, so the
    frame is ~token-count-sized — the same order as the shingle index. At
    100 TB this is the staged span-fingerprint table; a production run
    would swap md5 for xxhash64 over the token slice (8-byte keys, same
    plan shape) once it no longer needs the cross-engine oracle.
    """
    toks = docs.select(
        "doc_id", F.expr("filter(split(text, ' '), t -> t != '')").alias("w")
    )
    return toks.filter(F.size("w") >= w).select(
        "doc_id",
        F.explode(span_array("w", w)).alias("span"),
    )


def span_array(tokens_col: str, w: int = SPAN_W):
    """Column expression: the md5 digests of every stride-1 w-token window
    of an ALREADY-TOKENIZED array column — empty array for rows shorter
    than w (Spark's sequence(1, n) counts DOWN for n ≤ 0, so the short
    case must be explicit). Shared by the span family."""
    return F.expr(
        f"CASE WHEN size({tokens_col}) < {w} THEN cast(array() as array<string>) "
        f"ELSE transform(sequence(1, size({tokens_col}) - {w - 1}), "
        f"i -> md5(cast(array_join(slice({tokens_col}, i, {w}), ' ') as binary))) END"
    )


def span_window_frame(spark: SparkSession, sf_dir: str, w: int = SPAN_W) -> DataFrame:
    """Compute-once span-fingerprint index for the canonical `documents`
    table — shared by `duplicate_spans` and `span_dedup_report` (the
    report consumes it from three subtrees; unmaterialized, Spark would
    replay scan→transform→explode under each)."""
    return materialized_frame(
        spark,
        "span_windows",
        sf_dir,
        lambda: _span_windows(load_table(spark, sf_dir, "documents"), w),
        (w,),
    )


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated spans: every w-token window occurring in ≥ 2
    distinct documents, with its document frequency and total occurrence
    count — the span-level analog of `dedup_exact_hash`, and the index an
    ExactSubstr-style pipeline stages before deciding what to cut.

    Plan: span index → ONE groupBy(span) with a two-phase distinct
    aggregate for n_docs and map-side partial counts for n_occurrences.
    No self-join anywhere, so a boilerplate span shared by millions of
    documents costs one hot aggregation group (absorbed by partial
    aggregation + AQE), never a pair fan-out.
    """
    wins = span_window_frame(spark, sf_dir)
    return (
        wins.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(F.col("span").alias("span_hash"), "n_docs", "n_occurrences")
    )


def span_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage + keep verdict: the fraction
    of a doc's w-token windows whose fingerprint occurs in ≥ 2 documents.
    ExactSubstr cuts the duplicated bytes themselves; at corpus-curation
    granularity the standard action (this one) is to drop documents whose
    coverage exceeds a threshold — boilerplate/mirror pages score ~1.0,
    docs that merely quote a little score near 0.

    `keep` is decided on exact integers (2·n_dup_windows ≤ n_windows for
    the 0.5 threshold), never on the rounded fraction, so the verdict has
    no float-boundary ambiguity between engines. Docs shorter than w have
    zero windows and are kept (nothing to judge).

    Plan: the seam frame feeds three subtrees — the dup-span set (groupBy
    span), per-doc totals (groupBy doc_id), and the dup-window count (a
    semi-join on span, output bounded by the window count, then groupBy
    doc_id) — then two doc_id-keyed left joins back to the doc list. All
    shuffles are keyed on 16-byte digests or doc ids; no pair fan-out.
    """
    docs = load_table(spark, sf_dir, "documents")
    return span_dedup_report_df(docs, span_window_frame(spark, sf_dir))


def span_dedup_report_df(docs: DataFrame, wins: DataFrame | None = None) -> DataFrame:
    """`span_dedup_report` core over any (doc_id, text) frame; pass a
    pre-staged window frame (the seam) to avoid rebuilding it."""
    if wins is None:
        wins = _span_windows(docs)
    docs = docs.select("doc_id")
    dup = (
        wins.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("span")
    )
    totals = wins.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    dup_counts = (
        wins.join(dup, "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        docs.join(totals, "doc_id", "left")
        .join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.when(
                    F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(
                    F.coalesce("n_dup_windows", F.lit(0))
                    / F.col("n_windows").cast("double")
                ),
                4,
            ).alias("dup_frac"),
            span_keep_expr(
                F.coalesce("n_dup_windows", F.lit(0)),
                F.coalesce("n_windows", F.lit(0)),
            ).alias("keep"),
        )
    )


def span_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus surviving the span-coverage gate — `span_dedup_report`'s
    keepers joined back to their metadata, the family's counterpart to
    `deduped_corpus`/`minhash_dedup_corpus` (what actually flows to the
    next curation stage). One doc_id-keyed join; text never moves."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    keepers = span_dedup_report(spark, sf_dir).filter(F.col("keep")).select(
        "doc_id", "dup_frac"
    )
    return docs.join(keepers, "doc_id")


def cross_dedup_spans(
    spark: SparkSession, sf_dir: str, base_max_doc_id: int = CROSS_DEDUP_BASE_MAX
) -> DataFrame:
    """The SPAN-level incremental-corpus gate: score each NEW document by
    the fraction of its w-token windows already present anywhere in the
    BASE corpus, and keep it only while that coverage stays ≤ 1/2 — the
    ExactSubstr transpose of `cross_dedup` (byte-identical) and
    `cross_dedup_neardup` (LSH-fuzzy). Catches the refresh-crawl failure
    mode the other two miss: a "new" page that is mostly old content
    stitched with a fresh header — not byte-identical, and possibly under
    the LSH similarity threshold, but plagiarized span by span.

    Plan: the base side reduces to its DISTINCT span digests (at 100 TB
    an append-only table maintained at ingest, exactly like the base
    digest/band tables); one LEFT SEMI join marks the new windows already
    known, then two doc_id-keyed aggregates and left joins. Text never
    shuffles; every key is a 16-byte digest or a doc id. The verdict is
    integer-exact (2·hits ≤ windows), same as `span_dedup_report`.
    """
    wins = span_window_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return _cross_dedup_spans_core(
        docs.filter(F.col("doc_id") >= base_max_doc_id).select("doc_id"),
        wins.filter(F.col("doc_id") < base_max_doc_id),
        wins.filter(F.col("doc_id") >= base_max_doc_id),
    )


def cross_dedup_spans_df(
    base: DataFrame, new: DataFrame, w: int = SPAN_W
) -> DataFrame:
    """`cross_dedup_spans` core over any two (doc_id, text) frames."""
    return _cross_dedup_spans_core(
        new.select("doc_id"), _span_windows(base, w), _span_windows(new, w)
    )


def _cross_dedup_spans_core(
    new_docs: DataFrame, base_wins: DataFrame, new_wins: DataFrame
) -> DataFrame:
    base_spans = base_wins.select("span").distinct()
    totals = new_wins.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    hits = (
        new_wins.join(base_spans, "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_base_windows"))
    )
    return (
        new_docs.join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_base_windows", F.lit(0)).alias("n_base_windows"),
            F.round(
                F.when(
                    F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(
                    F.coalesce("n_base_windows", F.lit(0))
                    / F.col("n_windows").cast("double")
                ),
                4,
            ).alias("base_frac"),
            span_keep_expr(
                F.coalesce("n_base_windows", F.lit(0)),
                F.coalesce("n_windows", F.lit(0)),
            ).alias("keep"),
        )
    )


_SPAN_WINS_SQL = f"""
    toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
        FROM documents
    ),
    wins AS (
        SELECT doc_id, md5(array_to_string(w[i : i + {SPAN_W - 1}], ' ')) AS span
        FROM toks, UNNEST(generate_series(1, len(w) - {SPAN_W - 1})) AS t(i)
        WHERE len(w) >= {SPAN_W}
    )
"""

ORACLE_SQL["duplicate_spans"] = f"""
    WITH {_SPAN_WINS_SQL}
    SELECT span AS span_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM wins GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
"""

ORACLE_SQL["span_dedup_report"] = f"""
    WITH {_SPAN_WINS_SQL},
    dup AS (
        SELECT span FROM wins GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM wins GROUP BY 1
    ),
    dd AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows
        FROM wins WHERE span IN (SELECT span FROM dup) GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(tot.n_windows, 0) AS n_windows,
           COALESCE(dd.n_dup_windows, 0) AS n_dup_windows,
           ROUND(
               CASE WHEN COALESCE(tot.n_windows, 0) = 0 THEN 0.0
                    ELSE COALESCE(dd.n_dup_windows, 0)
                         / CAST(tot.n_windows AS DOUBLE) END,
               4
           ) AS dup_frac,
           {span_keep_sql("COALESCE(dd.n_dup_windows, 0)", "COALESCE(tot.n_windows, 0)")} AS keep
    FROM documents d
    LEFT JOIN tot ON d.doc_id = tot.doc_id
    LEFT JOIN dd ON d.doc_id = dd.doc_id
"""

ORACLE_SQL["span_dedup_corpus"] = f"""
    WITH rep AS ({ORACLE_SQL["span_dedup_report"]})
    SELECT d.doc_id, d.source, d.lang, rep.dup_frac
    FROM documents d JOIN rep ON d.doc_id = rep.doc_id
    WHERE rep.keep
"""

ORACLE_SQL["cross_dedup_spans"] = f"""
    WITH {_SPAN_WINS_SQL},
    base AS (
        SELECT DISTINCT span FROM wins WHERE doc_id < {CROSS_DEDUP_BASE_MAX}
    ),
    nw AS (
        SELECT doc_id, span FROM wins WHERE doc_id >= {CROSS_DEDUP_BASE_MAX}
    ),
    tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM nw GROUP BY 1
    ),
    hit AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_base_windows
        FROM nw WHERE span IN (SELECT span FROM base) GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(tot.n_windows, 0) AS n_windows,
           COALESCE(hit.n_base_windows, 0) AS n_base_windows,
           ROUND(
               CASE WHEN COALESCE(tot.n_windows, 0) = 0 THEN 0.0
                    ELSE COALESCE(hit.n_base_windows, 0)
                         / CAST(tot.n_windows AS DOUBLE) END,
               4
           ) AS base_frac,
           {span_keep_sql("COALESCE(hit.n_base_windows, 0)", "COALESCE(tot.n_windows, 0)")} AS keep
    FROM documents d
    LEFT JOIN tot ON d.doc_id = tot.doc_id
    LEFT JOIN hit ON d.doc_id = hit.doc_id
    WHERE d.doc_id >= {CROSS_DEDUP_BASE_MAX}
"""

ORACLE_SQL["cross_dedup"] = f"""
    SELECT doc_id, source, lang, md5(text) AS content_hash
    FROM documents
    WHERE doc_id >= {CROSS_DEDUP_BASE_MAX}
      AND md5(text) NOT IN (
          SELECT md5(text) FROM documents WHERE doc_id < {CROSS_DEDUP_BASE_MAX}
      )
"""
