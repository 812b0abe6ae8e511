"""Character-level fuzzy dedup: prefix-filtered Levenshtein verify.

Completes the near-dup triad with EDIT-DISTANCE semantics: the existing
families see token sets (``ngram_jaccard_*``: word-shingle Jaccard),
hashed sketches (MinHash/SimHash) or dense vectors (embedding cosine) —
none of them measures character edits, so a doc pair differing by a few
in-word typos or single-character mutations scores as *identical tokens
missing entirely* rather than *two edits apart*. This module finds pairs
within a bounded Levenshtein distance without ever comparing all pairs:

1. **Block (prefix filtering)** — normalize text (the shared
   `normalize_text_expr` rule: casefold, collapse whitespace, trim),
   explode distinct character Q-grams, then per doc keep only its
   `FUZZY_R` rarest SHAREABLE grams: rank by (global df ASC, gram ASC)
   over grams with df >= 2 — a df=1 gram has no partner anywhere, so
   indexing it buys nothing, and for a mutated copy the df=1 grams are
   exactly its private mutation sites while the df=2 grams are the ones
   its twin also has. Docs sharing >= `FUZZY_MIN_SHARED` selected grams
   become candidates. This is the prefix-filtering idea of the string
   similarity-join literature (PPJoin family): index each record's
   least-frequent signature subset, meet only in those postings.
2. **Verify** — fetch the two normalized texts per candidate, prefilter
   on the BYTE-length-difference necessary condition (|ba - bb| <= D),
   then one JVM `levenshtein(a, b, threshold=D)` over `byte_faithful`
   strings (UTF-8 byte edit distance — the cross-engine contract; see
   the semantics note below) — the threshold form bails out of the DP
   early once a row minimum exceeds D.

Gram identity is the md5-derived 60-bit lane (`'0x' || substring(md5(
gram), 1, 15)` in DuckDB — the repo's engine-agnostic hash convention),
because the prefix filter ORDERS grams, not just joins them: both
engines must agree on the (df, gram) rank tie-break, so the key must
compare identically, which xxhash64 cannot give DuckDB.

Why not a plain df cap: capping postings alone leaves the candidate set
quadratic-ish (measured at sf0.001: ~106k of 125k possible pairs shared
>= 1 kept gram at max_df=50), while the rarest-R selection bounds TOTAL
postings at n*R rows and per-gram fan-out at `FUZZY_SEL_CAP`^2 — so the
pair aggregate is O(n * R * cap) rows worst case, LINEAR in corpus
size. Measured: 192 candidates over 500 docs (28/28 true pairs found),
161 over 5k docs — flat, because coincidental rare-gram collisions
don't grow with n. Recall vs the unblocked brute force is pinned in
tests/test_recall.py at sf0.001; the thresholds are engine policy, not
reference semantics (the reference has no fuzzy matching — additive).

Scale shape: the per-doc rarest-R rank is WindowGroupLimit-pruned (R
rows per doc survive ahead of the sort); candidates meet only inside
selected-gram postings (df in [2, `FUZZY_SEL_CAP`]); text travels ONLY
to the verify join of the ~O(dups) candidate set. The blocking index
shuffles 8-byte gram lanes, never gram strings. No cartesian anywhere —
pinned in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io import load_table
from ..plans.materialize import materialized_frame
from .dedup import normalize_text_expr

FUZZY_Q = 8  # character q-gram width
FUZZY_R = 16  # rarest shareable grams indexed per doc (the "prefix")
FUZZY_SEL_CAP = 64  # drop grams selected by more docs than this
FUZZY_MIN_SHARED = 3  # candidate needs this many shared selected grams
FUZZY_MAX_DIST = 20  # Levenshtein acceptance threshold

# The DuckDB-side normalization mirror of normalize_text_expr.
_NORM_SQL = (
    r"trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g'))"
)

# Distance semantics (r10, closing the former DIVERGENCES.md scope
# boundary #1): the family's contract is Levenshtein over UTF-8 BYTES —
# encoding-explicit and identical on both engines at any input.
# DuckDB's levenshtein is byte-based natively; Spark's counts CHARACTER
# edits, so the verify stage runs it over `byte_faithful` strings
# (UTF-8 encode → latin-1 decode = one char per byte, identity on
# ASCII, zero-copy cheap). The length-difference prefilter accordingly
# uses BYTE lengths (octet_length / strlen) — the necessary condition
# |bytelen(a)-bytelen(b)| <= D holds for byte distance, while the char
# form does NOT (8 ASCII chars vs 2 four-byte chars: char diff 6, byte
# diff 0). Certified on a multi-byte fixture via `fuzzy_dedup_unicode`.


def byte_faithful(col):
    """One char per UTF-8 byte (latin-1 roundtrip), so Spark's
    char-counting levenshtein computes the BYTE edit distance DuckDB's
    levenshtein defines. Identity on ASCII strings."""
    return F.decode(F.encode(col, "UTF-8"), "ISO-8859-1")


def _norm_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, s, len) — normalized text plus its length."""
    return docs.select(
        "doc_id", normalize_text_expr("text").alias("s")
    ).withColumn("len", F.length("s"))


def _char_grams(norm: DataFrame, q: int = FUZZY_Q) -> DataFrame:
    """doc_id -> distinct character q-grams as md5-derived 60-bit lanes
    (the repo's engine-agnostic hash convention), built in one in-array
    expression — no UDF, no per-gram string shuffle. md5 rather than
    xxhash64 because the prefix filter RANKS grams ((df, gram) order):
    identity-only hashing would make rank tie-breaks diverge between
    engines, while the shared md5 lane makes the ORDER itself
    bit-for-bit mirrorable in DuckDB.

    The input is spread across the cluster first: locally the whole doc
    table is one parquet split, which would serialize ~300 md5s per doc
    on one core (measured 3-8x slower end-to-end). The explicit
    partition count matters — a bare `repartition("doc_id")` gets
    AQE-coalesced straight back to one partition because the
    pre-explode rows are tiny; it is the post-explode WORK that needs
    the fan-out, which AQE cannot see. At 100 TB the scan already
    arrives in many splits and this shuffles only pre-explode rows."""
    return (
        norm.repartition(
            norm.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
        .filter(F.col("len") >= q)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, len - {q} + 1), "
                    f"i -> cast(conv(substring(md5(substring(s, i, {q})), "
                    f"1, 15), 16, 10) as bigint))"
                )
            ).alias("gram"),
        )
        .distinct()
    )


def _selected_grams(
    norm: DataFrame,
    q: int = FUZZY_Q,
    r: int = FUZZY_R,
    sel_cap: int = FUZZY_SEL_CAP,
    min_df: int = 2,
    materialize: bool = True,
) -> DataFrame:
    """The prefix-filter posting index: per doc, the `r` rarest grams
    with global df >= `min_df`, ranked (df ASC, gram ASC); grams
    selected by more than `sel_cap` docs are dropped afterwards (bounds
    per-gram pair fan-out at sel_cap^2). The rank filter sits directly
    on the window so WindowGroupLimit keeps r rows per doc ahead of the
    sort.

    `min_df` defaults to 2 for the SELF-join case: a df=1 gram has no
    partner inside the same corpus, so indexing it buys nothing there.
    The cross-corpus consumer (`fuzzy_matches_df`) passes min_df=1 — a
    base doc whose twin lives only in the PROBE set has df=1 on its
    distinguishing grams within the base, and those grams are exactly
    what the probe must find.

    The gram index feeds two subtrees (the df aggregate and the join
    back against it); unmaterialized, Spark would run the md5 explode +
    distinct twice, which is most of the build's cost. localCheckpoint
    is bounded: ~(positions per doc) 16-byte rows. At 100 TB this is
    the staged gram-index table the selection job reads.

    `materialize=False` skips both internal checkpoints — the
    plan-pin hook (tests assert the unmaterialized shape, per the
    seams convention)."""
    _mat = (lambda f: f.localCheckpoint()) if materialize else (lambda f: f)
    grams = _mat(_char_grams(norm, q))
    df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    shareable = grams.join(df.filter(F.col("df") >= min_df), "gram")
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("gram"))
    )
    # Same two-subtree rationale as `grams` above: `sel` feeds the hot
    # census AND the final anti-join; bounded at ≤ r rows per doc
    # (r13-opt — previously the df-join + rank window ran twice).
    sel = _mat(
        shareable.withColumn("rk", rk)
        .filter(F.col("rk") <= r)
        .select("doc_id", "gram")
    )
    hot = (
        sel.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_sel"))
        .filter(F.col("n_sel") > sel_cap)
        .select("gram")
    )
    return sel.join(F.broadcast(hot), "gram", "left_anti")


def selected_gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once prefix-filter index over `documents` — the shared
    blocking front end of `fuzzy_dup_pairs` and `fuzzy_dedup_corpus`
    (same seam convention as `capped_shingle_frame`: first touch in the
    bench cold pass pays for every consumer)."""
    return materialized_frame(
        spark,
        "fuzzy_selected_grams",
        sf_dir,
        lambda: _selected_grams(
            _norm_docs(load_table(spark, sf_dir, "documents"))
        ),
        (FUZZY_Q, FUZZY_R, FUZZY_SEL_CAP),
    )


def fuzzy_pairs_df(
    docs: DataFrame,
    selected: DataFrame | None = None,
    max_dist: int = FUZZY_MAX_DIST,
    min_shared: int = FUZZY_MIN_SHARED,
    norm: DataFrame | None = None,
) -> DataFrame:
    """`fuzzy_dup_pairs` core over any (doc_id, text) frame: candidate
    pairs from the prefix-filter index, verified with one thresholded
    Levenshtein. Returns (doc_a, doc_b, shared_grams, dist).

    `norm` accepts a pre-normalized (and possibly materialized)
    (doc_id, s, len) frame — `fuzzy_dedup_unicode` passes a
    localCheckpointed one so its bounded fixture is normalized once
    instead of three times (selected + both verify sides). When the
    index is built inline it is localCheckpointed (r13-opt): the
    self-join below reads BOTH sides from the same index frame, and
    unmaterialized each side would re-run the whole md5-gram + df +
    rank build — the same bounded-frame rationale as
    `_selected_grams`' internal gram checkpoint."""
    if norm is None:
        norm = _norm_docs(docs)
    if selected is None:
        # ADVICE r13 #3: _selected_grams (materialize=True) already
        # localCheckpoints its gram and rank frames internally; the
        # former outer .localCheckpoint() here added a REDUNDANT second
        # eager pass over the index on every inline build. The final
        # hot-cap anti-join left unmaterialized is one broadcast over
        # the checkpointed sel per consumer side — cheaper than eagerly
        # re-materializing it (measured r14).
        selected = _selected_grams(norm)

    a, b = selected.alias("a"), selected.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )
    na = norm.select(
        F.col("doc_id").alias("doc_a"),
        F.col("s").alias("sa"),
        F.col("len").alias("la"),
    )
    nb = norm.select(
        F.col("doc_id").alias("doc_b"),
        F.col("s").alias("sb"),
        F.col("len").alias("lb"),
    )
    return (
        cand.join(na, "doc_a")
        .join(nb, "doc_b")
        # necessary condition first: |byte-len diff| > d can never
        # verify, and the filter runs before the DP ever starts
        .filter(
            F.abs(F.octet_length("sa") - F.octet_length("sb")) <= max_dist
        )
        .withColumn(
            "dist",
            F.levenshtein(byte_faithful("sa"), byte_faithful("sb"), max_dist),
        )  # threshold form: -1 once the DP row minimum exceeds max_dist
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", "shared_grams", "dist")
    )


def gram_array_expr(s_col: str, len_col: str, q: int = FUZZY_Q) -> str:
    """The distinct-gram ARRAY of one normalized string, as a SQL
    expression — the probe side's form of `_char_grams`' md5 lane,
    deduped in-row (`array_distinct`)."""
    return (
        f"array_distinct(transform(sequence(1, {len_col} - {q} + 1), "
        f"i -> cast(conv(substring(md5(substring({s_col}, i, {q})), "
        f"1, 15), 16, 10) as bigint)))"
    )


def fuzzy_matches_df(
    base: DataFrame,
    probe: DataFrame,
    base_selected: DataFrame | None = None,
    base_norm: DataFrame | None = None,
    max_dist: int = FUZZY_MAX_DIST,
    min_shared: int = FUZZY_MIN_SHARED,
) -> DataFrame:
    """Cross-corpus fuzzy match: for each PROBE doc, the nearest BASE
    doc within `max_dist` edits — (doc_id, matched_doc, dist,
    n_candidates), one row per probe doc that matched.

    Asymmetric blocking: the BASE carries the prefix-filter index (its
    rarest-R shareable grams — the staged side), while each probe doc
    is probed with its FULL distinct gram set, so probe-side recall
    never depends on the probe corpus's df statistics (a probe doc is
    matched if ANY `min_shared` of the base doc's selected grams appear
    anywhere in it — strictly easier to hit than the symmetric rule).
    This is the refresh-crawl shape: the base index is built once and
    each new batch of docs probes it. Nearest tie-break: lexicographic MIN of
    (dist, matched_doc) — mirrored in the oracle's ranked form."""
    if base_norm is None:
        base_norm = _norm_docs(base)
    if base_selected is None:
        base_selected = _selected_grams(base_norm, min_df=1)
    probe_norm = _norm_docs(probe)
    # same explicit fan-out as _char_grams: the probe batch is one
    # parquet split locally, and a bare repartition would be
    # AQE-coalesced back before the md5 explode ever runs
    probe_grams = (
        probe_norm.repartition(
            probe_norm.sparkSession.sparkContext.defaultParallelism,
            "doc_id",
        )
        .filter(F.col("len") >= FUZZY_Q)
        .select(
            "doc_id",
            F.explode(F.expr(gram_array_expr("s", "len"))).alias("gram"),
        )
    )
    cand = (
        probe_grams.join(
            base_selected.select(
                F.col("doc_id").alias("base_doc"), "gram"
            ),
            "gram",
        )
        .groupBy("doc_id", "base_doc")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )
    bn = base_norm.select(
        F.col("doc_id").alias("base_doc"),
        F.col("s").alias("sb"),
        F.col("len").alias("lb"),
    )
    verified = (
        cand.join(probe_norm, "doc_id")
        .join(bn, "base_doc")
        .filter(F.abs(F.octet_length("s") - F.octet_length("sb")) <= max_dist)
        .withColumn(
            "dist",
            F.levenshtein(byte_faithful("s"), byte_faithful("sb"), max_dist),
        )
        .filter(F.col("dist") >= 0)
    )
    best = verified.groupBy("doc_id").agg(
        F.min(F.struct("dist", "base_doc")).alias("best"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    return best.select(
        "doc_id",
        F.col("best.base_doc").alias("matched_doc"),
        F.col("best.dist").alias("dist"),
        "n_candidates",
    )


CROSS_FUZZY_BASE_MAX = 250  # doc_id < this plays the already-ingested base


def cross_fuzzy_base_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Compute-once (selected grams, norm texts) of the cross-fuzzy
    BASE split — the staged index a refresh-crawl gate reads. Without
    the seam every catalog pass re-ran the base's md5 explode + df +
    rarest-R rank (~3.9 s of cross_fuzzy_matches' 4.4 s warm cost at
    sf0.1); with it the warm entry pays only the probe join + verify."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < CROSS_FUZZY_BASE_MAX)
    sel = materialized_frame(
        spark,
        "cross_fuzzy_base_sel",
        sf_dir,
        lambda: _selected_grams(_norm_docs(base), min_df=1),
        (FUZZY_Q, FUZZY_R, FUZZY_SEL_CAP, CROSS_FUZZY_BASE_MAX),
    )
    norm = materialized_frame(
        spark,
        "cross_fuzzy_base_norm",
        sf_dir,
        lambda: _norm_docs(base),
        (CROSS_FUZZY_BASE_MAX,),
    )
    return sel, norm


def cross_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog form of `fuzzy_matches_df`: docs with id <
    `CROSS_FUZZY_BASE_MAX` play the already-ingested base (same split
    convention as `cross_dedup`), the rest arrive as the probe batch.
    Each probe doc reports its nearest base doc within
    `FUZZY_MAX_DIST` edits. The base index/texts ride the compute-once
    seam above."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sel, norm = cross_fuzzy_base_frames(spark, sf_dir)
    return fuzzy_matches_df(
        docs.filter(F.col("doc_id") < CROSS_FUZZY_BASE_MAX),
        docs.filter(F.col("doc_id") >= CROSS_FUZZY_BASE_MAX),
        base_selected=sel,
        base_norm=norm,
    )


def fuzzy_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs within Levenshtein distance `FUZZY_MAX_DIST` of
    each other on normalized text — (doc_a, doc_b, shared_grams, dist),
    found by prefix-filter blocking + thresholded verify (module
    docstring has the full plan). `dist` is an exact integer (no float
    discipline needed); `shared_grams` is the blocking evidence."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return fuzzy_pairs_df(docs, selected=selected_gram_frame(spark, sf_dir))


def fuzzy_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving corpus after greedy fuzzy dedup: drop every doc with a
    SMALLER-id partner within `FUZZY_MAX_DIST` edits (keep-earliest, the
    same tie-break the exact families use). Greedy-by-id rather than
    connected components on purpose — the CC form already exists for the
    jaccard graph (`dedup_clusters`); the greedy rule is the O(pairs)
    production gate. Returns (doc_id, lang, source, n_fuzzy_partners)
    where the count is the doc's larger-id partners (candidates it
    keeps out under the greedy rule, directly or transitively)."""
    docs = load_table(spark, sf_dir, "documents")
    # r13-opt: the verified pair list feeds TWO subtrees (the dropped
    # set and the partner counts); unmaterialized, the whole blocking +
    # Levenshtein-verify pipeline ran twice. Bounded: one row per
    # verified near-dup pair.
    pairs = fuzzy_dup_pairs(spark, sf_dir).localCheckpoint()
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    n_partners = pairs.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_fuzzy_partners")
    )
    return (
        docs.join(dropped, "doc_id", "left_anti")
        .join(n_partners, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.coalesce("n_fuzzy_partners", F.lit(0)).alias(
                "n_fuzzy_partners"
            ),
        )
    )


UNI_FIXTURE_MAX = 150  # seed docs for the multi-byte fixture (SF-stable)
UNI_MUT_PREFIX = 12  # chars of the prefix that get accent substitutions


def fuzzy_dedup_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-semantics certification fixture as a catalog entry: each
    seed doc (doc_id < UNI_FIXTURE_MAX) appears twice — verbatim at
    doc_id·2 and with accent substitutions (e→é, a→à, o→ô) over its
    first UNI_MUT_PREFIX characters at doc_id·2+1 — and the standard
    blocking+verify pipeline runs over the union. Every accented
    substitution is 1 CHARACTER edit but 2 BYTE edits (a 1-byte
    codepoint becomes 2 bytes), so this entry is green only if both
    engines implement the same byte-based distance contract — the pin
    that closed the former DIVERGENCES.md oracle-scope boundary #1.
    Bounded by construction: ≤ 2·UNI_FIXTURE_MAX docs at any SF."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < UNI_FIXTURE_MAX)
        .select("doc_id", "text")
    )
    mutated = F.concat(
        F.translate(F.substring("text", 1, UNI_MUT_PREFIX), "eao", "éàô"),
        F.expr(f"substring(text, {UNI_MUT_PREFIX + 1})"),
    )
    uni = docs.select(
        (F.col("doc_id") * 2).alias("doc_id"), "text"
    ).unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("doc_id"), mutated.alias("text")
        )
    )
    # r13-opt: normalize the (bounded, ≤2·UNI_FIXTURE_MAX-doc) fixture
    # ONCE — unmaterialized, the verify stage's two join-backs re-ran
    # the scan + accent mutation + normalization per side.
    # r14 (VERDICT r13 #6): the normalized fixture AND its gram+df+rank
    # prefix-filter index ride compute-once seams — the fixture is
    # CONSTRUCTED (not loaded), so every invocation was re-paying the
    # doubled fixture's md5-gram explode + rank window. Same cache
    # contract as every seam (per session + sf_dir, built from the
    # parquet inputs inside the timed region on first touch); the
    # banded self-join + Levenshtein verify still run per invocation.
    norm = materialized_frame(
        spark, "fuzzy_unicode_norm", sf_dir, lambda: _norm_docs(uni)
    )
    selected = materialized_frame(
        spark,
        "fuzzy_unicode_selected",
        sf_dir,
        lambda: _selected_grams(norm),
        (FUZZY_Q, FUZZY_R, FUZZY_SEL_CAP),
    )
    return fuzzy_pairs_df(uni, selected=selected, norm=norm)


def _fuzzy_cand_cte(src: str = "documents") -> str:
    """The blocking+verify pipeline as a DuckDB CTE chain over any
    (doc_id, text) relation — `fuzzy_dedup_unicode` reuses it over its
    constructed multi-byte fixture."""
    return f"""
    WITH n AS (
        SELECT doc_id, {_NORM_SQL} AS s FROM {src}
    ),
    g AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substring(md5(substring(s, i, {FUZZY_Q})),
                                      1, 15) AS BIGINT) AS gram
        FROM n, LATERAL (
            SELECT unnest(range(1, length(s) - {FUZZY_Q} + 2)) AS i
        ) t
        WHERE length(s) >= {FUZZY_Q}
    ),
    gdf AS (SELECT gram, COUNT(1) AS df FROM g GROUP BY 1),
    sel AS (
        SELECT doc_id, gram FROM (
            SELECT g.doc_id, g.gram,
                   ROW_NUMBER() OVER (
                       PARTITION BY g.doc_id
                       ORDER BY gdf.df ASC, g.gram ASC) AS rk
            FROM g JOIN gdf USING (gram)
            WHERE gdf.df >= 2
        ) WHERE rk <= {FUZZY_R}
    ),
    selcap AS (
        SELECT sel.doc_id, sel.gram
        FROM sel JOIN (
            SELECT gram FROM sel GROUP BY gram
            HAVING COUNT(1) <= {FUZZY_SEL_CAP}
        ) cold USING (gram)
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(1) AS shared_grams
        FROM selcap a JOIN selcap b
          ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(1) >= {FUZZY_MIN_SHARED}
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b,
               CAST(c.shared_grams AS BIGINT) AS shared_grams,
               CAST(levenshtein(na.s, nb.s) AS INT) AS dist
        FROM cand c
        JOIN n na ON na.doc_id = c.doc_a
        JOIN n nb ON nb.doc_id = c.doc_b
        WHERE abs(strlen(na.s) - strlen(nb.s)) <= {FUZZY_MAX_DIST}
          AND levenshtein(na.s, nb.s) <= {FUZZY_MAX_DIST}
    )
"""


_FUZZY_CAND_CTE = _fuzzy_cand_cte()

ORACLE_SQL: dict[str, str] = {
    "fuzzy_dup_pairs": _FUZZY_CAND_CTE
    + """
    SELECT doc_a, doc_b, shared_grams, dist FROM verified
""",
    "fuzzy_dedup_corpus": _FUZZY_CAND_CTE
    + """
    SELECT d.doc_id, d.lang, d.source,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_fuzzy_partners
    FROM documents d
    LEFT JOIN (
        SELECT doc_a, COUNT(1) AS n FROM verified GROUP BY 1
    ) p ON p.doc_a = d.doc_id
    WHERE d.doc_id NOT IN (SELECT doc_b FROM verified)
""",
}

ORACLE_SQL["cross_fuzzy_matches"] = f"""
    WITH bn AS (
        SELECT doc_id, {_NORM_SQL} AS s FROM documents
        WHERE doc_id < {CROSS_FUZZY_BASE_MAX}
    ),
    pn AS (
        SELECT doc_id, {_NORM_SQL} AS s FROM documents
        WHERE doc_id >= {CROSS_FUZZY_BASE_MAX}
    ),
    bg AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substring(md5(substring(s, i, {FUZZY_Q})),
                                      1, 15) AS BIGINT) AS gram
        FROM bn, LATERAL (
            SELECT unnest(range(1, length(s) - {FUZZY_Q} + 2)) AS i
        ) t
        WHERE length(s) >= {FUZZY_Q}
    ),
    bdf AS (SELECT gram, COUNT(1) AS df FROM bg GROUP BY 1),
    bsel AS (
        SELECT doc_id, gram FROM (
            SELECT bg.doc_id, bg.gram,
                   ROW_NUMBER() OVER (
                       PARTITION BY bg.doc_id
                       ORDER BY bdf.df ASC, bg.gram ASC) AS rk
            FROM bg JOIN bdf USING (gram)
        ) WHERE rk <= {FUZZY_R}
    ),
    bselcap AS (
        SELECT bsel.doc_id, bsel.gram
        FROM bsel JOIN (
            SELECT gram FROM bsel GROUP BY gram
            HAVING COUNT(1) <= {FUZZY_SEL_CAP}
        ) cold USING (gram)
    ),
    pg AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substring(md5(substring(s, i, {FUZZY_Q})),
                                      1, 15) AS BIGINT) AS gram
        FROM pn, LATERAL (
            SELECT unnest(range(1, length(s) - {FUZZY_Q} + 2)) AS i
        ) t
        WHERE length(s) >= {FUZZY_Q}
    ),
    cand AS (
        SELECT p.doc_id, b.doc_id AS base_doc, COUNT(1) AS shared
        FROM pg p JOIN bselcap b ON p.gram = b.gram
        GROUP BY 1, 2
        HAVING COUNT(1) >= {FUZZY_MIN_SHARED}
    ),
    verified AS (
        SELECT c.doc_id, c.base_doc,
               CAST(levenshtein(pn.s, bn.s) AS INT) AS dist
        FROM cand c
        JOIN pn ON pn.doc_id = c.doc_id
        JOIN bn ON bn.doc_id = c.base_doc
        WHERE abs(strlen(pn.s) - strlen(bn.s)) <= {FUZZY_MAX_DIST}
          AND levenshtein(pn.s, bn.s) <= {FUZZY_MAX_DIST}
    ),
    ranked AS (
        SELECT doc_id, base_doc, dist,
               COUNT(1) OVER (PARTITION BY doc_id) AS n_candidates,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY dist ASC, base_doc ASC
               ) AS rk
        FROM verified
    )
    SELECT doc_id, base_doc AS matched_doc, dist,
           CAST(n_candidates AS BIGINT) AS n_candidates
    FROM ranked WHERE rk = 1
"""

_UNI_SRC = f"""(
        SELECT doc_id * 2 AS doc_id, text FROM documents
        WHERE doc_id < {UNI_FIXTURE_MAX}
        UNION ALL
        SELECT doc_id * 2 + 1 AS doc_id,
               translate(substring(text, 1, {UNI_MUT_PREFIX}), 'eao', 'éàô')
                   || substring(text, {UNI_MUT_PREFIX + 1}) AS text
        FROM documents WHERE doc_id < {UNI_FIXTURE_MAX}
    ) uni"""

ORACLE_SQL["fuzzy_dedup_unicode"] = (
    _fuzzy_cand_cte(_UNI_SRC)
    + """
    SELECT doc_a, doc_b, shared_grams, dist FROM verified
"""
)
