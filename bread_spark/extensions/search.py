"""Full-text relevance search over the ``documents`` table.

BM25 — the standard probabilistic ranking function (Robertson/Sparck
Jones; the default scorer in Lucene/Elasticsearch) — expressed as pure
DataFrame aggregates over an inverted-index shape:

    score(d, q) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1)
                             / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    idf(t) = ln((N − df(t) + 0.5) / (df(t) + 0.5) + 1)

Every factor is a count ratio, so the whole scorer is engine-agnostic
and DuckDB-oracle-checkable. No text scoring library, no UDF.

Scale shape: the query-term filter lands on the exploded token stream
BEFORE any aggregate, so only postings for query terms ever shuffle —
the classic inverted-index probe. Per-doc lengths and the global avgdl
come from the token-array size at scan time (no second explode). The
df/idf table is |q| rows → broadcast; per-doc lengths join the matched
postings on doc_id (both sides doc_id-keyed; the matched set is tiny
relative to the corpus). Final top-n is TakeOrderedAndProject — no
global sort materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import split_tokens
from ..io import load_table

BM25_K1 = 1.2
BM25_B = 0.75
# Deterministic fixed query (terms present in the synthetic corpus) —
# the catalog/oracle probe; `bm25_search_df` takes any term list.
BM25_QUERY = ("spark", "hash", "window")
BM25_TOP_N = 20


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: BM25 top-N documents for the fixed probe query."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_search_df(docs, list(BM25_QUERY), BM25_TOP_N)


def _bm25(docs: DataFrame, terms: list[str]) -> tuple[DataFrame, DataFrame]:
    """(per_doc, scores) — the BM25 builder both search entries share.

    The per-doc frame (doc_id, dl, query-term matches) is built in ONE
    pass over the text and materialized (localCheckpoint) — the corpus
    stats, the tf/df tables, and the scoring join all derive from it,
    and without materialization each derivation re-scans the text
    (their exchange keys differ, so ReusedExchange never fires; same
    defect class the test_plans.py audit caught on the KL metric). At
    100 TB this frame is the stored per-document index row. `scores` is
    (doc_id, score) for every doc with a query-term match, rounded 4.
    """
    toks_arr = split_tokens()
    per_doc = docs.select(
        "doc_id",
        F.size(toks_arr).alias("dl"),
        F.filter(toks_arr, lambda t: t.isin(list(terms))).alias("matches"),
    ).localCheckpoint()
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        per_doc.select("doc_id", F.explode("matches").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = dfs.join(F.broadcast(stats)).select(
        "token",
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    scores = (
        tf.join(F.broadcast(idf), "token")
        .join(per_doc.select("doc_id", "dl"), "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1 * (1 - BM25_B + BM25_B * (F.col("dl") / F.col("avgdl")))
                )
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("score"))
    )
    return per_doc, scores


def bm25_search_df(
    docs: DataFrame, terms: list[str], top_n: int = BM25_TOP_N
) -> DataFrame:
    """BM25 top-`top_n` over any (doc_id, text) frame for the given
    query terms (`_bm25` builds the scores)."""
    _, scores = _bm25(docs, terms)
    return scores.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        top_n
    )


TFIDF_TOP_K = 5  # keywords kept per document


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF — the keyword-
    extraction pass feeding tagging/clustering/search-index pipelines.

        tfidf(t, d) = tf(t,d) · ln(N / df(t))

    Plan: one groupBy(doc_id, token) for tf; df(t) reduces the tf table
    again (token-keyed, counts only); idf joins back on token (broadcast
    here — shuffle join keyed on token at real vocab sizes, both sides
    already token-partitioned); top-k is a per-doc rank window, pruned
    by WindowGroupLimit before any sort materializes the full term list.
    Deterministic: score rounded to 4dp, ties broken by token asc.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_keywords_df(docs)


def tfidf_keywords_df(docs: DataFrame) -> DataFrame:
    """`tfidf_keywords` core over any (doc_id, text) frame."""
    from pyspark.sql.window import Window as W

    toks = docs.select(
        "doc_id",
        F.explode(split_tokens()).alias("token"),
    )
    # tf feeds BOTH the df reduction and the scoring join — materialize
    # it so the scan→explode→aggregate subtree runs once (the derived
    # exchange keys differ, so ReusedExchange never fires; the stored tf
    # table is exactly what a deployed index keeps anyway)
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfs = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = dfs.join(F.broadcast(n_docs)).select(
        "token", F.log(F.col("n_docs") / F.col("df")).alias("idf")
    )
    scored = tf.join(F.broadcast(idf), "token").select(
        "doc_id",
        "token",
        F.round(F.col("tf") * F.col("idf"), 4).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Positional search: exact phrase + bounded proximity
# ---------------------------------------------------------------------------

# Deterministic fixed probes (both words present in the synthetic
# corpus) — the catalog/oracle anchors; the _df kernels take any pair.
PHRASE = ("table", "scan")
PROX_WINDOW = 5  # "w2 within ≤5 positions AFTER w1"


def _positional_postings(docs: DataFrame, words: tuple[str, str]) -> DataFrame:
    """(doc_id, pos, token) for ONLY the probe words — the positional
    inverted-index rows a phrase query touches. The word filter runs
    map-side on the exploded stream, so nothing else ever shuffles
    (the bm25 probe discipline); positions are 0-based ordinals AFTER
    empty-token filtering, identical to the oracle's
    generate_subscripts − 1."""
    return docs.select(
        "doc_id",
        F.posexplode(split_tokens()).alias("pos", "token"),
    ).filter(F.col("token").isin(*words))


def phrase_match_df(
    docs: DataFrame, words: tuple[str, str] = PHRASE, max_gap: int = 1
) -> DataFrame:
    """(doc_id, n_matches, first_pos) — docs containing `words[1]`
    exactly `max_gap=1` position after `words[0]` (an exact bigram
    phrase), or within ≤max_gap positions for the proximity form.

    The adjacency join is EQUI at any gap bound: the left posting
    explodes offsets 1..max_gap (bounded fan-out, the rolling-window
    trick), so candidates meet on (doc, exact position) — no range
    join, no nested loop. Both join keys renamed (DECISIONS #18).

    Scale shape: postings are pre-filtered to the two probe words
    map-side; the fan-out is ≤max_gap× the (tiny) left posting list;
    one keyed join + one groupBy(doc_id). The classic positional-index
    probe a search engine runs, in DataFrame form."""
    p = _positional_postings(docs, words)
    a = (
        p.filter(F.col("token") == words[0])
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("pos").alias("pos_a"),
            F.explode(F.sequence(F.lit(1), F.lit(max_gap))).alias("off"),
        )
        .select("doc_a", "pos_a", (F.col("pos_a") + F.col("off")).alias("pos_hit"))
    )
    b = p.filter(F.col("token") == words[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    return (
        a.join(
            b,
            (F.col("doc_a") == F.col("doc_b"))
            & (F.col("pos_hit") == F.col("pos_b")),
        )
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("pos_a").cast("long").alias("first_pos"),
        )
    )


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: exact-phrase ("table scan") match table —
    (doc_id, n_matches, first_pos)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_match_df(docs, PHRASE, max_gap=1)


def proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: bounded-proximity co-occurrence — "scan" within
    ≤PROX_WINDOW positions after "table"; same kernel, wider gap."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_match_df(docs, PHRASE, max_gap=PROX_WINDOW)


_terms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY)


def _positional_sql(max_gap: int) -> str:
    w1, w2 = PHRASE
    return f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    p AS (
        SELECT doc_id, unnest(toks) AS token,
               generate_subscripts(toks, 1) - 1 AS pos
        FROM t
    ),
    a AS (SELECT doc_id, pos FROM p WHERE token = '{w1}'),
    b AS (SELECT doc_id, pos FROM p WHERE token = '{w2}')
    SELECT a.doc_id,
           COUNT(1) AS n_matches,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM a
    JOIN b ON b.doc_id = a.doc_id
          AND b.pos BETWEEN a.pos + 1 AND a.pos + {max_gap}
    GROUP BY a.doc_id
"""




# Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009): combine the
# family's rankers without score calibration. Contributions are EXACT
# integers — 1e12 div (60 + rank) — so the fused ordering is an
# all-integer total order and the top-k cut is engine-deterministic
# (the member rankers' own rounded-score orderings are the certified
# ones they already ship).
RRF_K = 60
RRF_SCALE = 1_000_000_000_000
FUSION_TOP_N = 20


def search_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: RRF fusion of three lexical rankers (BM25,
    raw query-term frequency, query-term coverage) for the fixed
    probe query. (doc_id, rrf_score, n_systems)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return search_rank_fusion_df(docs, list(BM25_QUERY), FUSION_TOP_N)


def search_rank_fusion_df(
    docs: DataFrame, terms: list[str], top_n: int = FUSION_TOP_N
) -> DataFrame:
    """RRF over any (doc_id, text) frame.

    Member rankers, each with a fully deterministic total order:
      1. BM25 top-n (certified rounded-score ordering, doc_id ties);
      2. raw matched-term frequency (tf_total DESC, doc_id);
      3. distinct-query-term coverage (coverage DESC, dl ASC, doc_id)
         — the "matches all the words, concisely" heuristic.

    Scale shape: each ranker cuts to its top-n FIRST (TakeOrdered);
    every single-partition row_number window then runs on a ≤top_n-row
    frame — bounded by construction (the `source_concentration`
    precedent). The fusion aggregate is O(3·top_n) rows.
    """
    from pyspark.sql.window import Window

    # r14 (VERDICT r13 #5, guide §2.4): ONE document scan feeds every
    # ranker — `_bm25`'s checkpointed per-doc length+matches frame also
    # carries the term-frequency and coverage rankers' inputs.
    per_doc, bm_scores = _bm25(docs, terms)

    # The matched-doc multi-score frame every ranker cuts from. Rank
    # positions feed the RRF sums, so every rank key lives on the exact
    # integer lattice (float-discipline rule for RANKED values, r10
    # ADVICE): score_q = ×1e4 bigint of the already-rounded-4 BM25
    # score — identical order, engine-stable by construction. Bounded:
    # only docs containing ≥1 query term survive (the query's posting
    # list union), 5 narrow columns; checkpointed because THREE top-n
    # cuts read it.
    scores = (
        per_doc.select(
            "doc_id",
            "dl",
            F.size("matches").alias("tf_total"),
            F.size(F.array_distinct("matches")).alias("coverage"),
        )
        .filter(F.col("tf_total") > 0)
        .join(bm_scores, "doc_id")
        .select(
            "doc_id",
            "dl",
            "tf_total",
            "coverage",
            F.expr("CAST(ROUND(score * 10000) AS BIGINT)").alias("score_q"),
        )
        .localCheckpoint()
    )

    # Per-ranker top-n cuts stay DISTRIBUTED TakeOrdered jobs (bounded
    # driver merge, no global sort); the three single-partition
    # row_number windows they fed collapse into ONE tagged window pass
    # over the ≤3·top_n-row union — 3 window exchanges → 1. Sort keys
    # are encoded as ascending (k1, k2, doc_id) per ranker:
    #   1 BM25:      (−score_q, 0)          ≡ score_q DESC
    #   2 term freq: (−tf_total, 0)         ≡ tf_total DESC
    #   3 coverage:  (−coverage, dl)        ≡ coverage DESC, dl ASC
    t1 = (
        scores.orderBy(F.desc("score_q"), F.asc("doc_id"))
        .limit(top_n)
        .select(
            F.lit(1).alias("ranker"),
            (-F.col("score_q")).alias("k1"),
            F.lit(0).cast("long").alias("k2"),
            "doc_id",
        )
    )
    t2 = (
        scores.orderBy(F.desc("tf_total"), F.asc("doc_id"))
        .limit(top_n)
        .select(
            F.lit(2).alias("ranker"),
            (-F.col("tf_total")).cast("long").alias("k1"),
            F.lit(0).cast("long").alias("k2"),
            "doc_id",
        )
    )
    t3 = (
        scores.orderBy(F.desc("coverage"), F.asc("dl"), F.asc("doc_id"))
        .limit(top_n)
        .select(
            F.lit(3).alias("ranker"),
            (-F.col("coverage")).cast("long").alias("k1"),
            F.col("dl").cast("long").alias("k2"),
            "doc_id",
        )
    )
    w = Window.partitionBy("ranker").orderBy(
        F.asc("k1"), F.asc("k2"), F.asc("doc_id")
    )
    fused = (
        t1.unionByName(t2)
        .unionByName(t3)
        .select("doc_id", F.row_number().over(w).alias("rank"))
        .select(
            "doc_id",
            F.expr(f"CAST({RRF_SCALE} div ({RRF_K} + rank) AS BIGINT)").alias(
                "contrib"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("contrib").alias("rrf_score"),
            F.count(F.lit(1)).alias("n_systems"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(top_n)




SNIPPET_RADIUS = 2  # tokens kept each side of the first hit
SNIPPET_TOP_N = 20
_NO_HIT = 1_000_000_000  # sentinel: "term absent" sorts last, then drops


def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: keyword-in-context snippets for the fixed probe
    query — (doc_id, first_pos, snippet), the docs whose first query
    hit comes earliest. The presentation half of the search family:
    BM25 ranks, this extracts what the user sees."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return search_snippets_df(docs, list(BM25_QUERY), SNIPPET_TOP_N)


def search_snippets_df(
    docs: DataFrame, terms: list[str], top_n: int = SNIPPET_TOP_N
) -> DataFrame:
    """KWIC over any (doc_id, text) frame: first_pos = the earliest
    1-based token position of ANY query term (array_position per term,
    0→absent normalized to a large sentinel, LEAST across terms);
    snippet = the +-SNIPPET_RADIUS token window around it, truncated
    at document edges identically on both engines (Spark slice(start,
    len) vs DuckDB list_slice(start, start+len-1)). Everything is one
    map-side projection over the token array — no explode, no join;
    the top-n cut is (first_pos, doc_id), an all-integer total
    order."""
    width = 2 * SNIPPET_RADIUS + 1
    per = docs.select("doc_id", split_tokens().alias("toks"))
    pos = F.least(
        *[
            F.coalesce(
                F.expr(f"NULLIF(array_position(toks, '{t}'), 0)"),
                F.lit(_NO_HIT),
            )
            for t in terms
        ]
    )
    m = per.select("doc_id", pos.alias("first_pos"), "toks").filter(
        F.col("first_pos") < _NO_HIT
    )
    return (
        m.select(
            "doc_id",
            "first_pos",
            F.expr(
                f"array_join(slice(toks, greatest(1, first_pos - {SNIPPET_RADIUS}),"
                f" {width}), ' ')"
            ).alias("snippet"),
        )
        .orderBy(F.asc("first_pos"), F.asc("doc_id"))
        .limit(top_n)
    )


ORACLE_SQL: dict[str, str] = {
    "phrase_search": _positional_sql(1),
    "proximity_search": _positional_sql(PROX_WINDOW),
    "tfidf_keywords": f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                              t -> t <> '')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, COUNT(1) AS tf FROM toks
            GROUP BY doc_id, token
        ),
        n AS (SELECT COUNT(1) AS n_docs FROM documents),
        dfs AS (SELECT token, COUNT(1) AS df FROM tf GROUP BY token),
        scored AS (
            SELECT tf.doc_id, tf.token,
                   ROUND(tf.tf * ln(n.n_docs / dfs.df), 4) AS tfidf
            FROM tf JOIN dfs USING (token) CROSS JOIN n
        )
        SELECT doc_id, token, tfidf, rank FROM (
            SELECT doc_id, token, tfidf,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, token ASC) AS rank
            FROM scored
        ) WHERE rank <= {TFIDF_TOP_K}
    """,
    "search_rank_fusion": f"""
        WITH lens AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
            FROM documents
        ),
        stats AS (SELECT COUNT(1) AS n_docs, AVG(dl) AS avgdl FROM lens),
        toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                              t -> t <> '')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, COUNT(1) AS tf FROM toks
            WHERE token IN ({_terms_sql})
            GROUP BY doc_id, token
        ),
        dfs AS (SELECT token, COUNT(1) AS df FROM tf GROUP BY token),
        idf AS (
            SELECT token, ln((s.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
            FROM dfs CROSS JOIN stats s
        ),
        bm AS (
            SELECT tf.doc_id,
                   ROUND(SUM(idf.idf * (tf.tf * ({BM25_K1} + 1))
                             / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                                + {BM25_B} * (lens.dl / s.avgdl)))), 4) AS score
            FROM tf
            JOIN idf USING (token)
            JOIN lens USING (doc_id)
            CROSS JOIN stats s
            GROUP BY tf.doc_id
            ORDER BY score DESC, tf.doc_id ASC
            LIMIT {FUSION_TOP_N}
        ),
        r1 AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER
                       (ORDER BY CAST(ROUND(score * 10000) AS BIGINT) DESC,
                        doc_id) AS rank
            FROM bm
        ),
        m AS (
            SELECT t.doc_id,
                   COUNT(*) AS tf_total,
                   COUNT(DISTINCT t.token) AS coverage,
                   ANY_VALUE(lens.dl) AS dl
            FROM toks t
            JOIN lens ON t.doc_id = lens.doc_id
            WHERE t.token IN ({_terms_sql})
            GROUP BY t.doc_id
        ),
        r2 AS (
            SELECT doc_id, rank FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY tf_total DESC, doc_id)
                           AS rank
                FROM m
            ) WHERE rank <= {FUSION_TOP_N}
        ),
        r3 AS (
            SELECT doc_id, rank FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER
                           (ORDER BY coverage DESC, dl ASC, doc_id) AS rank
                FROM m
            ) WHERE rank <= {FUSION_TOP_N}
        ),
        unioned AS (
            SELECT doc_id, rank FROM r1
            UNION ALL SELECT doc_id, rank FROM r2
            UNION ALL SELECT doc_id, rank FROM r3
        )
        SELECT doc_id,
               CAST(SUM({RRF_SCALE} // ({RRF_K} + rank)) AS BIGINT)
                   AS rrf_score,
               COUNT(*) AS n_systems
        FROM unioned
        GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id ASC
        LIMIT {FUSION_TOP_N}
    """,
    "search_snippets": f"""
        WITH per AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        ),
        m AS (
            SELECT doc_id, toks,
                   LEAST(
                       COALESCE(NULLIF(list_position(toks, 'spark'), 0),
                                {_NO_HIT}),
                       COALESCE(NULLIF(list_position(toks, 'hash'), 0),
                                {_NO_HIT}),
                       COALESCE(NULLIF(list_position(toks, 'window'), 0),
                                {_NO_HIT})) AS first_pos
            FROM per
        )
        SELECT doc_id, first_pos,
               array_to_string(
                   list_slice(toks,
                              greatest(1, first_pos - {SNIPPET_RADIUS}),
                              greatest(1, first_pos - {SNIPPET_RADIUS})
                                  + {2 * SNIPPET_RADIUS}), ' ') AS snippet
        FROM m
        WHERE first_pos < {_NO_HIT}
        ORDER BY first_pos, doc_id
        LIMIT {SNIPPET_TOP_N}
    """,
    "bm25_search": f"""
        WITH lens AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
            FROM documents
        ),
        stats AS (SELECT COUNT(1) AS n_docs, AVG(dl) AS avgdl FROM lens),
        toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                              t -> t <> '')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, COUNT(1) AS tf FROM toks
            WHERE token IN ({_terms_sql})
            GROUP BY doc_id, token
        ),
        dfs AS (SELECT token, COUNT(1) AS df FROM tf GROUP BY token),
        idf AS (
            SELECT token, ln((s.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
            FROM dfs CROSS JOIN stats s
        )
        SELECT tf.doc_id,
               ROUND(SUM(idf.idf * (tf.tf * ({BM25_K1} + 1))
                         / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                            + {BM25_B} * (lens.dl / s.avgdl)))), 4) AS score
        FROM tf
        JOIN idf USING (token)
        JOIN lens USING (doc_id)
        CROSS JOIN stats s
        GROUP BY tf.doc_id
        ORDER BY score DESC, tf.doc_id ASC
        LIMIT {BM25_TOP_N}
    """,
}
