"""Corpus cartography: pairwise cosine similarity between per-source
embedding centroids.

Mixture design (`corpus_mix`, `temperature_mix_weights`) treats
sources as independent pools; this entry measures where that
assumption breaks — two sources whose centroids are near-parallel are
substantially the same distribution, and their quotas should be set
jointly (or one dropped). The per-source KL drift entry compares
TOKEN distributions; this is its embedding-space sibling, pairwise
over sources instead of source-vs-corpus.

Exactness: cosine is scale-invariant, so the centroid cosine equals
the cosine between per-source SUM vectors — and sums of
micro-quantized components (round(v·1e6) → bigint, the silhouette
family's lattice) are EXACT integers. Dot products and squared norms
accumulate as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — products of
two sums reach ~1e17 at test scale and overflow int64 at corpus
scale, the exact trap DECISIONS #12/#16 exist for. Only the final
cosine = dot / sqrt(n1·n2) is a double, rounded 4 (non-ranked, the
repo float policy).

Scale shape: one posexplode pass → (source, pos) integer sums — a
sources×64-row table at ANY corpus size — then the pairwise stage
joins that tiny table with itself on pos (s1 < s2 keeps each pair
once) and reduces per pair: O(sources²·d) work on an
input-size-independent frame. The embedding→source attachment is a
doc_id-keyed join (vec_id aliases doc_id, the similarity-family
convention). No collect, no broadcast of anything unbounded.

Streaming: the sufficient statistic (per-source component sums +
counts) maintains itself as ONE grouped streaming aggregation; the
O(sources²) cosine matrix is
the batch snapshot read of that state (`source_sums_df` on a
streaming frame; tests/test_streaming_source_sim.py pins the fold and
the snapshot→batch-scorer identity)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table


def source_sums_df(emb_with_source: DataFrame) -> DataFrame:
    """(source, pos, s, n) — exact integer component sums + vector
    counts from a (source, embedding) frame."""
    return (
        emb_with_source.select(
            "source", F.posexplode("embedding").alias("pos", "v")
        )
        .select(
            "source",
            "pos",
            # float→double BEFORE the multiply, the silhouette-family
            # convention — both engines then quantize the identical double
            F.round(F.col("v").cast("double") * 1_000_000)
            .cast("long")
            .alias("vu"),
        )
        .groupBy("source", "pos")
        .agg(
            F.sum("vu").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def similarity_matrix_df(sums: DataFrame) -> DataFrame:
    """Pairwise centroid cosines from the (source, pos, s, n) table."""
    # self-join: rename BOTH join keys (a bare shared "pos" resolves
    # ambiguously when `sums` is a plain view, e.g. a streaming snapshot)
    a = sums.select(
        F.col("source").alias("source_a"),
        F.col("pos").alias("pos_a"),
        F.col("s").alias("sa"),
    )
    b = sums.select(
        F.col("source").alias("source_b"),
        F.col("pos").alias("pos_b"),
        F.col("s").alias("sb"),
    )
    dec = "decimal(38,0)"
    pair = (
        a.join(b, F.col("pos_a") == F.col("pos_b"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                (F.col("sa").cast(dec) * F.col("sb").cast(dec))
            ).alias("dot"),
        )
    )
    norms = sums.groupBy("source").agg(
        F.sum(F.col("s").cast(dec) * F.col("s").cast(dec)).alias("nsq")
    )
    na = norms.select(
        F.col("source").alias("source_a"), F.col("nsq").alias("nsq_a")
    )
    nb = norms.select(
        F.col("source").alias("source_b"), F.col("nsq").alias("nsq_b")
    )
    return (
        pair.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("nsq_a").cast("double") * F.col("nsq_b").cast("double")
                ),
                4,
            ).alias("cosine"),
        )
    )


def source_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise per-source centroid cosines (module docstring):
    (source_a, source_b, cosine), each unordered pair once."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = emb.join(
        docs, emb["vec_id"] == docs["doc_id"]
    ).select("source", "embedding")
    return similarity_matrix_df(source_sums_df(joined))


ORACLE_SQL: dict[str, str] = {
    "source_similarity_matrix": """
    WITH ev AS MATERIALIZED (
        SELECT d.source, e.embedding
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ),
    comps AS MATERIALIZED (
        SELECT source,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS vu
        FROM ev
    ),
    sums AS MATERIALIZED (
        SELECT source, pos, SUM(vu) AS s FROM comps GROUP BY source, pos
    ),
    norms AS MATERIALIZED (
        SELECT source, SUM(s * s) AS nsq FROM sums GROUP BY source
    ),
    pairs AS MATERIALIZED (
        SELECT a.source AS source_a, b.source AS source_b,
               SUM(a.s * b.s) AS dot
        FROM sums a JOIN sums b ON a.pos = b.pos AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           ROUND(CAST(p.dot AS DOUBLE)
                 / sqrt(CAST(na.nsq AS DOUBLE) * CAST(nb.nsq AS DOUBLE)),
                 4) AS cosine
    FROM pairs p
    JOIN norms na ON na.source = p.source_a
    JOIN norms nb ON nb.source = p.source_b
""",
}
