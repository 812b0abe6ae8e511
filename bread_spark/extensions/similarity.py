"""Similarity search over the ``embeddings`` table (array<float> column).

- brute-force cosine top-k: the exact baseline. All math is JVM-side
  (`zip_with` + `aggregate` in double precision, left-to-right summation —
  deterministic and identical to DuckDB's sequential list fold, so it
  hash-matches an oracle).
- LSH-bucketed ANN (random hyperplane signatures): the scale path. Buckets
  bound the candidate set; signature is engine-specific → rows-only check.

Scale: brute force is O(Q·N) dot products — fine when Q is small or as a
final re-rank; the hyperplane LSH turns it into O(Q·bucket) with a
broadcast of the (tiny) query set either way.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..plans.materialize import materialized_frame, register_side_cache

TOP_K = 5
N_QUERIES = 10  # queries = vec_id < 10 (deterministic subset)

_QUERY_SCHEMA = "query_id long, vec_id long, cosine double"
_PAIR_SCHEMA = "vec_a long, vec_b long, cosine double"


def _dot(a: str, b: str):
    """Double-precision dot product of two float arrays, JVM-side.

    `aggregate` folds left-to-right — same order DuckDB's list_dot_product
    uses, so cross-engine results agree to the last ulp on 64-dim vectors.
    """
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


# ---------------------------------------------------------------------------
# The shared cosine kernel: every BLAS scorer below is built from these
# steps, so all of them normalize, score and round in one op order and
# their rounded scores agree bit-for-bit.
# ---------------------------------------------------------------------------


def _unit(vectors):
    """float64 unit rows of an embedding batch: a / ‖a‖₂ per row (an
    empty batch stays empty)."""
    import numpy as np

    a = np.array(vectors, dtype=np.float64)
    return a / np.linalg.norm(a, axis=-1, keepdims=True)


def _bounded_side(side: DataFrame):
    """(ids, unit) of a side that is small BY CONSTRUCTION (a query set,
    a probe suite, the broadcast corpus of the small-corpus kernel),
    collected to the driver for a broadcast."""
    import numpy as np

    rows = side.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    return ids, _unit([r["embedding"] for r in rows])


def _batches(fn):
    """mapInPandas kernel applying `fn` to every non-empty Arrow batch."""

    def kernel(it):
        for pdf in it:
            if len(pdf):
                yield fn(pdf)

    return kernel


def _ids_unit(pdf):
    """(ids, unit) of one pandas batch of (vec_id, embedding) rows."""
    import numpy as np

    return pdf["vec_id"].to_numpy(dtype=np.int64), _unit(pdf["embedding"].tolist())


def _pairs_above(ids_a, ua, ids_b, ub, threshold: float, upper: bool):
    """Above-threshold pairs of one BLAS block, oriented vec_a < vec_b.

    Scores round to 4 decimals — wide enough that BLAS vs sequential-fold
    summation-order differences (~1e-15) can't flip a rounding boundary,
    so results stay engine-deterministic and oracle-checkable. `upper`
    keeps only ids_a < ids_b (the sides overlap, so each pair shows up
    twice); with disjoint sides every unordered pair appears exactly once
    and is kept in either orientation."""
    import numpy as np
    import pandas as pd

    scores = np.round(ua @ ub.T, 4)
    keep = scores >= threshold
    if upper:
        keep &= ids_a[:, None] < ids_b[None, :]
    ia, ib = np.nonzero(keep)
    xa, xb = ids_a[ia], ids_b[ib]
    return pd.DataFrame(
        {"vec_a": np.minimum(xa, xb), "vec_b": np.maximum(xa, xb), "cosine": scores[ia, ib]}
    )


def _top_k(scored: DataFrame) -> DataFrame:
    """Per-query TOP_K of (query_id, vec_id, cosine): rounded score DESC,
    vec_id ASC, so ranks are engine-deterministic. The shuffle moves only
    scored candidates, and WindowGroupLimit prunes to k per partition
    before the exchange (asserted in tests/test_plans.py)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def _query_topk(spark: SparkSession, sf_dir: str, candidates=None) -> DataFrame:
    """Top-k cosine neighbors of each query vector (vec_id < N_QUERIES).

    The tiny query set rides a broadcast as a unit-normalized float64
    matrix; each mapInPandas batch scores corpus-batch × queries with one
    BLAS matmul (the JVM higher-order-fold version was ~40× slower) and
    rounds to 6 decimals. `candidates(a_unit, q_unit)` narrows the
    (corpus, query) pairs that are kept; self-pairs never are."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = spark.sparkContext.broadcast(
        _bounded_side(emb.filter(F.col("vec_id") < N_QUERIES))
    )

    def score(pdf):
        q_ids, q_unit = bc.value
        a_ids, a_unit = _ids_unit(pdf)
        keep = a_ids[:, None] != q_ids[None, :]
        if candidates is not None:
            keep &= candidates(a_unit, q_unit)
        cos = np.round(a_unit @ q_unit.T, 6)  # corpus_batch × queries
        ic, iq = np.nonzero(keep)
        return pd.DataFrame(
            {"query_id": q_ids[iq], "vec_id": a_ids[ic], "cosine": cos[ic, iq]}
        )

    return _top_k(emb.mapInPandas(_batches(score), _QUERY_SCHEMA))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (vec_id < N_QUERIES).

    Scale: scoring is map-side only; the shuffle moves just
    N_QUERIES × corpus candidate rows before the per-query window.
    """
    return _query_topk(spark, sf_dir)


def centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension).

    posexplode → (label, pos) mean. At scale this is a single shuffle on
    label×64 keys; the alternative (aggregate arrays elementwise) avoids
    the explode but loses map-side partial aggregation — explode wins.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


DRIFT_SCALE = 1_000_000  # per-dimension micro-units (6 decimals)


def centroid_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: the L2 distance between each
    label's centroid and the corpus centroid (inputs micro-quantized to
    6 decimals), with the label's vector count — the dashboard number
    that says "this source/topic moved" before any downstream model
    notices (the embedding-space analog of `source_kl_divergence`).

    Determinism: every SUM over data rows is an exact integer sum — each
    value is quantized to micro-units map-side, so partial-aggregation
    merge order can't move any result (a first cut used round(avg, 6),
    whose float sum order occasionally flipped a rounding boundary
    between suite runs). The per-dimension deviation delta = m·N − g·n
    is exact DECIMAL(38,0); it is then normalized to a double per
    dimension (single cast + divide on exact operands — no squared-
    integer overflow at any scale) and the 64 squared deviations sum via
    the repo's sequential fold, the same left-to-right order as DuckDB's
    list_dot_product, so even that float sum is order-deterministic.

    Plan: one posexplode pass → (label, pos) integer sums → per-pos
    totals over that tiny frame → broadcast join back and a 64-row
    per-label aggregate. Everything after the first aggregate is
    dashboard-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r13 note: `per` feeds both the grand-total aggregate and the
    # join-back, so the posexplode pass plans twice; checkpointing it
    # was built and REJECTED on measurement (eager-checkpoint round-trip
    # > the second pass at bench scale, 5-pass A/B). At petabyte inputs
    # the trade flips — that form is `.localCheckpoint()` on `per`.
    per = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.sum(
                F.round(F.col("v").cast("double") * DRIFT_SCALE).cast("long")
            ).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    grand = per.groupBy("pos").agg(
        F.sum("m").alias("g"), F.sum("n").alias("total_n")
    )
    dec = "decimal(38,0)"
    delta = F.col("m").cast(dec) * F.col("total_n") - F.col("g").cast(dec) * F.col("n")
    dev = delta.cast("double") / (
        F.col("n").cast("double")
        * F.col("total_n").cast("double")
        * F.lit(float(DRIFT_SCALE))
    )
    return (
        per.join(F.broadcast(grand), "pos")
        .select("label", "pos", "n", dev.alias("dev"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, dev))), s -> s.dev)"
            ).alias("devs"),
            F.max("n").alias("n_vectors"),
        )
        .select(
            "label",
            F.round(
                F.sqrt(
                    F.expr(
                        "aggregate(zip_with(devs, devs, (x, y) -> x * y), "
                        "cast(0.0 as double), (acc, v) -> acc + v)"
                    )
                ),
                6,
            ).alias("l2_drift"),
            "n_vectors",
        )
    )


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding column:
    scale_d = max(|x_d|) over the corpus, q = round(127·x/scale_d) ∈
    [-127, 127] (0 where a dimension is identically zero). The standard
    4× memory/bandwidth cut for billion-vector ANN at 100 TB — quantized
    vectors ride the same LSH/IVF bucket plans with int8 dot products.

    Plan: posexplode → 64-key max-abs aggregate (map-side partials) →
    the 64 scales fold into ONE row (a broadcast array) → the quantize
    itself is a map-side in-array transform. No driver collect; the only
    shuffle is the 64-key aggregate.

    Deterministic across engines: float32→float64 widening is exact,
    max/divide are IEEE-identical, and both Spark's round (HALF_UP) and
    DuckDB's round() break .5 away from zero.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = emb.select(F.posexplode("embedding").alias("dim", "val"))
    scales = dims.groupBy("dim").agg(
        F.max(F.abs(F.col("val").cast("double"))).alias("scale")
    )
    svec = scales.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(dim, scale))), s -> s.scale)"
        ).alias("scales")
    )
    return emb.join(F.broadcast(svec)).select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN scales[i] = 0D THEN 0 "
            "ELSE CAST(round(127.0D * CAST(x AS DOUBLE) / scales[i]) AS INT) END)"
        ).alias("q"),
    )


def quantize_embeddings_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog form of `quantize_embeddings`: posexplode the int8 vector to
    scalar rows (vec_id, dim, q) so every value is hashable by the driver's
    pandas-level comparator (array cells raise `unhashable type: 'list'` in
    pandas factorize). Certifies exactly the same values — one row per
    (vector, dimension) instead of one array per vector. The array form
    remains the engine API consumed by the quantized-ANN path.
    """
    return quantize_embeddings(spark, sf_dir).select(
        "vec_id",
        F.posexplode("q").alias("dim", "q"),
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.col("q").cast("long").alias("q"),
    )


PROJ_IN_DIMS = 64
PROJ_OUT_DIMS = 16  # perfect square → 1/sqrt(k) = 0.25, exact in FP


def _projection_sign(i: int, j: int) -> float:
    """Deterministic ±1 entry of the sparse-random-projection matrix
    (Achlioptas 2003: a Rademacher matrix satisfies the JL lemma): the
    parity of md5(\"i:j\")'s first hex digit. Hash-derived so DuckDB can
    regenerate the identical matrix from SQL — no RNG, no state."""
    import hashlib

    return 1.0 if hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0] in "02468ace" else -1.0


def projection_sign_arrays() -> list[list[float]]:
    """Column-major sign matrix: one length-PROJ_IN_DIMS list per output dim."""
    return [
        [_projection_sign(i, j) for i in range(PROJ_IN_DIMS)]
        for j in range(PROJ_OUT_DIMS)
    ]


def project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: 64-dim float
    embeddings → 16-dim via a deterministic Rademacher (±1) projection,
    scaled 1/sqrt(k) so expected squared distances are preserved. The
    standard pre-ANN cost cut at 100 TB — a 4× smaller vector rides every
    downstream bucket/top-k plan, and the JL bound keeps neighbor
    structure (distortion ~sqrt(log n / k)).

    Plan: the sign matrix is a COMPILE-TIME literal (1024 doubles folded
    into the expression tree) — the projection is a pure map-side
    `aggregate(zip_with(...))` fold per output dim, zero shuffle, no
    broadcast, whole-stage codegen. Each fold runs left-to-right, the
    same order as DuckDB's list_dot_product, so cross-engine values agree
    to the last ulp before the final ROUND. Output is scalar rows
    (vec_id, out_dim, proj_val) — driver-hashable, same posture as
    `quantize_embeddings_rows`.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    inv_sqrt_k = 1.0 / (PROJ_OUT_DIMS**0.5)  # 0.25 — exact
    projs = []
    for signs in projection_sign_arrays():
        arr = "array(" + ", ".join(f"{s:.1f}D" for s in signs) + ")"
        # + 0.0 folds IEEE -0.0 to +0.0 (engines disagree on the sign of a
        # rounded-away-to-zero negative; the sum is exact either way)
        projs.append(
            F.round(_dot("embedding", arr) * F.lit(inv_sqrt_k), 4) + F.lit(0.0)
        )
    return (
        emb.select("vec_id", F.array(*projs).alias("p"))
        .select("vec_id", F.posexplode("p").alias("out_dim", "proj_val"))
        .select(
            "vec_id",
            F.col("out_dim").cast("long").alias("out_dim"),
            "proj_val",
        )
    )


COSINE_DUP_THRESHOLD = 0.35  # synthetic corpus: pairwise cosine tops out ~0.6


def embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b) with cosine ≥
    COSINE_DUP_THRESHOLD.

    Vectorized brute force: the corpus rides a Spark broadcast as one
    unit-normalized float64 matrix; each mapInPandas batch computes its
    block of the similarity matrix with a single BLAS matmul and emits only
    above-threshold pairs. No shuffle at all — scan → map → (tiny) result.

    A first cut expressed the dot products as JVM `aggregate()` folds over
    a pair join; higher-order-function lambdas are interpreted per element,
    which made the all-pairs score ~40× slower than DuckDB's vectorized
    list_dot_product. Arrow + numpy is the idiomatic fast path for dense
    math Spark's expression engine can't vectorize.

    Scale: the collect+broadcast holds to ~10M×64 float64 (~5 GB) and is
    the exact small-corpus/re-rank kernel; **at scale use
    `lsh_bucket_pairs`** — the fully distributed default (signature-
    bucketed candidate generation, no driver collect).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = spark.sparkContext.broadcast(_bounded_side(emb))  # see scale note above

    def block(pdf):
        ids, unit = bc.value
        return _pairs_above(*_ids_unit(pdf), ids, unit, COSINE_DUP_THRESHOLD, True)

    return emb.mapInPandas(_batches(block), _PAIR_SCHEMA)


COSINE_TILE_T = 8  # tiles for the distributed exact all-pairs kernel


def _tile_pair_blocks(emb: DataFrame, tiles: int, block, schema: str) -> DataFrame:
    """Blocked all-pairs over a (vec_id, ..., embedding) frame: vectors
    land in `tiles` tiles by vec_id; each vector is fanned out once per
    tile-PAIR containing its tile (an in-array transform + explode — T
    rows per vector, no join), and each (ta, tb) group calls
    `block(a, b)` once, each side as (rows, ids, unit). On the diagonal
    (ta == tb) `b` is `a` itself.

    Scale contract: executor memory is bounded by 2·(n/T) vectors per
    group — pick T so a tile fits (n/T ≈ 20k rows of float64[64] ≈ 10
    MB); shuffle volume is n·T rows. The T(T+1)/2 groups ARE the O(n²)
    cost made explicit and spread across the cluster."""
    cols = emb.columns
    fan = emb.select(
        *cols,
        F.pmod(F.col("vec_id"), F.lit(tiles)).alias("tile"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {tiles - 1}), u -> struct("
                f"least(pmod(vec_id, {tiles}), u) as ta, "
                f"greatest(pmod(vec_id, {tiles}), u) as tb))"
            )
        ).alias("p"),
    ).select(*cols, "tile", "p.ta", "p.tb")

    def split(key, pdf):
        import pandas as pd

        ta, tb = key
        sides = []
        for tile in (ta, tb) if ta != tb else (ta,):
            rows = pdf[pdf["tile"] == tile]
            if not len(rows):
                return pd.DataFrame()
            sides.append((rows, *_ids_unit(rows)))
        return block(sides[0], sides[-1])

    return fan.groupBy("ta", "tb").applyInPandas(split, schema)


def embedding_cosine_dups_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs with NO driver
    collect — the fully distributed form of `embedding_cosine_dups`
    (whose broadcast kernel caps at ~10M vectors). Same result set, same
    oracle.

    Each tile-pair group (`_tile_pair_blocks`) computes its block of the
    similarity matrix with one BLAS matmul, emitting only
    above-threshold pairs with vec_a < vec_b. Exact all-pairs is
    inherently quadratic, so at open-corpus scale the default remains
    `lsh_bucket_pairs` (candidates meet only inside signature buckets);
    this kernel is the exact path when completeness is non-negotiable
    (within-cluster refine, audit passes, modest n)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def block(a, b):
        # within a tile: upper triangle by id; across tiles every
        # unordered pair appears exactly once in A×B
        return _pairs_above(*a[1:], *b[1:], COSINE_DUP_THRESHOLD, a is b)

    return _tile_pair_blocks(emb, COSINE_TILE_T, block, _PAIR_SCHEMA)


ORACLE_SQL: dict[str, str] = {
    "quantize_embeddings": """
        WITH flat AS (
            SELECT e.vec_id, d.dim,
                   CAST(e.embedding[d.dim + 1] AS DOUBLE) AS val
            FROM embeddings e, LATERAL (
                SELECT unnest(range(len(e.embedding))) AS dim
            ) d
        ),
        dims AS (SELECT dim, MAX(ABS(val)) AS scale FROM flat GROUP BY dim)
        SELECT f.vec_id, f.dim,
               CASE WHEN s.scale = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(ROUND(127.0 * f.val / s.scale) AS BIGINT)
               END AS q
        FROM flat f JOIN dims s ON f.dim = s.dim
    """,
    "embedding_cosine_dups": f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(
                 list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                 4) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND(
                 list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                 4) >= {COSINE_DUP_THRESHOLD}
    """,
    "cosine_topk": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_emb
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   ROUND(
                     list_dot_product(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]) /
                     (sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[])) *
                      sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                     6) AS cosine
            FROM embeddings e JOIN q ON e.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    "centroid_by_label": """
        SELECT label, i - 1 AS pos,
               ROUND(AVG(embedding[i]::DOUBLE), 6) AS centroid_val
        FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i) t
        GROUP BY label, i - 1
    """,
}

ORACLE_SQL["centroid_drift_by_label"] = f"""
    WITH flat AS (
        SELECT e.label, d.pos, CAST(e.embedding[d.pos + 1] AS DOUBLE) AS v
        FROM embeddings e, LATERAL (
            SELECT unnest(range(len(e.embedding))) AS pos
        ) d
    ),
    per AS (
        SELECT label, pos,
               SUM(CAST(ROUND(v * {DRIFT_SCALE}) AS BIGINT)) AS m,
               COUNT(*) AS n
        FROM flat GROUP BY 1, 2
    ),
    grand AS (
        SELECT pos, SUM(m) AS g, SUM(n) AS total_n FROM per GROUP BY 1
    ),
    dev AS (
        SELECT per.label, per.n, per.pos,
               CAST(CAST(per.m AS HUGEINT) * grand.total_n
                    - CAST(grand.g AS HUGEINT) * per.n AS DOUBLE)
                 / (CAST(per.n AS DOUBLE) * CAST(grand.total_n AS DOUBLE)
                    * {DRIFT_SCALE}.0) AS dev
        FROM per JOIN grand USING (pos)
    )
    SELECT label,
           ROUND(SQRT(list_dot_product(list(dev ORDER BY pos),
                                       list(dev ORDER BY pos))), 6) AS l2_drift,
           MAX(n) AS n_vectors
    FROM dev GROUP BY label
"""

# Rebuilds the identical Rademacher matrix from md5 parity (the same
# "first hex digit of md5('i:j') even ⇒ +1" rule as `_projection_sign`),
# then takes the same sequential list_dot_product fold Spark's
# aggregate(zip_with) runs — ulp-identical before the shared ROUND.
ORACLE_SQL["project_embeddings"] = f"""
    WITH signs AS (
        SELECT j, list(CASE WHEN strpos('02468ace',
                                 substr(md5(CAST(i AS VARCHAR) || ':' ||
                                            CAST(j AS VARCHAR)), 1, 1)) > 0
                            THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE)
                       END ORDER BY i) AS svec
        FROM range({PROJ_IN_DIMS}) t1(i) CROSS JOIN range({PROJ_OUT_DIMS}) t2(j)
        GROUP BY j
    )
    SELECT e.vec_id, CAST(s.j AS BIGINT) AS out_dim,
           ROUND(list_dot_product(e.embedding::DOUBLE[], s.svec)
                 * {1.0 / PROJ_OUT_DIMS**0.5}, 4) + 0.0 AS proj_val
    FROM embeddings e CROSS JOIN signs s
"""


# ---------------------------------------------------------------------------
# Hyperplane-LSH ANN (scale path; rows-only check)
# ---------------------------------------------------------------------------

N_TABLES = 16  # independent hash tables — recall 1-(1-p^b)^L
N_PLANES_PER_TABLE = 6  # bucket bits per table (64 buckets/table)


@functools.lru_cache(maxsize=1)
def _plane_matrix():
    """Deterministic pseudo-random hyperplanes: (N_TABLES*N_PLANES, 64)
    float64 numpy matrix from a fixed LCG (built once per process, so
    read-only)."""
    import numpy as np

    n = N_TABLES * N_PLANES_PER_TABLE
    state = 42
    vals = []
    for _ in range(n * 64):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        vals.append(((state >> 33) / float(1 << 31)) - 1.0)  # [-1, 1)
    planes = np.array(vals, dtype=np.float64).reshape(n, 64)
    planes.flags.writeable = False
    return planes


def _signatures(unit):
    """(n, N_TABLES) integer buckets of unit vectors: N_PLANES_PER_TABLE
    sign-of-projection bits per hash table."""
    import numpy as np

    signs = (unit @ _plane_matrix().T) >= 0
    bits = 1 << np.arange(N_PLANES_PER_TABLE, dtype=np.int64)
    return signs.reshape(len(unit), N_TABLES, N_PLANES_PER_TABLE) @ bits


def _bucket_match(a_unit, q_unit):
    """(corpus, query) candidate mask: the two share a bucket in ANY table."""
    return (_signatures(a_unit)[:, None, :] == _signatures(q_unit)[None, :, :]).any(
        axis=2
    )


def lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH: L independent tables of b
    sign-of-projection bits each; a corpus vector is a candidate for a
    query if they share a bucket in ANY table; exact cosine re-ranks the
    candidates. Multi-table is the standard recall lever — one 12-bit
    table recalled only ~0.1 of true neighbors on this corpus; 8 tables
    × 6 bits recalls the same neighbors with probability 1-(1-p^6)^8.

    It is `cosine_topk`'s scorer with a bucket-match mask: signatures,
    bucket matching and scoring run in one mapInPandas kernel over the
    scan — zero shuffles before the (tiny) top-k window — so a pair both
    entries return carries the identical cosine. At cluster scale with
    persisted tables, the same signatures become groupBy keys (the
    minhash-band pattern); for query serving, this broadcast form is the
    right shape. Rows-only check (bucket membership is
    plane-constant-specific); recall is pinned by a test instead.
    """
    return _query_topk(spark, sf_dir, _bucket_match)


def lsh_bucket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-×-corpus embedding near-duplicate pairs, fully distributed —
    the 100 TB-safe default; `embedding_cosine_dups` (driver collect +
    broadcast) remains the small-corpus/re-rank kernel.

    Shape (the minhash-band pattern applied to hyperplane signatures):

        scan → mapInPandas: unit-normalize + L×b sign-of-projection
               signatures, emit (table, bucket, vec_id, emb) — N·L rows
        → groupBy(table, bucket): candidates only ever meet INSIDE a
               bucket (never all-pairs); applyInPandas unit-normalizes in
               float64 and scores each bucket's upper triangle with one
               BLAS matmul, keeping pairs ≥ threshold
        → distinct(): a pair sharing buckets in several tables collapses
               (scores are rounded, so duplicates are exact)

    Cost: one shuffle of N·L signature rows. The vector rides along in
    its STORED float32 form (64 × 4 B = 256 B — half the float64 unit
    vector an earlier revision shipped); normalization happens in the
    scoring kernel in float64, the same op order as the brute-force
    kernel, so rounded scores stay bit-identical to it (pinned by
    tests/test_recall.py's exact-score assertion). Plus a distinct over
    the (tiny) pair set. No driver collect, no cartesian.

    `max_bucket` (10,000 here) bounds the worst bucket: a bucket of m
    rows scores m²/2 pairs, so a degenerate bucket (all-identical corpus)
    would otherwise quadratic-blow-up exactly like uncapped jaccard
    fan-out. Oversized buckets are dropped (recall loss is confined to
    pathological buckets; raise b / n_tables instead at that density).
    Precision is exact (candidates are re-scored), so output ⊆
    brute-force output; recall is pinned by tests/test_recall.py.

    Rows-only check: bucket membership is plane-constant-specific.
    """
    # Compute-once signature/bucket table (plans/materialize.py seam):
    # at 100 TB the N·L signature table is built once and stored next to
    # the embeddings; re-scoring passes (new thresholds, re-ranks) read
    # it instead of re-signing the corpus.
    sig = materialized_frame(
        spark,
        "hyperplane_sig",
        sf_dir,
        lambda: _signature_rows(
            load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        ),
    )
    return _bucket_pair_scores(sig, COSINE_DUP_THRESHOLD, 10_000)


BUCKET_SCORE_TILE = 1024  # rows per in-bucket scoring block (bounds task memory)


def _signature_rows(emb: DataFrame) -> DataFrame:
    """(table, bucket, vec_id, emb) — one row per (vector, hash table):
    unit-normalize + L×b sign-of-projection signatures in one Arrow map
    stage. The vector rides in its STORED float32 form (64 × 4 B = 256 B
    — half the float64 unit vector an earlier revision shipped)."""
    import numpy as np
    import pandas as pd

    def sig_rows(pdf):
        ids, unit = _ids_unit(pdf)
        return pd.DataFrame(
            {
                "table": np.tile(np.arange(N_TABLES, dtype=np.int32), len(ids)),
                "bucket": _signatures(unit).reshape(-1),
                "vec_id": np.repeat(ids, N_TABLES),
                "emb": np.repeat(pdf["embedding"].to_numpy(), N_TABLES),
            }
        )

    return emb.mapInPandas(
        _batches(sig_rows), "table int, bucket long, vec_id long, emb array<float>"
    )


def lsh_bucket_pairs_df(
    emb: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Core of `lsh_bucket_pairs` over any (vec_id, embedding) frame —
    also the seam the adversarial-skew test drives directly."""
    return _bucket_pair_scores(_signature_rows(emb), threshold, max_bucket)


BUCKET_GROUP_BLOCKS = 8  # buckets per applyInPandas group (see below)


def _bucket_pair_scores(
    sig: DataFrame, threshold: float, max_bucket: int | None
) -> DataFrame:
    """In-bucket exact scoring over a signature table: candidates still
    meet ONLY inside a (table, bucket) cell — the Python kernel splits
    its group back into buckets before any scoring — but the SHUFFLE
    groups are (table, bucket mod BUCKET_GROUP_BLOCKS) blocks, cutting
    applyInPandas invocations ~BUCKET_GROUP_BLOCKS× (r12: per-group
    fixed cost dominated this operator — 16 tables × 64 buckets = 1024
    Python calls ≈ 1.4 ms each ≈ the whole 1.47 s clean bench cost).
    Memory class is unchanged: a block holds BUCKET_GROUP_BLOCKS
    buckets ≈ n/128 rows vs n/1024 per bucket — both O(n/const), and at
    real scale the lever is the same either way (grow bits/tables with
    the corpus so cells stay bounded); per-bucket upper-triangle BLAS
    and the max_bucket cap apply inside, identical to the per-bucket
    form, so the pair set is exactly equal (pinned)."""
    import numpy as np
    import pandas as pd

    def block_pairs(key, pdf):
        tile = BUCKET_SCORE_TILE  # read when the plan ships (tests patch it)
        outs = []
        for _, bdf in pdf.groupby("bucket", sort=False):
            if len(bdf) < 2 or (max_bucket is not None and len(bdf) > max_bucket):
                continue
            ids = bdf["vec_id"].to_numpy(dtype=np.int64)
            # float64 normalize AFTER transport — same op order as the
            # brute-force kernel, so rounded scores match it exactly
            unit = _unit(bdf["emb"].tolist())
            # Tile the upper triangle in row blocks: a dense m×m score
            # matrix at m = max_bucket = 10_000 is ~800 MB in one task
            # (ADVICE r2 #2); per-block peak is TILE×m ≈ 80 MB and
            # output pairs stream out.
            for s in range(0, len(ids), tile):
                pairs = _pairs_above(
                    ids[s : s + tile], unit[s : s + tile], ids, unit, threshold, True
                )
                if len(pairs):
                    outs.append(pairs)
        return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()

    blocked = sig.withColumn(
        "bucket_block", F.pmod(F.col("bucket"), F.lit(BUCKET_GROUP_BLOCKS))
    )
    cand = blocked.groupBy("table", "bucket_block").applyInPandas(
        block_pairs, _PAIR_SCHEMA
    )
    return cand.distinct()


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

IVF_K = 32  # coarse centroids
IVF_NPROBE = 8  # clusters probed per query
IVF_ITERS = 2  # Lloyd refinement rounds


# Compute-once cache for the IVF front end, same contract as
# plans/materialize.py: keyed on (applicationId, realpath(sf_dir)),
# process-local, and emptied by `clear_materialized_frames` together
# with the `ivf_assignment` seam built from it. The k-means build
# (iters × [whole-corpus assign + mean aggregate]) is the dominant cost
# of `ivf_topk`. At 100 TB the quantizer is trained once and stored —
# this cache is that stored-model seam. The centroid value is a k×dim
# numpy matrix (~16 KB), not a DataFrame, hence a side dict instead of
# materialized_frame.
_IVF_CENTROID_CACHE: dict[tuple, object] = register_side_cache({})


def ivf_centroid_matrix(spark: SparkSession, sf_dir: str):
    """Compute-once k-means centroids for the canonical embeddings table."""
    import os

    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir))
    cents = _IVF_CENTROID_CACHE.get(key)
    if cents is None:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        cents = _ivf_centroids(spark, emb)
        _IVF_CENTROID_CACHE[key] = cents
    return cents


def ivf_assignment_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once (vec_id, cluster) assignment under the cached
    quantizer — the inverted-list membership table `ivf_topk` probes
    (stored alongside the index at scale)."""
    cents = ivf_centroid_matrix(spark, sf_dir)
    return materialized_frame(
        spark,
        "ivf_assignment",
        sf_dir,
        lambda: _assign_clusters(
            spark,
            load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
            cents,
        ),
    )


def _ivf_centroids(spark: SparkSession, emb: DataFrame):
    """Deterministic k-means coarse quantizer: IVF_K centroids after
    IVF_ITERS Lloyd rounds.

    Init = the first IVF_K vectors by vec_id (deterministic, standard for a
    coarse quantizer); each Lloyd round assigns via a broadcast-centroid
    mapInPandas argmax and recomputes means with posexplode →
    groupBy(cluster, pos) — fully distributed; only the k×dim centroid
    MATRIX (an aggregate, ~16 KB) ever reaches the driver.
    """
    import numpy as np

    init = emb.filter(F.col("vec_id") < IVF_K).orderBy("vec_id").collect()
    cents = _unit([r["embedding"] for r in init])

    for _ in range(IVF_ITERS):
        assigned = _assign_clusters(spark, emb, cents)
        means = (
            assigned.join(emb, "vec_id")
            .select("cluster", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect()
        )
        new = np.array(cents)
        for r in means:
            new[r["cluster"], r["pos"]] = r["m"]
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = new / norms
    return cents


def _assign_clusters(spark: SparkSession, emb: DataFrame, cents) -> DataFrame:
    """vec_id → nearest centroid (max cosine), map-side only."""
    import numpy as np
    import pandas as pd

    bc = spark.sparkContext.broadcast(cents)

    def assign(pdf):
        ids, unit = _ids_unit(pdf)
        return pd.DataFrame(
            {"vec_id": ids, "cluster": np.argmax(unit @ bc.value.T, axis=1).astype(np.int32)}
        )

    return emb.select("vec_id", "embedding").mapInPandas(
        _batches(assign), "vec_id long, cluster int"
    )


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via an IVF coarse quantizer — the second scale path
    alongside hyperplane LSH (`lsh_bucket_topk`).

    Index: k-means centroids; every corpus vector lives in one inverted
    list (its nearest centroid). Query: probe the IVF_NPROBE nearest
    centroids, score ONLY vectors in those lists exactly, take top-k.
    Probing IVF_NPROBE/IVF_K of the corpus bounds work per query; recall
    follows the usual IVF curve (pinned by tests/test_recall.py).

    Plan shape at scale: assignment is map-side (broadcast centroids);
    the probe table (queries × nprobe, tiny) broadcast-joins the
    assignment on `cluster` — no shuffle of the corpus; exact scoring is
    map-side; the only shuffle is the final per-query top-k window.
    Rows-only check (cluster geometry is implementation-specific).
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # cached quantizer + assignment table (see the seam note above)
    cents = ivf_centroid_matrix(spark, sf_dir)
    assigned = ivf_assignment_frame(spark, sf_dir)

    q_ids, q_unit = _bounded_side(emb.filter(F.col("vec_id") < N_QUERIES))
    # probe table: nprobe nearest centroids per query (driver-side: Q×k)
    probe_order = np.argsort(-(q_unit @ cents.T), axis=1)[:, :IVF_NPROBE]
    probes = spark.createDataFrame(
        [
            (int(q_ids[qi]), int(c))
            for qi in range(len(q_ids))
            for c in probe_order[qi]
        ],
        "query_id long, cluster int",
    )
    bc_q = spark.sparkContext.broadcast((q_ids, q_unit))

    cand = assigned.join(F.broadcast(probes), "cluster").join(emb, "vec_id")

    def score(pdf):
        b_qids, b_qunit = bc_q.value
        pos = {int(q): i for i, q in enumerate(b_qids)}
        qi = pdf["query_id"].map(pos).to_numpy(dtype=np.int64)
        query_ids = pdf["query_id"].to_numpy(dtype=np.int64)
        vec_ids, unit = _ids_unit(pdf)
        cos = np.round(np.einsum("ij,ij->i", unit, b_qunit[qi]), 6)
        keep = vec_ids != query_ids
        return pd.DataFrame(
            {"query_id": query_ids[keep], "vec_id": vec_ids[keep], "cosine": cos[keep]}
        )

    return _top_k(
        cand.select("query_id", "vec_id", "embedding").mapInPandas(
            _batches(score), _QUERY_SCHEMA
        )
    )


# ---------------------------------------------------------------------------
# Exact-lattice k-means (r13) — the ORACLE-BACKED quantizer.
#
# The float Lloyd quantizer above (`_ivf_centroids`) is the one barrier
# that kept the learned-cluster diagnostics rows-only: its init and
# every round L2-normalize (sqrt) and average in float, the
# DIVERGENCES.md float-sum class. This variant keeps EVERY quantity on
# the DRIFT_SCALE integer lattice instead, so both engines reproduce
# the whole trainer bit-for-bit: micro-quantized dims (the silhouette
# idiom), centroid means by integer floor division (DECISIONS #16:
# Spark `div` == DuckDB `//`), squared-L2 argmin on exact longs with
# (dist, cluster) lexicographic tie-break, and a FIXED iteration count
# unrolled — each Lloyd round is one plain CTE in the DuckDB mirror.
# The ~1e-6 mean-quantization nudge per round is far below any
# clustering decision scale; determinism is total.
#
# Scale shape: assignment is the silhouette n·k·d broadcast join
# (centroid table bounded at k×dims rows by construction); means are
# one (cluster, pos)-keyed aggregate; nothing touches the driver. The
# un-normalized squared-L2 geometry intentionally differs from the IVF
# cosine quantizer — IVF keeps its float path (normalization is the
# point there); the diagnostics below (`cluster_quota_sample`,
# `topic_mix_by_source`) ride THIS quantizer and become oracle-backed.
# A cluster that loses all members keeps its previous centroid (both
# engines: the means table only updates clusters with members).
# ---------------------------------------------------------------------------

KMEANS_EXACT_K = 32  # same cluster count as the IVF coarse quantizer
KMEANS_EXACT_ITERS = 2  # fixed Lloyd rounds — unrolled in the oracle


def _kmeans_exact_assign(dims: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cluster): argmin over centroids of the exact integer
    squared-L2 distance; ties break to the smallest cluster id via
    min(struct(ss, cluster)). q, c ≤ ~1e6 micro-units → per-dim square
    ≤ 4e12, 64-dim sum ≤ ~2.6e14 — comfortably inside int64/ANSI."""
    d = dims.join(F.broadcast(cents), "pos")
    ss = d.groupBy("vec_id", "cluster").agg(
        F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias("ss")
    )
    return (
        ss.groupBy("vec_id")
        .agg(F.min(F.struct("ss", "cluster")).alias("m"))
        .select("vec_id", F.col("m.cluster").alias("cluster"))
    )


def _kmeans_exact_means(dims: DataFrame, assigned: DataFrame, prev: DataFrame) -> DataFrame:
    """(cluster, pos, c): floor-division integer means of each cluster's
    members; clusters with no members fall back to their previous
    centroid (left anti join + union — both engines mirror this)."""
    upd = (
        assigned.join(dims, "vec_id")
        .groupBy("cluster", "pos")
        .agg(F.expr("sum(q) div count(1)").alias("c"))
    )
    kept = prev.join(upd.select("cluster").distinct(), "cluster", "left_anti")
    return upd.unionByName(kept)


def _kmeans_exact_df(emb: DataFrame) -> DataFrame:
    """Final (vec_id, cluster) after KMEANS_EXACT_ITERS unrolled rounds.
    Init = the first k vectors by vec_id (the `_ivf_centroids`
    convention), already on the lattice."""
    dims = _quantized_dims(emb, "vec_id")
    cents = (
        dims.filter(F.col("vec_id") < KMEANS_EXACT_K)
        .select(F.col("vec_id").cast("int").alias("cluster"), "pos", F.col("q").alias("c"))
    )
    assigned = _kmeans_exact_assign(dims, cents)
    for _ in range(KMEANS_EXACT_ITERS - 1):
        cents = _kmeans_exact_means(dims, assigned, cents)
        assigned = _kmeans_exact_assign(dims, cents)
    return assigned


def kmeans_exact_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once final assignment table for the canonical
    `embeddings` table — the stored inverted-list membership every
    exact-quantizer consumer reads (seams convention)."""
    return materialized_frame(
        spark,
        "kmeans_exact",
        sf_dir,
        lambda: _kmeans_exact_df(
            load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        ),
        (KMEANS_EXACT_K, KMEANS_EXACT_ITERS),
    )


def kmeans_exact_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: (vec_id, cluster) — exact-oracle-backed (banner)."""
    return kmeans_exact_frame(spark, sf_dir)


def kmeans_exact_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: (cluster, pos, c) — the stored quantizer artifact:
    integer centroids recomputed from the FINAL assignment (the table a
    100 TB deployment persists next to the membership list)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = _quantized_dims(emb, "vec_id")
    assigned = kmeans_exact_frame(spark, sf_dir)
    return (
        assigned.join(dims, "vec_id")
        .groupBy("cluster", "pos")
        .agg(F.expr("sum(q) div count(1)").alias("c"))
    )


def _kmeans_exact_oracle_ctes() -> str:
    """The unrolled trainer as a CTE chain (generated: one assign/means
    CTE pair per round). dims mirrors `_quantized_dims`; floor division
    `//` mirrors Spark's `div` (DECISIONS #16)."""
    k, scale = KMEANS_EXACT_K, DRIFT_SCALE
    parts = [
        f"""
    WITH dims AS (
        SELECT e.vec_id, d.pos,
               CAST(ROUND(CAST(e.embedding[d.pos + 1] AS DOUBLE)
                          * {scale}) AS BIGINT) AS q
        FROM embeddings e, LATERAL (
            SELECT unnest(range(len(e.embedding))) AS pos
        ) d
    ),
    cents0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cluster, pos, q AS c
        FROM dims WHERE vec_id < {k}
    )"""
    ]
    prev = "cents0"
    for i in range(1, KMEANS_EXACT_ITERS + 1):
        parts.append(
            f""",
    ss{i} AS (
        SELECT d.vec_id, c.cluster, SUM((d.q - c.c) * (d.q - c.c)) AS ss
        FROM dims d JOIN {prev} c ON c.pos = d.pos
        GROUP BY 1, 2
    ),
    a{i} AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY ss, cluster) AS rk
            FROM ss{i}
        ) WHERE rk = 1
    )"""
        )
        if i < KMEANS_EXACT_ITERS:
            parts.append(
                f""",
    upd{i} AS (
        SELECT a.cluster, d.pos, SUM(d.q) // COUNT(1) AS c
        FROM a{i} a JOIN dims d ON a.vec_id = d.vec_id
        GROUP BY 1, 2
    ),
    cents{i} AS (
        SELECT * FROM upd{i}
        UNION ALL
        SELECT p.* FROM {prev} p
        WHERE p.cluster NOT IN (SELECT DISTINCT cluster FROM upd{i})
    )"""
            )
            prev = f"cents{i}"
    return "".join(parts)


_KMEANS_FINAL = f"a{KMEANS_EXACT_ITERS}"

ORACLE_SQL["kmeans_exact_assignments"] = (
    _kmeans_exact_oracle_ctes()
    + f"\n    SELECT vec_id, cluster FROM {_KMEANS_FINAL}"
)

ORACLE_SQL["kmeans_exact_centroids"] = (
    _kmeans_exact_oracle_ctes()
    + f""",
    final_cents AS (
        SELECT a.cluster, d.pos,
               CAST(SUM(d.q) // COUNT(1) AS BIGINT) AS c
        FROM {_KMEANS_FINAL} a JOIN dims d ON a.vec_id = d.vec_id
        GROUP BY 1, 2
    )
    SELECT cluster, CAST(pos AS INTEGER) AS pos, c FROM final_cents"""
)


CLUSTER_QUOTA = 10  # max vectors any one learned cluster may contribute
CLUSTER_QUOTA_SEED = "cq42"

# The two learned-cluster diagnostics become oracle-backed (r13) by
# riding the exact-lattice quantizer: everything downstream of the
# assignment always was exact (md5 sample key, rank window, integer
# counts, the ROUND(.,4) share idiom label_mix uses).
ORACLE_SQL["cluster_quota_sample"] = (
    _kmeans_exact_oracle_ctes()
    + f""",
    keyed AS (
        SELECT a.vec_id, a.cluster,
               md5('{CLUSTER_QUOTA_SEED}:' || CAST(a.vec_id AS VARCHAR))
                   AS sample_key
        FROM {_KMEANS_FINAL} a
    ),
    ranked AS (
        SELECT vec_id, cluster, sample_key,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY sample_key ASC, vec_id ASC) AS rk
        FROM keyed
    )
    SELECT vec_id, cluster, sample_key FROM ranked WHERE rk <= {CLUSTER_QUOTA}"""
)

ORACLE_SQL["topic_mix_by_source"] = (
    _kmeans_exact_oracle_ctes()
    + f""",
    j AS (
        SELECT d.source, a.cluster
        FROM documents d JOIN {_KMEANS_FINAL} a ON d.doc_id = a.vec_id
    ),
    counts AS (
        SELECT source, cluster, COUNT(1) AS n_docs FROM j GROUP BY source, cluster
    ),
    totals AS (
        SELECT source, SUM(n_docs) AS n_source FROM counts GROUP BY source
    )
    SELECT c.source, c.cluster, CAST(c.n_docs AS BIGINT) AS n_docs,
           ROUND(c.n_docs / t.n_source, 4) AS share
    FROM counts c JOIN totals t USING (source)"""
)


def cluster_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling over LEARNED topic clusters: cap each learned
    cluster's contribution at CLUSTER_QUOTA vectors chosen deterministically
    (md5(seed:vec_id) order) — `domain_quota_sample` with the "domain"
    learned from embedding space instead of read from metadata. This is
    the embedding-space diversity bound (the SemDeDup/DCLM shape): no
    single semantic neighborhood may dominate the curated set, whatever
    its share of the crawl.

    r13: rides the EXACT-LATTICE k-means (`kmeans_exact_frame`) instead
    of the float IVF quantizer, which makes the whole query
    oracle-backed — the assignment, the md5 sample key, and the quota
    window all mirror in DuckDB bit-for-bit (the r12 audit's "seeded
    assignment" blocker was the quantizer, not this query). Plan: the
    quota is one per-cluster rank window with WindowGroupLimit
    pushdown, exactly like the domain quota.
    """
    # cached exact-quantizer assignment table (seams convention)
    assigned = kmeans_exact_frame(spark, sf_dir)
    key = F.md5(
        F.concat_ws(":", F.lit(CLUSTER_QUOTA_SEED), F.col("vec_id")).cast("binary")
    )
    w = Window.partitionBy("cluster").orderBy(key.asc(), F.col("vec_id").asc())
    return (
        assigned.select(
            "vec_id",
            "cluster",
            key.alias("sample_key"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= CLUSTER_QUOTA)
        .select("vec_id", "cluster", "sample_key")
    )


def embedding_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup of the embedding corpus: connected components over
    the cosine near-dup pair graph, keeping each component's canonical
    (min vec_id) member — the embedding-side mirror of the text
    pipeline's `deduped_corpus` (two paraphrases a~b, b~c collapse to one
    representative even when a≁c directly).

    Edges here come from the exact `embedding_cosine_dups` kernel so the
    whole query is oracle-checkable (recursive-CTE components over the
    same pair SQL); at 100 TB swap the edge source for `lsh_bucket_pairs`
    — identical downstream shape, no driver collect. The components loop
    is the shared `connected_components` harness (per-round keyed
    join+groupBy, driver sees only a changed-count aggregate).
    """
    from .dedup import _survivor_corpus, connected_components

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    pairs = embedding_cosine_dups(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return _survivor_corpus(emb, connected_components(nodes, pairs))


ORACLE_SQL["embedding_dedup_corpus"] = f"""
    WITH RECURSIVE pairs AS ({ORACLE_SQL["embedding_cosine_dups"]}),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst FROM pairs
    ),
    walk(node, lbl) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.node
    ),
    comp AS (SELECT node AS vec_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node),
    survivors AS (
        SELECT cluster_id AS vec_id, CAST(COUNT(1) AS BIGINT) AS cluster_size
        FROM comp GROUP BY 1
    )
    SELECT e.vec_id, e.label, s.cluster_size,
           CAST(s.cluster_size - 1 AS BIGINT) AS n_dups_removed
    FROM embeddings e JOIN survivors s USING (vec_id)
"""


def label_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal topic-mix dashboard: join the embedding corpus's
    ground-truth cluster labels onto the documents table (vec_id aligns
    with doc_id in the synthetic corpus — in production the embedding
    row carries the doc key it was computed from) and report each
    source's label distribution. The question this answers: "is source X
    all one topic?" — the metadata-side complement of
    `source_kl_divergence`'s vocabulary drift.

    Plan: doc_id-keyed equi-join of two O(docs) projections (both sides
    pruned to 2-3 columns at the scan), one groupBy(source, label), and
    a broadcast of the tiny per-source totals for the share. Fully
    deterministic → DuckDB oracle. `topic_mix_by_source` is the
    learned-cluster twin (oracle-backed as of r13 via the exact-lattice
    quantizer).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    return _share_by_source(docs.join(emb, "doc_id"), "label")


def topic_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`label_mix_by_source` with LEARNED topics: learned clusters stand
    in for labels — the view you get on an unlabeled crawl
    (SemDeDup/DCLM-style cluster diagnostics). r13: rides the
    exact-lattice k-means assignment seam, so the whole view is
    oracle-backed (the share arithmetic always was — the float
    quantizer was the only blocker)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    assigned = kmeans_exact_frame(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cluster"
    )
    return _share_by_source(docs.join(assigned, "doc_id"), "cluster")


def _share_by_source(joined: DataFrame, key: str) -> DataFrame:
    """(source, key, n_docs, share): each source's doc count per `key`
    value and its ROUND(·, 4) share of the source's docs."""
    counts = joined.groupBy("source", key).agg(F.count(F.lit(1)).alias("n_docs"))
    totals = counts.groupBy("source").agg(F.sum("n_docs").alias("n_source"))
    return counts.join(F.broadcast(totals), "source").select(
        "source",
        key,
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_source"), 4).alias("share"),
    )


ORACLE_SQL["label_mix_by_source"] = """
    WITH j AS (
        SELECT d.source, e.label
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    counts AS (
        SELECT source, label, COUNT(1) AS n_docs FROM j GROUP BY source, label
    ),
    totals AS (
        SELECT source, SUM(n_docs) AS n_source FROM counts GROUP BY source
    )
    SELECT c.source, c.label, c.n_docs,
           ROUND(c.n_docs / t.n_source, 4) AS share
    FROM counts c JOIN totals t USING (source)
"""

ORACLE_SQL["embedding_cosine_dups_tiled"] = ORACLE_SQL["embedding_cosine_dups"]


# ---------------------------------------------------------------------------
# Cluster-quality QC: point-level silhouettes + per-label report
# ---------------------------------------------------------------------------
#
# The label-noise / outlier surface of an embedding pipeline (the QC step
# before SemDeDup-style semantic pruning or classifier training): a point
# whose silhouette is negative sits closer to another label's centroid
# than to its own — a mislabel or outlier candidate to route to review or
# drop. Simplified silhouette (centroid form, Rousseeuw 1987 §4): a =
# distance to OWN centroid, b = distance to the NEAREST OTHER centroid,
# s = (b - a) / max(a, b). O(n·k·d) work — the same shape as exact IVF
# assignment, linear in corpus size for fixed label count, one broadcast
# of the (labels × dims) centroid table; never O(n²).
#
# Exactness discipline (the `centroid_drift_by_label` idiom, taken one
# step further): embedding values are micro-quantized map-side, so the
# per-dimension deviation q·n − S is an exact integer, its SQUARE is an
# exact DECIMAL(38,0)/HUGEINT, and the per-(point, label) sum of squares
# is an exact integer sum — d² is then ONE cast+divide on exact operands,
# identical in both engines with no summation-order sensitivity at all.
# Per-label means re-quantize the identical doubles to micro-units so the
# report's averages are integer sums too.


def silhouette_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point cluster QC: (vec_id, label, intra_dist, nearest_label,
    nearest_dist, silhouette). `nearest_label` is the closest OTHER
    label's centroid (tie-break: distance ASC, label ASC — deterministic
    in both engines because the distances are exact-operand doubles).
    Compute-once seam shared with `cluster_quality_report`."""
    return materialized_frame(
        spark,
        "silhouette_scores",
        sf_dir,
        lambda: silhouette_scores_df(load_table(spark, sf_dir, "embeddings")),
    )


def _quantized_dims(emb: DataFrame, *keep: str) -> DataFrame:
    """(*keep, pos, q) — micro-quantized embedding dimensions, map-side."""
    return emb.select(
        *keep, F.posexplode("embedding").alias("pos", "v")
    ).select(
        *keep,
        "pos",
        F.round(F.col("v").cast("double") * DRIFT_SCALE).cast("long").alias("q"),
    )


def silhouette_centroids_df(emb: DataFrame) -> DataFrame:
    """(clabel, pos, s, n) — the integer centroid sums the silhouette
    distances are computed against."""
    return _quantized_dims(emb, "label").groupBy(
        F.col("label").alias("clabel"), "pos"
    ).agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))


def _sil_sq_dev_sum():
    """Aggregate: exact integer sum of squared micro-deviations for one
    (point, centroid) pair — DECIMAL(38,0), no float until the divide."""
    dec = "decimal(38,0)"
    delta = F.col("q").cast(dec) * F.col("n") - F.col("s").cast(dec)
    return F.sum(delta * delta).alias("ss")


def _sil_dist():
    """d from (ss, n): ONE cast+divide on exact operands, then sqrt."""
    return F.sqrt(
        F.col("ss").cast("double")
        / (
            F.col("n").cast("double")
            * F.col("n").cast("double")
            * F.lit(float(DRIFT_SCALE) ** 2)
        )
    ).alias("d")


def _sil_argmin_aggs():
    """Aggregates: own-centroid distance + argmin over other centroids
    ((d ASC, clabel ASC) tie-break via struct min)."""
    return [
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d"))).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.struct("d", "clabel"))
        ).alias("nb"),
    ]


def _sil_projection():
    """Final silhouette columns from the (a, nb) aggregate."""
    s = F.when(
        F.greatest(F.col("a"), F.col("nb.d")) == 0, F.lit(0.0)
    ).otherwise(
        (F.col("nb.d") - F.col("a")) / F.greatest(F.col("a"), F.col("nb.d"))
    )
    return [
        F.round("a", 6).alias("intra_dist"),
        F.col("nb.clabel").alias("nearest_label"),
        F.round("nb.d", 6).alias("nearest_dist"),
        F.round(s, 6).alias("silhouette"),
    ]


def silhouette_scores_df(emb: DataFrame) -> DataFrame:
    """`silhouette_scores` core over any (vec_id, label, embedding).

    A corpus with a SINGLE label emits no rows — a silhouette needs at
    least one OTHER centroid to compare against (the same inner-join
    semantics the DuckDB oracle has; an unfiltered aggregate would emit
    null-silhouette rows here and diverge on degenerate corpora —
    DIVERGENCES.md "oracle scope boundaries" #4)."""
    dims = _quantized_dims(emb, "vec_id", "label")
    cent = silhouette_centroids_df(emb)
    per_pair = (
        dims.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel", "n")
        .agg(_sil_sq_dev_sum())
        .select("vec_id", "label", "clabel", _sil_dist())
    )
    agg = per_pair.groupBy("vec_id", "label").agg(*_sil_argmin_aggs())
    return agg.filter(F.col("nb").isNotNull()).select(
        "vec_id", "label", *_sil_projection()
    )


def cluster_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cluster-health rollup: (label, n_vecs, mean_intra_dist,
    mean_silhouette, n_negative, nearest_label, centroid_gap) — the
    embedding-space dashboard next to `centroid_drift_by_label` (drift
    says "this label MOVED"; this says "this label is DIFFUSE or
    COLLIDING, and with whom"). `n_negative` counts mislabel/outlier
    candidates; `centroid_gap` is the distance to the nearest other
    CENTROID (labels² pairs — dashboard-sized, via the drift operator's
    sorted-fold idiom on the exact normalized centroid doubles).

    Means are integer sums of micro-quantized per-point values — the
    identical doubles both engines hold — so the rollup carries no
    float-order sensitivity either."""
    scores = silhouette_scores(spark, sf_dir)
    u = 1_000_000
    per = scores.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.round(F.col("intra_dist") * u).cast("long")).alias("au"),
        F.sum(F.round(F.col("silhouette") * u).cast("long")).alias("su"),
        F.sum((F.col("silhouette") < 0).cast("int")).alias("n_negative"),
    )
    per = per.select(
        "label",
        "n_vecs",
        F.round(F.col("au") / F.col("n_vecs") / u, 6).alias("mean_intra_dist"),
        F.round(F.col("su") / F.col("n_vecs") / u, 6).alias("mean_silhouette"),
        "n_negative",
    )
    emb = load_table(spark, sf_dir, "embeddings")
    # centroid means come from the SAME (s, n) sums the scorer uses —
    # one formula, one aggregation shape, no second exploded scan logic
    cvals = silhouette_centroids_df(emb).select(
        F.col("clabel").alias("label"),
        "pos",
        (F.col("s").cast("double") / (F.col("n") * F.lit(float(DRIFT_SCALE)))).alias(
            "c"
        ),
    )
    cvec = cvals.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").alias(
            "cv"
        )
    )
    pairs = cvec.join(
        F.broadcast(
            cvec.select(F.col("label").alias("olabel"), F.col("cv").alias("ov"))
        ),
        F.col("label") != F.col("olabel"),
    ).select(
        "label",
        "olabel",
        F.sqrt(
            F.expr(
                "aggregate(zip_with(cv, ov, (x, y) -> (x - y) * (x - y)), "
                "cast(0.0 as double), (acc, v) -> acc + v)"
            )
        ).alias("dcc"),
    )
    nearest = pairs.groupBy("label").agg(F.min(F.struct("dcc", "olabel")).alias("m"))
    return per.join(F.broadcast(nearest), "label").select(
        "label",
        "n_vecs",
        "mean_intra_dist",
        "mean_silhouette",
        "n_negative",
        F.col("m.olabel").alias("nearest_label"),
        F.round("m.dcc", 6).alias("centroid_gap"),
    )


_SIL_CTE = f"""
    WITH dims AS (
        SELECT e.vec_id, e.label, d.pos,
               CAST(ROUND(CAST(e.embedding[d.pos + 1] AS DOUBLE)
                          * {DRIFT_SCALE}) AS BIGINT) AS q
        FROM embeddings e, LATERAL (
            SELECT unnest(range(len(e.embedding))) AS pos
        ) d
    ),
    cent AS (
        SELECT label AS clabel, pos, SUM(q) AS s, COUNT(*) AS n
        FROM dims GROUP BY 1, 2
    ),
    per_pair AS (
        SELECT d.vec_id, d.label, c.clabel, c.n,
               SUM((CAST(d.q AS HUGEINT) * c.n - CAST(c.s AS HUGEINT))
                   * (CAST(d.q AS HUGEINT) * c.n - CAST(c.s AS HUGEINT)))
                   AS ss
        FROM dims d JOIN cent c ON c.pos = d.pos
        GROUP BY 1, 2, 3, 4
    ),
    dist AS (
        SELECT vec_id, label, clabel,
               SQRT(CAST(ss AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * {float(DRIFT_SCALE) ** 2})) AS d
        FROM per_pair
    ),
    own AS (SELECT vec_id, label, d AS a FROM dist WHERE clabel = label),
    others AS (
        SELECT vec_id, label, clabel, d,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY d ASC, clabel ASC) AS rk
        FROM dist WHERE clabel <> label
    ),
    sil AS (
        SELECT o.vec_id, o.label,
               ROUND(w.a, 6) AS intra_dist,
               o.clabel AS nearest_label,
               ROUND(o.d, 6) AS nearest_dist,
               ROUND(CASE WHEN GREATEST(w.a, o.d) = 0 THEN 0.0
                     ELSE (o.d - w.a) / GREATEST(w.a, o.d) END, 6)
                   AS silhouette
        FROM others o JOIN own w ON w.vec_id = o.vec_id
        WHERE o.rk = 1
    )
"""

ORACLE_SQL["silhouette_scores"] = (
    _SIL_CTE
    + """
    SELECT vec_id, label, intra_dist, nearest_label, nearest_dist,
           silhouette
    FROM sil
"""
)

ORACLE_SQL["cluster_quality_report"] = (
    _SIL_CTE
    + f""",
    per AS (
        SELECT label, COUNT(*) AS n_vecs,
               SUM(CAST(ROUND(intra_dist * {DRIFT_SCALE}) AS BIGINT)) AS au,
               SUM(CAST(ROUND(silhouette * {DRIFT_SCALE}) AS BIGINT)) AS su,
               CAST(SUM(CASE WHEN silhouette < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_negative
        FROM sil GROUP BY 1
    ),
    cvals AS (
        SELECT label, pos,
               SUM(q) * 1.0 / (COUNT(*) * {float(DRIFT_SCALE)}) AS c
        FROM dims GROUP BY 1, 2
    ),
    cpairs AS (
        SELECT a.label, b.label AS olabel, a.pos, a.c - b.c AS dv
        FROM cvals a JOIN cvals b
          ON a.pos = b.pos AND a.label <> b.label
    ),
    gap AS (
        SELECT label, olabel,
               SQRT(list_dot_product(list(dv ORDER BY pos),
                                     list(dv ORDER BY pos))) AS dcc
        FROM cpairs GROUP BY 1, 2
    ),
    near AS (
        SELECT label, olabel, dcc,
               ROW_NUMBER() OVER (
                   PARTITION BY label ORDER BY dcc ASC, olabel ASC) AS rk
        FROM gap
    )
    SELECT p.label, p.n_vecs,
           ROUND(p.au * 1.0 / p.n_vecs / {float(DRIFT_SCALE)}, 6)
               AS mean_intra_dist,
           ROUND(p.su * 1.0 / p.n_vecs / {float(DRIFT_SCALE)}, 6)
               AS mean_silhouette,
           p.n_negative,
           n.olabel AS nearest_label,
           ROUND(n.dcc, 6) AS centroid_gap
    FROM per p JOIN near n ON n.label = p.label AND n.rk = 1
"""
)


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training pairs)
# ---------------------------------------------------------------------------


def hard_negatives(
    spark: SparkSession, sf_dir: str, tiles: int = COSINE_TILE_T
) -> DataFrame:
    """Contrastive-pair mining over the labeled embedding corpus: for
    every vector, its HARDEST NEGATIVE (the most-similar vector with a
    DIFFERENT label) and its nearest positive (most-similar SAME-label
    vector, self excluded) — (vec_id, label, pos_id, pos_cos, neg_id,
    neg_label, neg_cos, margin). margin = pos_cos − neg_cos; anchors
    with margin <= 0 are exactly the label confusions a contrastive
    trainer should sample and a curator should audit (the per-pair
    sharpening of what `silhouette_scores` measures against centroids).

    Exactness: scores round to 4 decimals inside the BLAS block (the
    `embedding_cosine_dups_tiled` convention — summation-order noise
    ~1e-15 cannot flip a rounded boundary), and every argmax is the
    lexicographic MAX of (cosine, candidate_id) — applied identically
    in the block-local reduction, the global aggregate, and the
    oracle's ranked form, so ties can never diverge across engines.

    Plan: the tile-pair fan-out of the exact kernel (each vector ships
    to `tiles` groups; executor memory bounded by 2·(n/T) vectors), but
    each group emits at most TWO rows per anchor (its block-local best
    positive and negative) instead of the above-threshold pair list —
    so the shuffle after the quadratic stage is O(n·T), and the global
    per-anchor max-of-maxes is one keyed aggregate. The O(n²) lives
    inside the blocks, made explicit and spread — the exact-mining
    path for modest corpora and audit passes; at open-corpus scale,
    mine within IVF cells (`ivf_assignment_frame`) for semi-hard
    negatives instead.

    Anchors whose label has no other member emit null pos_* (and null
    margin); a single-label corpus would emit null neg_* — both
    surfaced, not dropped."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    def _bests(ids_a, labs_a, ids_b, labs_b, scores, same_side):
        """Block-local lexicographic-max (cos, id) per a-row, split by
        same-label / different-label candidate masks."""
        out = []
        if same_side:
            valid = ids_a[:, None] != ids_b[None, :]
        else:
            valid = np.ones((len(ids_a), len(ids_b)), dtype=bool)
        for flag, mask in (
            (0, valid & (labs_a[:, None] != labs_b[None, :])),
            (1, valid & (labs_a[:, None] == labs_b[None, :])),
        ):
            sc = np.where(mask, scores, -np.inf)
            m = sc.max(axis=1)
            has = m > -np.inf
            if not has.any():
                continue
            cand = np.where(
                sc[has] == m[has][:, None], ids_b[None, :], -1
            ).max(axis=1)
            cl = labs_b[
                np.argmax(
                    (sc[has] == m[has][:, None]) & (ids_b[None, :] == cand[:, None]),
                    axis=1,
                )
            ]
            out.append(
                pd.DataFrame(
                    {
                        "vec_id": ids_a[has],
                        "label": labs_a[has],
                        "is_pos": flag,
                        "cand_id": cand,
                        "cand_label": cl,
                        "cos": m[has],
                    }
                )
            )
        return out

    def block(a, b):
        (rows_a, ids_a, ua), (rows_b, ids_b, ub) = a, b
        labs_a, labs_b = rows_a["label"].to_numpy(), rows_b["label"].to_numpy()
        scores = np.round(ua @ ub.T, 4)
        out = _bests(ids_a, labs_a, ids_b, labs_b, scores, a is b)
        if a is not b:  # b-side anchors see a-side candidates too
            out += _bests(ids_b, labs_b, ids_a, labs_a, scores.T, False)
        return pd.concat(out, ignore_index=True) if out else pd.DataFrame()

    local = _tile_pair_blocks(
        emb,
        tiles,
        block,
        "vec_id long, label int, is_pos int, cand_id long, "
        "cand_label int, cos double",
    )
    # global max-of-maxes, same (cos, id) lexicographic order as blocks
    best = local.groupBy("vec_id", "label", "is_pos").agg(
        F.max(F.struct("cos", "cand_id", "cand_label")).alias("b")
    )
    wide = best.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("is_pos") == 1, F.col("b"))).alias("p"),
        F.max(F.when(F.col("is_pos") == 0, F.col("b"))).alias("n"),
    )
    return wide.select(
        "vec_id",
        "label",
        F.col("p.cand_id").alias("pos_id"),
        F.col("p.cos").alias("pos_cos"),
        F.col("n.cand_id").alias("neg_id"),
        F.col("n.cand_label").alias("neg_label"),
        F.col("n.cos").alias("neg_cos"),
        F.round(F.col("p.cos") - F.col("n.cos"), 4).alias("margin"),
    )


_HN_COS = (
    "ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /"
    " (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *"
    "  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)"
)

ORACLE_SQL["hard_negatives"] = f"""
    WITH scored AS (
        SELECT a.vec_id, a.label,
               b.vec_id AS cand_id, b.label AS cand_label,
               {_HN_COS} AS c
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT vec_id, label, cand_id, cand_label, c,
               (cand_label = label) AS is_pos,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id, (cand_label = label)
                   ORDER BY c DESC, cand_id DESC) AS rk
        FROM scored
    ),
    best AS (SELECT * FROM ranked WHERE rk = 1)
    SELECT v.vec_id, v.label,
           p.cand_id AS pos_id, p.c AS pos_cos,
           n.cand_id AS neg_id, n.cand_label AS neg_label, n.c AS neg_cos,
           ROUND(p.c - n.c, 4) AS margin
    FROM (SELECT DISTINCT vec_id, label FROM embeddings) v
    LEFT JOIN best p ON p.vec_id = v.vec_id AND p.is_pos
    LEFT JOIN best n ON n.vec_id = v.vec_id AND NOT n.is_pos
"""


# ---------------------------------------------------------------------------
# Semantic decontamination (embedding-space eval overlap)
# ---------------------------------------------------------------------------

SEM_CONTAM_THRESHOLD = 0.35  # same scale as COSINE_DUP_THRESHOLD


def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination — the SEMANTIC sibling of
    `training.decontaminate` (which catches n-gram overlap): flag every
    corpus vector whose cosine against ANY benchmark-probe vector
    (vec_id < PROBE_MAX_DOC_ID, the shared probe convention) clears the
    SEM_CONTAM_THRESHOLD. Catches the leak class shingles miss entirely —
    paraphrased or translated copies of eval items that share no
    16-token window with the original (the SemDeDup observation applied
    to decontamination).

    One row per CORPUS vector: (vec_id, n_probe_hits, top_probe,
    top_cosine, contaminated) — the report form, so the gate (`WHERE
    NOT contaminated`) and the audit (which probe leaked, how hard)
    read the same frame.

    Plan: the probe matrix is bounded BY CONSTRUCTION (an eval suite is
    thousands of items, not corpus-scale) — it collects once,
    unit-normalizes, and rides a Spark broadcast into ONE stateless
    `mapInPandas` pass over the corpus: scan → BLAS block × probeᵀ →
    per-row reduce. Zero shuffle, no join, no state; at 100 TB this is
    a pure map job. Scores round to 4 INSIDE the kernel before any
    threshold/argmax (the `embedding_cosine_dups` convention), and the
    top probe is the lexicographic MAX of (cosine, probe_id) — same
    rule in the kernel and the oracle's ranked form, so ties never
    diverge across engines."""
    from .training import PROBE_MAX_DOC_ID

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < PROBE_MAX_DOC_ID)
    corpus = emb.filter(F.col("vec_id") >= PROBE_MAX_DOC_ID)
    return semantic_decontam_df(corpus, probes)


def semantic_decontam_df(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """`semantic_decontaminate` core over any (vec_id, embedding) corpus
    and probe frames — tests drive it with planted paraphrase vectors."""
    return corpus.mapInPandas(
        make_probe_kernel(probes),
        "vec_id long, n_probe_hits long, top_probe long, "
        "top_cosine double, contaminated boolean",
    )


_PROBE_BC_CACHE: dict = register_side_cache({})


def make_probe_kernel(probes: DataFrame):
    """Collect + unit-normalize the probe matrix (bounded by
    construction) and return the mapInPandas kernel the operator
    applies. Raises on an empty probe set — a silent all-clean verdict
    from a misconfigured probe filter is the one failure mode this
    operator must never have.

    The (collect + broadcast) is cached per (application, semantic plan):
    the catalog_plans fixture and driver plan sampling both re-CONSTRUCT
    the frame without executing it, and without the cache every
    construction paid an eager Spark job plus a fresh broadcast.
    semanticHash is plan analysis only (no job); the paired
    sameSemantics check guards hash collisions."""
    import numpy as np
    import pandas as pd

    sc = probes.sparkSession.sparkContext
    key = (sc.applicationId, probes.semanticHash())
    hit = _PROBE_BC_CACHE.get(key)
    if hit is not None and probes.sameSemantics(hit[0]):
        bc = hit[1]
    else:
        side = _bounded_side(probes)
        if not len(side[0]):
            raise ValueError(
                "semantic decontamination needs a non-empty probe set "
                "(an empty one would silently pass every document)"
            )
        bc = sc.broadcast(side)
        _PROBE_BC_CACHE[key] = (probes, bc)

    def score(pdf):
        p_ids, p_unit = bc.value
        ids, unit = _ids_unit(pdf)
        scores = np.round(unit @ p_unit.T, 4)
        m = scores.max(axis=1)
        # lexicographic argmax (cosine, probe_id): among tied-max
        # columns take the LARGEST probe id — engine-stable
        top = np.where(scores == m[:, None], p_ids[None, :], -1).max(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "n_probe_hits": (scores >= SEM_CONTAM_THRESHOLD).sum(axis=1),
                "top_probe": top,
                "top_cosine": m,
                "contaminated": m >= SEM_CONTAM_THRESHOLD,
            }
        )

    return _batches(score)


from .training import PROBE_MAX_DOC_ID as _SEM_PROBE_MAX  # noqa: E402

ORACLE_SQL["semantic_decontaminate"] = f"""
    WITH pairs AS (
        SELECT a.vec_id, b.vec_id AS probe_id, {_HN_COS} AS c
        FROM embeddings a JOIN embeddings b
          ON a.vec_id >= {_SEM_PROBE_MAX} AND b.vec_id < {_SEM_PROBE_MAX}
    ),
    ranked AS (
        SELECT vec_id, probe_id, c,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY c DESC, probe_id DESC) AS rk,
               CAST(SUM(CASE WHEN c >= {SEM_CONTAM_THRESHOLD} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY vec_id) AS BIGINT) AS n_probe_hits
        FROM pairs
    )
    SELECT vec_id, n_probe_hits, probe_id AS top_probe, c AS top_cosine,
           c >= {SEM_CONTAM_THRESHOLD} AS contaminated
    FROM ranked WHERE rk = 1
"""
