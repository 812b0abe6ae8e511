"""Contract tests for the compute-once seam registry
(bread_spark/plans/materialize.py): cache-key behavior, and equality of
seam-served catalog entries with their underlying builders — the
guarantee that makes the seams an optimization, not a semantics change."""

from __future__ import annotations

from pyspark.sql import functions as F

from bread_spark.plans.materialize import (
    clear_materialized_frames,
    materialized_frame,
)


def test_same_key_returns_same_frame_object(spark, sf_dir):
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    a = materialized_frame(spark, "t_same", sf_dir, build)
    b = materialized_frame(spark, "t_same", sf_dir, build)
    assert a is b
    assert len(calls) == 1  # second call never re-runs the build


def test_params_and_name_partition_the_cache(spark, sf_dir):
    a = materialized_frame(spark, "t_p", sf_dir, lambda: spark.range(1), (1,))
    b = materialized_frame(spark, "t_p", sf_dir, lambda: spark.range(2), (2,))
    c = materialized_frame(spark, "t_q", sf_dir, lambda: spark.range(3))
    assert a is not b and a is not c
    assert a.count() == 1 and b.count() == 2 and c.count() == 3


def test_clear_forces_rebuild(spark, sf_dir):
    a = materialized_frame(spark, "t_clear", sf_dir, lambda: spark.range(5))
    clear_materialized_frames()
    b = materialized_frame(spark, "t_clear", sf_dir, lambda: spark.range(5))
    assert a is not b
    assert b.count() == 5


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_paragraph_dedup_seam_equals_builder(spark, sf_dir):
    """The catalog entry (seam-served) must be row-identical to the
    direct builder over the same input."""
    from bread_spark.extensions.curation import paragraph_dedup, paragraph_dedup_df
    from bread_spark.io import load_table

    served = paragraph_dedup(spark, sf_dir)
    direct = paragraph_dedup_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    cols = ["doc_id", "n_chunks", "n_kept", "text"]
    assert _rows(served, cols) == _rows(direct, cols)


def test_shingle_seam_equals_builder(spark, sf_dir):
    from bread_spark.extensions.dedup import _word_shingles, shingle_frame
    from bread_spark.io import load_table

    served = shingle_frame(spark, sf_dir)
    direct = _word_shingles(load_table(spark, sf_dir, "documents"))
    assert served.count() == direct.count()
    assert (
        served.exceptAll(direct).count() == 0
        and direct.exceptAll(served).count() == 0
    )


def test_lm_seam_equals_builder(spark, sf_dir):
    from bread_spark.extensions.curation import (
        lm_scored_frame,
        ngram_logprob_scores_df,
    )
    from bread_spark.io import load_table

    served = lm_scored_frame(spark, sf_dir, 2)
    direct = ngram_logprob_scores_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), 2
    )
    cols = ["doc_id", "n_tokens", "mean_logp"]
    assert _rows(served, cols) == _rows(direct, cols)


def test_ivf_assignment_seam_equals_builder(spark, sf_dir):
    """The seam serves the builder's rows; clearing the seams also empties
    the side caches registered with them, so a rebuilt assignment frame
    never pairs with a stale centroid matrix or probe broadcast, nor a
    rebuilt `unigram.words` frame with stale training."""
    import os

    from bread_spark.extensions.similarity import (
        _IVF_CENTROID_CACHE,
        _PROBE_BC_CACHE,
        _assign_clusters,
        ivf_assignment_frame,
        ivf_centroid_matrix,
        semantic_decontaminate,
    )
    from bread_spark.extensions.unigram import _TRAINED, _train
    from bread_spark.io import load_table

    cents = ivf_centroid_matrix(spark, sf_dir)
    served = ivf_assignment_frame(spark, sf_dir)
    direct = _assign_clusters(
        spark,
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        cents,
    )
    cols = ["vec_id", "cluster"]
    assert _rows(served, cols) == _rows(direct, cols)
    semantic_decontaminate(spark, sf_dir)  # fills the probe-broadcast cache
    trained = _train(spark, sf_dir)
    # keyed on the realpath, as the `unigram.words` seam is
    assert _train(spark, os.path.join(sf_dir, ".")) is trained
    assert _IVF_CENTROID_CACHE and _PROBE_BC_CACHE and _TRAINED
    clear_materialized_frames()
    assert not _IVF_CENTROID_CACHE and not _PROBE_BC_CACHE and not _TRAINED


def test_ngram5_seams_equal_inline_build(spark, sf_dir):
    """The catalog entry serves the uni/bi/tri/quad count-table seams;
    an inline build that re-counts everything from the raw documents
    must produce identical scores — the seam-equality contract for the
    5-gram chain (and, since the trigram entry shares the order-3 seam,
    for that seam's second consumer)."""
    from bread_spark.extensions.curation import ngram_logprob_scores_df
    from bread_spark.io import load_table
    from bread_spark.queries import QUERIES

    served = QUERIES["ngram5_logprob_scores"](spark, sf_dir)
    direct = ngram_logprob_scores_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), 5
    )
    cols = ["doc_id", "n_tokens", "mean_logp"]
    assert _rows(served, cols) == _rows(direct, cols)
