"""Curriculum ordering: a deterministic easy→hard training-data
consumption order with intra-stage shuffling.

Curriculum training reads the corpus fluent-first (the CCNet "head"
bucket) and defers the noisy tail; within a difficulty stage the order
must still be a seeded shuffle so batches stay i.i.d. inside the
stage. This entry composes two CERTIFIED members rather than
inventing new judgment: the stage is `perplexity_buckets`' NTILE
assignment (bucket 1 = most fluent = consumed first) and the
intra-stage order is `shuffle_order`'s seeded md5 key — so the oracle
composes their SQL verbatim and the curriculum can never drift from
the members it claims to sequence.

Output: (doc_id, bucket, curriculum_key, curriculum_rank) — rank 1
is the first doc a dataloader reads; ORDER BY (bucket, key, doc_id)
is a total order, ties impossible.

Scale note, stated in the `perplexity_buckets` tradition: this
catalog/oracle form ranks with one global window (the oracle gate
needs exact ROW_NUMBER semantics; fine to ~100M docs).
`curriculum_order_distributed` is the 100 TB twin — the IDENTICAL
assignment via the two-pass global rank of `plans/rank.py` over
(bucket, key, doc_id), no single-reducer stage. Both forms share one
oracle because they emit the same table.

Streaming: batch-only by design — a curriculum is a total order over
a FROZEN corpus snapshot (the dataloader contract); an appending
corpus re-sequences on the next snapshot, exactly like the shuffle
and packing entries it composes with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.rank import global_rank
from .curation import ORACLE_SQL as _CURATION_ORACLE
from .curation import perplexity_buckets
from .training import _shuffle_key


def _staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return perplexity_buckets(spark, sf_dir).select(
        "doc_id", "bucket", _shuffle_key().alias("curriculum_key")
    )


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Easy→hard total order (module docstring): (doc_id, bucket,
    curriculum_key, curriculum_rank)."""
    staged = _staged(spark, sf_dir)
    w = Window.orderBy("bucket", "curriculum_key", "doc_id")
    return staged.select(
        "doc_id",
        "bucket",
        "curriculum_key",
        F.row_number().over(w).alias("curriculum_rank"),
    )


def curriculum_order_distributed(
    spark: SparkSession, sf_dir: str, num_partitions: int | None = None
) -> DataFrame:
    """The 100 TB twin: identical table, no single-reducer window —
    the two-pass global rank (`plans/rank.py`) over (bucket, key,
    doc_id)."""
    ranked, _ = global_rank(
        _staged(spark, sf_dir),
        ["bucket", "curriculum_key", "doc_id"],
        "curriculum_rank",
        num_partitions,
    )
    return ranked


_CURRICULUM_SQL = f"""
    WITH pb AS MATERIALIZED ({_CURATION_ORACLE["perplexity_buckets"]})
    SELECT doc_id, bucket,
           md5('seed42:' || CAST(doc_id AS VARCHAR)) AS curriculum_key,
           ROW_NUMBER() OVER (
               ORDER BY bucket ASC,
                        md5('seed42:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS curriculum_rank
    FROM pb
"""

ORACLE_SQL: dict[str, str] = {
    "curriculum_order": _CURRICULUM_SQL,
    # the distributed twin emits the identical table — one oracle, two plans
    "curriculum_order_distributed": _CURRICULUM_SQL,
}
