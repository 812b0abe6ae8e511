"""Curriculum ordering: window and distributed forms emit the
identical table, stages are consumed in order, and the two-pass rank
is partition-count invariant."""

from __future__ import annotations

import pytest

from bread_spark.extensions.curriculum import (
    curriculum_order,
    curriculum_order_distributed,
)


def _table(df):
    return sorted(
        (r["doc_id"], r["bucket"], r["curriculum_key"], r["curriculum_rank"])
        for r in df.collect()
    )


def test_both_forms_identical_and_ranks_are_a_permutation(spark, sf_dir):
    a = _table(curriculum_order(spark, sf_dir))
    b = _table(curriculum_order_distributed(spark, sf_dir))
    assert a == b
    ranks = sorted(r[3] for r in a)
    assert ranks == list(range(1, len(a) + 1))


def test_stages_consumed_in_order_with_shuffled_interior(spark, sf_dir):
    rows = sorted(
        curriculum_order(spark, sf_dir).collect(),
        key=lambda r: r["curriculum_rank"],
    )
    buckets = [r["bucket"] for r in rows]
    assert buckets == sorted(buckets)  # easy→hard, never interleaved
    # within each stage the order is the seeded md5 key, not doc_id —
    # i.e. the interior really is shuffled
    stage1 = [r for r in rows if r["bucket"] == buckets[0]]
    keys = [r["curriculum_key"] for r in stage1]
    assert keys == sorted(keys)
    assert [r["doc_id"] for r in stage1] != sorted(r["doc_id"] for r in stage1)


@pytest.mark.nightly  # two extra distributed builds; default keeps the forms-identical pin
def test_distributed_rank_is_partition_count_invariant(spark, sf_dir):
    a = _table(curriculum_order_distributed(spark, sf_dir, num_partitions=3))
    b = _table(curriculum_order_distributed(spark, sf_dir, num_partitions=17))
    assert a == b


@pytest.mark.parametrize("n_rows", [5, 0])
def test_global_rank_edge_inputs(spark, n_rows):
    """Fewer rows than range partitions (some ranges empty) and an empty
    frame: ranks are exactly 1..n, equal ROW_NUMBER over the same
    order, and the returned count is n."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bread_spark.plans.rank import global_rank

    df = spark.createDataFrame(
        [(i, f"k{(i * 7) % 3}") for i in range(n_rows)], "doc_id long, key string"
    )
    order = [F.col("key").desc(), F.col("doc_id").asc()]
    ranked, n = global_rank(df, order, "rk", num_partitions=8)
    got = sorted((r["doc_id"], r["key"], r["rk"]) for r in ranked.collect())
    want = sorted(
        (r["doc_id"], r["key"], r["rk"])
        for r in df.select(
            "doc_id", "key", F.row_number().over(Window.orderBy(*order)).alias("rk")
        ).collect()
    )
    assert n == n_rows
    assert got == want
    assert sorted(r[2] for r in got) == list(range(1, n_rows + 1))
    assert ranked.schema["rk"].dataType.typeName() == "long"
