"""Two-pass distributed global rank — ROW_NUMBER over a total order
without a single-reducer window.

The plan is the one RDD `zipWithIndex` runs: `repartitionByRange` on the
order (globally ordered, non-overlapping ranges) → `sortWithinPartitions`
→ `localCheckpoint`, which pins the range layout so both passes see the
same partitions. Pass 1 is a per-partition count aggregate
(#partitions rows reach the driver, by contract); pass 2 adds the
partition's offset to the local ordinal in an Arrow `mapInPandas` that
never materializes a partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def global_rank(
    df: DataFrame,
    order: list[str | Column],
    rank_col: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """(`df` + a 1-based `long` `rank_col` in `order`, row count).

    `order` must be a total order (tie-break on a key) for the ranks to
    be deterministic; `num_partitions` defaults to
    `spark.sql.shuffle.partitions`."""
    import pandas as pd  # noqa: F401 — mapInPandas batch type

    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    ranged = (
        df.repartitionByRange(num_partitions, *order)
        .sortWithinPartitions(*order)
        .localCheckpoint()
    )
    counts = {
        r["pid"]: r["cnt"]
        for r in ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets, n = {}, 0
    for pid in range(num_partitions):
        offsets[pid] = n
        n += counts.get(pid, 0)

    def assign(iterator):
        from pyspark import TaskContext

        start = offsets[TaskContext.get().partitionId()]
        seen = 0
        for pdf in iterator:
            out = pdf.copy()
            out[rank_col] = range(start + seen + 1, start + seen + len(pdf) + 1)
            seen += len(pdf)
            yield out

    schema = StructType(
        [StructField(f.name, f.dataType) for f in ranged.schema]
        + [StructField(rank_col, LongType())]
    )
    return ranged.mapInPandas(assign, schema), n
