"""Dynamic wide-events schema evolution across batches (SURVEY.md §4.2).

The wide `events` table's columns are data-dependent (pivot on observed
type_key). Across batches the key set drifts; the design decision is:
EAV `log_attributes` stays canonical, wide `events` is derived, and
multi-batch reads use parquet `mergeSchema` so early batches surface
later batches' columns as NULL."""

from __future__ import annotations

import base64
import json
import os
import re

from pyspark.sql import functions as F

from bread_spark import parse as P
from tests.fixtures import make_blocks, make_txs


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def _land(landing: str, blocks: list[dict], txs: list[dict]) -> None:
    """One `{start}_{end}.json` batch of blocks and their txs."""
    heights = [b["block"]["header"]["height"] for b in blocks]
    name = f"{heights[0]}_{heights[-1]}.json"
    for kind, items in (("blocks", blocks), ("txs", [t for t in txs if t["height"] in heights])):
        os.makedirs(f"{landing}/{kind}", exist_ok=True)
        with open(f"{landing}/{kind}/{name}", "w") as f:
            f.writelines(json.dumps(item) + "\n" for item in items)


def _parquet_files(table: str) -> dict[str, int]:
    """path → mtime_ns of every parquet file under a silver table."""
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, names in os.walk(table)
        for f in names
        if f.endswith(".parquet")
    }


def test_wide_events_schema_drift_and_merge(spark, tmp_path):
    # batch 1: fixture keys as-is; batch 2: the next heights, each tx
    # carrying a brand-new `airdrop` event (type_key airdrop_claimed)
    # that batch 1 never saw. Both land and append through `parse.run`.
    blocks = make_blocks(40)
    txs = make_txs(blocks)
    batch2 = {b["block"]["header"]["height"] for b in blocks[20:]}
    for tx in txs:
        if tx["height"] in batch2:
            tx["tx_result"]["events"].append(
                {
                    "type": "airdrop",
                    "attributes": [{"key": _b64("claimed"), "value": _b64("42"), "index": True}],
                }
            )
    landing, silver = str(tmp_path / "landing"), str(tmp_path / "silver")
    bronze = (f"{landing}/blocks", f"{landing}/txs")

    _land(landing, blocks[:20], txs)
    P.run(spark, *bronze, out_dir=silver)
    rows1 = spark.read.option("mergeSchema", "true").parquet(f"{silver}/events").count()
    assert "airdrop_claimed" not in spark.read.parquet(f"{silver}/events").columns

    files1 = _parquet_files(f"{silver}/events")
    _land(landing, blocks[20:], txs)
    P.run(spark, *bronze, out_dir=silver)
    # an append, not a rebuild: batch 1's files in the days batch 2 does
    # not reach stay as written (a compaction rewrites only the shared
    # day), so the read below merges files of two schemas
    first_day2 = blocks[20]["block"]["header"]["time"][:10]
    kept = {p: t for p, t in files1.items() if re.search(r"day=([\d-]+)", p)[1] < first_day2}
    after = _parquet_files(f"{silver}/events")
    assert kept and all(after.get(p) == t for p, t in kept.items())
    merged = spark.read.option("mergeSchema", "true").parquet(f"{silver}/events")
    assert "airdrop_claimed" in merged.columns
    # batch-1 rows surface the new column as NULL; batch-2 rows carry it
    # at occurrence 0 (one airdrop per tx — repeated other-type keys add
    # occurrence>0 rows where the new column is NULL, the pivot grain)
    n_txs2 = sum(t["height"] in batch2 for t in txs)
    in_batch2 = F.col("height").isin([int(h) for h in batch2])
    airdrops = merged.filter(F.col("airdrop_claimed") == "42")
    assert airdrops.count() == airdrops.select("hash").distinct().count() == n_txs2
    assert airdrops.filter(~in_batch2 | (F.col("occurrence") != 0)).count() == 0
    assert merged.filter(~in_batch2).count() == rows1
    assert merged.filter(F.col("airdrop_claimed").isNull()).count() == merged.count() - n_txs2

    # EAV canonical stays append-stable: both batches' log_attributes
    # files share one fixed schema, so no merge is needed to read them
    la = f"{silver}/log_attributes"
    assert spark.read.option("mergeSchema", "true").parquet(la).schema == spark.read.parquet(la).schema
