"""Tests of the benchmark's own parts: the seeded chain, the mock node and
BENCHMARK.json. They need no Spark session:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from chain import BLOCK_NS, Chain, MockNode  # noqa: E402

from bread_spark.ingest import Extractor  # noqa: E402
from tests.fixtures import make_mock_rpc  # noqa: E402

RFC3339_NS = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{9}Z$")


def _ns(stamp: str) -> int:
    secs = dt.datetime.strptime(stamp[:19], "%Y-%m-%dT%H:%M:%S").replace(tzinfo=dt.timezone.utc)
    return int(secs.timestamp()) * 10**9 + int(stamp[20:29])


def test_generation_is_deterministic_by_seed():
    a, b = Chain(7, 600), Chain(7, 600)
    assert a.blocks == b.blocks and a.txs == b.txs
    assert Chain(8, 600).blocks != a.blocks
    # growth steps do not change the stream
    c = Chain(7, 250)
    c.extend(350)
    assert c.blocks == a.blocks and c.txs == a.txs


def test_timestamps_parse_and_are_monotone():
    chain = Chain(3, 20_000)
    stamps = [b["block"]["header"]["time"] for b in chain.blocks]
    assert all(RFC3339_NS.match(s) for s in stamps)
    ns = [_ns(s) for s in stamps]
    assert all(x < y for x, y in zip(ns, ns[1:]))
    days = chain.days()
    assert len(days) >= 2 and days[0][:7] != days[-1][:7]  # crosses a month
    per_day = (ns[-1] - ns[0]) / len(ns) / 1e9
    assert abs(per_day - BLOCK_NS / 1e9) < 0.1  # ~14,400 blocks a day


def test_chain_has_the_parse_edge_cases():
    chain = Chain(5, 3_000)
    counts = [len(b["block"]["data"]["txs"]) for b in chain.blocks]
    assert counts.count(0) > len(counts) // 4 and max(counts) >= 20  # skewed
    logs = [t["tx_result"]["log"] for t in chain.txs]
    failed = [t for t in chain.txs if t["tx_result"]["code"] != 0]
    assert failed and all(not t["tx_result"]["log"].startswith("[") for t in failed)
    assert any(len(json.loads(log)) > 1 for log in logs if log.startswith("["))
    amounts = [
        a["value"]
        for log in logs
        if log.startswith("[")
        for m in json.loads(log)
        for e in m["events"]
        for a in e["attributes"]
        if a["key"] == "amount"
    ]
    assert any(int(re.match(r"\d+", v).group()) > 2**63 for v in amounts)
    assert len({t["hash"] for t in chain.txs}) == len(chain.txs)


def test_truth_tables_match_the_documents():
    chain = Chain(9, 2_000)
    want = chain.silver_counts()
    assert want["blocks"] == len(chain.blocks)
    assert want["tx_result"] == len(chain.txs)
    per_day = chain.per_day()
    assert sum(d["txs"] for d in per_day.values()) == len(chain.txs)
    assert sum(d["gas"] for d in per_day.values()) == sum(
        int(t["tx_result"]["gas_used"]) for t in chain.txs
    )
    # a prefix's truth covers only the prefix
    assert chain.silver_counts(100)["tx_result"] == sum(
        len(b["block"]["data"]["txs"]) for b in chain.blocks[:100]
    )


@pytest.mark.parametrize("concurrency", [1, 10])
def test_mock_node_pages_like_the_fixture_node(concurrency):
    chain = Chain(11, 300)
    lo, hi = chain.heights[0], chain.head
    ours = Extractor("http://node", "/unused", per_page=7, concurrency=concurrency, fetch=MockNode(chain).fetch)
    ref = Extractor(
        "http://node", "/unused", per_page=7, concurrency=concurrency,
        fetch=make_mock_rpc(chain.blocks, chain.txs),
    )
    for start, end in [(lo, hi), (lo + 13, lo + 90), (hi - 4, hi), (hi + 1, hi + 50)]:
        assert ours.extract_blocks(start, end) == ref.extract_blocks(start, end)
        assert ours.extract_txs(start, end) == ref.extract_txs(start, end)


def test_mock_node_serves_up_to_its_head():
    chain = Chain(12, 100)
    node = MockNode(chain, head=chain.heights[49])
    ex = Extractor("http://node", "/unused", fetch=node.fetch)
    assert ex.extract_blocks(chain.heights[0], chain.head) == chain.blocks[:50]
    assert node.fetch("http://node/abci_info")["result"]["response"]["last_block_height"] == str(
        chain.heights[49]
    )


def test_benchmark_json_names_what_run_prints():
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in bench["end_to_end"]] == list(run.END_TO_END.values())
    assert [m["name"] for m in bench["per_layer"]] == list(workloads.PER_LAYER)
    assert [m["unit"] for m in bench["per_layer"]] == [run.unit_of(n) for n in workloads.PER_LAYER]
