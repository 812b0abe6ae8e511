"""Deterministic raw blockchain JSON fixtures (FIXTURES.md §1-2).

Generates block_search / tx_search result documents exercising every parse
edge the reference hits: txs with zero events, repeated (type,key) pairs in
one tx (occurrence ordinals), multi-msg logs, malformed log strings (safe
parse), amounts > int64, ns-precision timestamps.
"""

from __future__ import annotations

import base64
import json
import os
import random
from datetime import datetime, timedelta

CHAIN_ID = "testnet-1"
START_HEIGHT = 10_000_001
FIRST_BLOCK_TIME = datetime(2023, 7, 1, 0, 34, 56)
BLOCK_INTERVAL = timedelta(hours=3)


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def make_blocks(
    n_blocks: int = 20, seed: int = 42, interval: timedelta = BLOCK_INTERVAL
) -> list[dict]:
    rng = random.Random(seed)
    blocks = []
    for i in range(n_blocks):
        height = START_HEIGHT + i
        # ns-precision RFC3339 timestamps, monotone across month ends
        t = FIRST_BLOCK_TIME + interval * i
        ns = rng.randrange(10**9)
        blocks.append(
            {
                "block_id": {"hash": f"BLOCKHASH{height}"},
                "block": {
                    "header": {
                        "height": str(height),
                        "chain_id": CHAIN_ID,
                        "time": f"{t:%Y-%m-%dT%H:%M:%S}.{ns:09d}Z",
                        "proposer_address": f"PROPOSER{i % 4}",
                    },
                    "data": {"txs": [_b64(f"tx{height}_{j}") for j in range(i % 3)]},
                },
            }
        )
    return blocks


def make_txs(blocks: list[dict], seed: int = 43) -> list[dict]:
    rng = random.Random(seed)
    txs = []
    tx_no = 0
    for blk in blocks:
        height = blk["block"]["header"]["height"]
        n_txs = len(blk["block"]["data"]["txs"])
        for j in range(n_txs):
            tx_no += 1
            h = f"{'%064X' % (tx_no * 7919)}"
            amount = (
                f"{rng.randrange(10**3)}uatom"
                if tx_no % 4
                else "123456789012345678901234uatom"  # > int64
            )
            events = []
            if tx_no % 5 != 0:  # some txs have zero events
                events = [
                    {
                        "type": "transfer",
                        "attributes": [
                            {"key": _b64("amount"), "value": _b64(amount), "index": True},
                            {"key": _b64("sender"), "value": _b64(f"cosmos1sender{j}"), "index": True},
                        ],
                    },
                    {
                        "type": "message",
                        "attributes": [{"key": _b64("module"), "value": _b64("bank")}],
                    },
                ]
                if tx_no % 3 == 0:
                    # repeated (type,key) pair within one tx → occurrence > 0
                    events.append(
                        {
                            "type": "transfer",
                            "attributes": [
                                {"key": _b64("amount"), "value": _b64("55uatom"), "index": True}
                            ],
                        }
                    )
            if tx_no % 7 == 0:
                log = "NOT VALID JSON {"  # malformed → safe-parse NULL
            else:
                log = json.dumps(
                    [
                        {
                            "msg_index": m,
                            "events": [
                                {
                                    "type": "transfer",
                                    "attributes": [
                                        {"key": "recipient", "value": f"cosmos1r{m}"},
                                        {"key": "amount", "value": amount},
                                    ],
                                }
                            ],
                        }
                        for m in range(1 + tx_no % 2)
                    ]
                )
            txs.append(
                {
                    "hash": h,
                    "height": height,
                    "index": j,
                    "tx": _b64(f"rawtx{tx_no}"),
                    "tx_result": {
                        "code": 0 if tx_no % 6 else 11,
                        "data": _b64("data"),
                        "log": log,
                        "info": "",
                        "gas_wanted": str(200000 + tx_no),
                        "gas_used": str(100000 + tx_no * 3),
                        "codespace": "" if tx_no % 6 else "sdk",
                        "events": events,
                    },
                }
            )
    return txs


def make_mock_rpc(blocks: list[dict], txs: list[dict]):
    """A fake Tendermint node: abci_info, /block min-height probe,
    block_search and tx_search with real pagination over a fixture chain."""
    import re
    from urllib.parse import parse_qs, urlparse

    head = max(int(b["block"]["header"]["height"]) for b in blocks)
    lo = min(int(b["block"]["header"]["height"]) for b in blocks)

    def fetch(url):
        parsed = urlparse(url)
        q = parse_qs(parsed.query)
        if "abci_info" in parsed.path:
            return {"result": {"response": {"last_block_height": str(head)}}}
        if parsed.path.endswith("/block"):
            return {"error": {"data": f"height 1 is not available, lowest height is {lo}"}}
        query = q["query"][0].strip('"')
        m = re.search(r">= (\d+) AND \S+ <= (\d+)", query)
        start, end = int(m.group(1)), int(m.group(2))
        page, per_page = int(q["page"][0]), int(q["per_page"][0])
        if "block_search" in parsed.path:
            pool = [b for b in blocks if start <= int(b["block"]["header"]["height"]) <= end]
            key = "blocks"
        else:
            pool = [t for t in txs if start <= int(t["height"]) <= end]
            key = "txs"
        window = pool[(page - 1) * per_page : page * per_page]
        return {"result": {key: window, "total_count": str(len(pool))}}

    return fetch


def write_fixture_files(tmpdir: str, n_blocks: int = 20) -> tuple[str, str, list[dict], list[dict]]:
    """Write {start}_{end}.json batch files (the reference's landing-zone
    layout, extract.py:175-192) as JSON-lines for Spark."""
    blocks = make_blocks(n_blocks)
    txs = make_txs(blocks)
    bdir = os.path.join(tmpdir, "blocks")
    tdir = os.path.join(tmpdir, "txs")
    os.makedirs(bdir, exist_ok=True)
    os.makedirs(tdir, exist_ok=True)
    mid = n_blocks // 2
    end = START_HEIGHT + n_blocks - 1
    batches = [
        (START_HEIGHT, START_HEIGHT + mid - 1, blocks[:mid]),
        (START_HEIGHT + mid, end, blocks[mid:]),
    ]
    for start, stop, items in batches:
        with open(os.path.join(bdir, f"{start}_{stop}.json"), "w") as f:
            for item in items:
                f.write(json.dumps(item) + "\n")
    heights = {b["block"]["header"]["height"] for b in blocks}
    for start, stop, _ in batches:
        lo, hi = str(start), str(stop)
        with open(os.path.join(tdir, f"{start}_{stop}.json"), "w") as f:
            for tx in txs:
                if lo <= tx["height"] <= hi and tx["height"] in heights:
                    f.write(json.dumps(tx) + "\n")
    return bdir, tdir, blocks, txs
