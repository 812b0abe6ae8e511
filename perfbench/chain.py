"""Seeded Tendermint chain and a height-indexed mock RPC node.

The generator writes the same two document shapes a node serves
(`block_search` blocks and `tx_search` txs) with:

- valid, strictly increasing RFC3339 block times with nanosecond
  precision, one block every ~6 s (about 14,400 blocks a day), starting
  late on a month's last day so a few thousand blocks already span
  several ``year/month/day`` partitions;
- a skewed number of txs per block (most blocks hold 0-2, a few dozens);
- failed txs whose ``log`` is plain text, multi-msg logs, repeated
  (type, key) event attributes and amounts above int64.

`Chain` also keeps the truth tables the benchmark checks the pipeline
against: silver row counts, txs and gas per day.

`MockNode` answers the four endpoints `bread_spark.ingest` calls. It pages
with a bisect on height rather than a scan, and returns ``json.loads`` of
the encoded page, as `ingest.default_fetch` does, so the extractor gets
fresh objects and the encode/decode cost is paid as on a real node.
"""

from __future__ import annotations

import base64
import bisect
import datetime as dt
import json
import random
import re
import threading
import time
from collections import Counter, defaultdict
from urllib.parse import parse_qs, urlparse

CHAIN_ID = "bench-1"
START_HEIGHT = 5_000_001
BLOCK_NS = 6_000_000_000  # 6 s a block: 14,400 blocks a day
# 21:00 UTC on July 31st: the first 3 hours of blocks land on 07-31, then
# the chain crosses into a new month.
GENESIS_NS = int(dt.datetime(2023, 7, 31, 21, tzinfo=dt.timezone.utc).timestamp()) * 10**9

_FAIL_LOG = "out of gas in location: {loc}; gasWanted: {want}, gasUsed: {used}: out of gas"
_DENOMS = ("uatom", "ubread", "ibc/27394FB092D2ECCD56123C74F36E4C1F926001CEADA9CA97EA622B25F41E5EB2")


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def rfc3339_ns(ns: int) -> str:
    """Nanosecond RFC3339 UTC string, as Tendermint prints block times."""
    secs, frac = divmod(ns, 10**9)
    stamp = dt.datetime.fromtimestamp(secs, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    return f"{stamp}.{frac:09d}Z"


def day_of(ns: int) -> str:
    return dt.datetime.fromtimestamp(ns // 10**9, dt.timezone.utc).strftime("%Y-%m-%d")


def _n_txs(rng: random.Random) -> int:
    """Skewed txs per block: ~45% empty, a Pareto tail capped at 60."""
    if rng.random() < 0.45:
        return 0
    return min(int(rng.paretovariate(1.3)), 60)


class Chain:
    """A deterministic chain that grows on demand: `extend(n)` appends the
    next n blocks from the seeded stream, so the same seed always yields
    the same documents whatever the growth steps were."""

    def __init__(self, seed: int, n_blocks: int = 0):
        self.rng = random.Random(seed)
        self.blocks: list[dict] = []
        self.txs: list[dict] = []
        self.heights: list[int] = []  # block heights, ascending
        self.tx_heights: list[int] = []  # tx heights, ascending
        self.tx_no = 0
        # truth per block, indexed like `blocks`
        self._day: list[str] = []
        self._n_txs: list[int] = []
        self._gas: list[int] = []
        self._failed: list[int] = []
        self._log_rows: list[int] = []
        self._event_rows: list[int] = []
        self.extend(n_blocks)

    @property
    def head(self) -> int:
        return self.heights[-1]

    def extend(self, n: int) -> None:
        for _ in range(n):
            self._add_block()

    def _add_block(self) -> None:
        rng = self.rng
        i = len(self.blocks)
        height = START_HEIGHT + i
        ns = GENESIS_NS + i * BLOCK_NS + rng.randrange(10**9)
        n_txs = _n_txs(rng)
        txs = [self._make_tx(height, j) for j in range(n_txs)]
        self.blocks.append(
            {
                "block_id": {"hash": f"{rng.getrandbits(128):032X}"},
                "block": {
                    "header": {
                        "height": str(height),
                        "chain_id": CHAIN_ID,
                        "time": rfc3339_ns(ns),
                        "proposer_address": f"VALOPER{rng.randrange(25):02d}",
                    },
                    "data": {"txs": [t["tx"] for t, _, _ in txs]},
                },
            }
        )
        self.heights.append(height)
        self.txs.extend(t for t, _, _ in txs)
        self.tx_heights.extend([height] * n_txs)
        self._day.append(day_of(ns))
        self._n_txs.append(n_txs)
        self._gas.append(sum(int(t["tx_result"]["gas_used"]) for t, _, _ in txs))
        self._failed.append(sum(t["tx_result"]["code"] != 0 for t, _, _ in txs))
        self._log_rows.append(sum(lr for _, lr, _ in txs))
        self._event_rows.append(sum(er for _, _, er in txs))

    def _make_tx(self, height: int, index: int) -> tuple[dict, int, int]:
        """One tx_search item plus its expected log_attributes and wide
        events row counts."""
        rng = self.rng
        self.tx_no += 1
        failed = rng.random() < 0.08
        n_msgs = 1 if rng.random() < 0.7 else rng.randint(2, 4)
        gas_wanted = rng.randrange(80_000, 400_000)
        gas_used = gas_wanted + 1 if failed else rng.randrange(40_000, gas_wanted)
        sender = f"bread1{rng.getrandbits(100):025x}"
        msgs = []
        for m in range(n_msgs):
            amount = (
                f"{rng.randrange(10**24, 10**26)}{_DENOMS[0]}"  # above int64
                if rng.random() < 0.05
                else f"{rng.randrange(1, 10**7)}{rng.choice(_DENOMS)}"
            )
            recipient = f"bread1{rng.getrandbits(100):025x}"
            msgs.append((amount, recipient))
        events = [
            {
                "type": "message",
                "attributes": [
                    {"key": _b64("action"), "value": _b64("/cosmos.bank.v1beta1.MsgSend"), "index": True},
                    {"key": _b64("sender"), "value": _b64(sender), "index": True},
                ],
            }
        ]
        if not failed:
            # one transfer event per msg: repeated (type, key) → occurrence > 0
            for amount, recipient in msgs:
                events.append(
                    {
                        "type": "transfer",
                        "attributes": [
                            {"key": _b64("recipient"), "value": _b64(recipient), "index": True},
                            {"key": _b64("sender"), "value": _b64(sender), "index": True},
                            {"key": _b64("amount"), "value": _b64(amount), "index": True},
                        ],
                    }
                )
        if failed:
            log = _FAIL_LOG.format(loc=rng.choice(("ReadFlat", "WriteFlat")), want=gas_wanted, used=gas_used)
            log_rows = 0
        else:
            log = json.dumps(
                [
                    {
                        **({"msg_index": m} if n_msgs > 1 else {}),
                        "events": [
                            {
                                "type": "transfer",
                                "attributes": [
                                    {"key": "recipient", "value": recipient},
                                    {"key": "sender", "value": sender},
                                    {"key": "amount", "value": amount},
                                ],
                            },
                            {"type": "message", "attributes": [{"key": "module", "value": "bank"}]},
                        ],
                    }
                    for m, (amount, recipient) in enumerate(msgs)
                ]
            )
            log_rows = 4 * n_msgs
        # wide events: one row per occurrence ordinal of the most repeated key
        keys = Counter((e["type"], a["key"]) for e in events for a in e["attributes"])
        event_rows = max(keys.values())
        tx = {
            "hash": f"{rng.getrandbits(256):064X}",
            "height": str(height),
            "index": index,
            "tx": _b64(f"rawtx-{self.tx_no}"),
            "tx_result": {
                "code": 11 if failed else 0,
                "data": _b64("data") if not failed else "",
                "log": log,
                "info": "",
                "gas_wanted": str(gas_wanted),
                "gas_used": str(gas_used),
                "codespace": "sdk" if failed else "",
                "events": events,
            },
        }
        return tx, log_rows, event_rows

    # -- truth tables over the blocks [0, n) ---------------------------------

    def silver_counts(self, n: int | None = None) -> dict[str, int]:
        n = len(self.blocks) if n is None else n
        return {
            "blocks": n,
            "tx_result": sum(self._n_txs[:n]),
            "log_attributes": sum(self._log_rows[:n]),
            "events": sum(self._event_rows[:n]),
        }

    def per_day(self, n: int | None = None) -> dict[str, dict[str, int]]:
        """{day: {txs, gas, failed}} over the first n blocks, days of
        blocks without txs included with zeros."""
        n = len(self.blocks) if n is None else n
        out: dict[str, dict[str, int]] = defaultdict(lambda: {"txs": 0, "gas": 0, "failed": 0})
        for i in range(n):
            d = out[self._day[i]]
            d["txs"] += self._n_txs[i]
            d["gas"] += self._gas[i]
            d["failed"] += self._failed[i]
        return dict(out)

    def days(self, n: int | None = None) -> list[str]:
        n = len(self.blocks) if n is None else n
        return sorted(set(self._day[:n]))

    def range_rows(self, lo: str, hi: str, min_height: int, n: int | None = None) -> list[dict]:
        """Expected rows of the dashboard's silver day-range query."""
        n = len(self.blocks) if n is None else n
        out: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
        first = bisect.bisect_left(self.heights, min_height, 0, n)
        for i in range(first, n):
            if lo <= self._day[i] <= hi and self._n_txs[i]:
                r = out[self._day[i]]
                r[0] += self._n_txs[i]
                r[1] += self._gas[i]
                r[2] += self._failed[i]
        return [{"day": d, "txs": r[0], "gas": r[1], "failed": r[2]} for d, r in sorted(out.items())]


_RANGE_RE = re.compile(r">= (\d+) AND \S+ <= (\d+)")


class MockNode:
    """A Tendermint RPC node over a `Chain`, serving heights
    [min_height, head]. Thread-safe for the extractor's page pool;
    `busy_s` sums the time spent answering, so harness cost is visible."""

    def __init__(self, chain: Chain, head: int | None = None, min_height: int | None = None):
        self.chain = chain
        self.head = chain.head if head is None else head
        self.min_height = chain.heights[0] if min_height is None else min_height
        self.busy_s = 0.0
        self.pages = 0
        self._lock = threading.Lock()

    def fetch(self, url: str) -> dict:
        t0 = time.perf_counter()
        try:
            return json.loads(json.dumps(self._answer(url)))
        finally:
            with self._lock:
                self.busy_s += time.perf_counter() - t0
                self.pages += 1

    def _answer(self, url: str) -> dict:
        parsed = urlparse(url)
        if parsed.path.endswith("/abci_info"):
            return {"result": {"response": {"last_block_height": str(self.head)}}}
        if parsed.path.endswith("/block"):
            return {
                "error": {
                    "data": f"height 1 is not available, lowest height is {self.min_height}"
                }
            }
        q = parse_qs(parsed.query)
        m = _RANGE_RE.search(q["query"][0])
        start = max(int(m.group(1)), self.min_height)
        end = min(int(m.group(2)), self.head)
        page, per_page = int(q["page"][0]), int(q["per_page"][0])
        if parsed.path.endswith("/block_search"):
            keys, docs, key = self.chain.heights, self.chain.blocks, "blocks"
        else:
            keys, docs, key = self.chain.tx_heights, self.chain.txs, "txs"
        lo = bisect.bisect_left(keys, start)
        hi = bisect.bisect_right(keys, end)
        first = lo + (page - 1) * per_page
        window = docs[first : min(first + per_page, hi)]
        return {"result": {key: window, "total_count": str(max(hi - lo, 0))}}
