"""Tendermint RPC ingestion client — the landing-zone (bronze) writer.

Re-expresses the reference's extract.py/pipeline.py semantics (SURVEY.md
§2.1 SRC1-SRC9/SRC15-SRC16, §2.9 S1-S6) as a clean driver-side client:
the *source* is a paginated HTTP RPC, not a log, so fetching stays outside
Spark (SURVEY §3.A); Spark takes over at the JSON landing zone.

Differences from the reference are intentional (implement the intent, not
the bugs — SURVEY §7 risks):
  - bounded retries instead of infinite retry loops
  - the sync `extract()` self.tx typo path doesn't exist here
  - watermark metadata is validated against landing-zone filenames
  - dead-letter heights go to a JSON file consumed by a repair plan

HTTP transport is injectable (`fetch`) so tests run hermetically and
prod can plug aiohttp/urllib. No Spark dependency in this module.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import urlencode

FetchFn = Callable[[str], dict]  # url -> parsed JSON (raises on failure)


def default_fetch(url: str) -> dict:
    """urllib transport with bounded retry/backoff (reference
    extract.py:349-371 semantics: 429 → long sleep, other errors → short
    sleep; but bounded at MAX_RETRIES instead of infinite)."""
    import urllib.error
    import urllib.request

    MAX_RETRIES = 5
    for attempt in range(MAX_RETRIES):
        try:
            with urllib.request.urlopen(url, timeout=30) as resp:
                return json.loads(resp.read())
        except urllib.error.HTTPError as e:
            if e.code == 429:
                time.sleep(10)
            else:
                time.sleep(5)
            if attempt == MAX_RETRIES - 1:
                raise
        except (urllib.error.URLError, json.JSONDecodeError):
            if attempt == MAX_RETRIES - 1:
                raise
            time.sleep(5)
    raise RuntimeError("unreachable")


# ---------------------------------------------------------------------------
# Range planning (S1/S2: pipeline.py:16-62)
# ---------------------------------------------------------------------------

@dataclass
class SyncRange:
    start: int
    end: int

    def chunks(self, size: int) -> list[tuple[int, int]]:
        """Chunked micro-batching (S6: num_blocks-sized ranges)."""
        out = []
        lo = self.start
        while lo <= self.end:
            hi = min(lo + size - 1, self.end)
            out.append((lo, hi))
            lo = hi + 1
        return out


def determine_sync_range(
    chain_head: int, min_node_height: int, max_ingested: int | None, num_blocks: int
) -> SyncRange:
    """Forward sync window (S1: pipeline.py:16-41):
    start = max(head - num_blocks, last_ingested + 1, node min)."""
    start = max(chain_head - num_blocks, (max_ingested or 0) + 1, min_node_height)
    return SyncRange(start=start, end=chain_head)


def determine_backfill_range(
    min_ingested: int, min_node_height: int, num_blocks: int
) -> SyncRange | None:
    """Backward backfill window (S2: pipeline.py:44-62):
    end = min_ingested - 1 stepping num_blocks toward the node min."""
    end = min_ingested - 1
    if end < min_node_height:
        return None
    start = max(end - num_blocks + 1, min_node_height)
    return SyncRange(start=start, end=end)


# ---------------------------------------------------------------------------
# Chain discovery (SRC5: extract.py:498-514)
# ---------------------------------------------------------------------------

def get_chain_bounds(rpc_url: str, fetch: FetchFn = default_fetch) -> tuple[int, int]:
    """(min_height, max_height) of the node. Max from /abci_info; min by
    probing /block?height=1 — pruned nodes answer with an error naming
    their lowest retained height."""
    info = fetch(f"{rpc_url}/abci_info")
    max_h = int(info["result"]["response"]["last_block_height"])
    probe = fetch(f"{rpc_url}/block?height=1")
    if "error" in probe:
        # "...lowest height is N"
        msg = probe["error"].get("data", "")
        min_h = int(msg.rstrip().rsplit(" ", 1)[-1])
    else:
        min_h = 1
    return min_h, max_h


# ---------------------------------------------------------------------------
# Paginated range extraction (SRC1/SRC2/SRC6/SRC8)
# ---------------------------------------------------------------------------

def _height(item: dict) -> int:
    """Height of a tx_search or block_search item."""
    return int(item["height"] if "height" in item else item["block"]["header"]["height"])


@dataclass
class Extractor:
    rpc_url: str
    out_dir: str
    network: str = "testnet"
    per_page: int = 100
    # SRC8: bounded-concurrency fetch — the thread-pool size IS the
    # in-flight bound (reference asyncio.Semaphore(10), extract.py:374-406,
    # pipelines/pipeline.py:14). 1 = fully sequential.
    concurrency: int = 10
    fetch: FetchFn = field(default=default_fetch)
    dead_letter: list[int] = field(default_factory=list)

    def _url(self, endpoint: str, query: str, page: int, per_page: int) -> str:
        params = {
            "query": f'"{query}"',
            "page": str(page),
            "per_page": str(per_page),
            # O2: source-side ascending order (reference extract.py:150,169)
            "order_by": '"asc"',
        }
        return f"{self.rpc_url}/{endpoint}?{urlencode(params)}"

    def _scan(self, endpoint: str, query: str, data_key: str, start: int) -> list[dict]:
        """Paged scan of one range (SRC6/SRC8, reference extract.py:374-441).

        Page 1 is fetched alone to learn `total_count` (the reference's
        total-pages precompute); pages 2..n are fetched by a thread pool
        whose size, `concurrency`, bounds the requests in flight (the
        Semaphore(n) analog), and kept in page order. A response that fails
        to parse (oversized JSON) restarts the range at half the page size.
        One that fails at one item per page gives up: `start` is
        dead-lettered and the items before the failing page are returned.
        """
        from concurrent.futures import ThreadPoolExecutor

        def page(p: int) -> dict:
            resp = self.fetch(self._url(endpoint, query, p, per_page))
            return resp.get("result", {})

        per_page = self.per_page
        while True:
            items: list[dict] = []
            try:
                first = page(1)
                items.extend(first.get(data_key, []))
                total = int(first.get("total_count", len(items)))
                if len(items) >= total or not items:
                    return items
                with ThreadPoolExecutor(max_workers=self.concurrency) as pool:
                    for result in pool.map(page, range(2, -(-total // per_page) + 1)):
                        items.extend(result.get(data_key, []))
                return items
            except json.JSONDecodeError:
                if per_page == 1:
                    self.dead_letter.append(start)
                    return items
                per_page //= 2

    def extract_blocks(self, start: int, end: int) -> list[dict]:
        """SRC1: block_search range scan."""
        return self._scan(
            "block_search", f"block.height >= {start} AND block.height <= {end}", "blocks", start
        )

    def extract_txs(self, start: int, end: int) -> list[dict]:
        """SRC2: tx_search range scan."""
        return self._scan("tx_search", f"tx.height >= {start} AND tx.height <= {end}", "txs", start)

    def get_block(self, height: int) -> dict | None:
        """SRC4: point block lookup (`GET /block?height=N`, reference
        extract.py:225) — the repair path's unit of re-fetch."""
        resp = self.fetch(f"{self.rpc_url}/block?height={height}")
        result = resp.get("result")
        if not result:
            return None
        # /block returns {block_id, block}; block_search items share that
        # shape, so point lookups append to the same landing files.
        return {"block_id": result.get("block_id"), "block": result.get("block")}

    def extract_txs_lcd(self, start: int, end: int, page_limit: int = 100) -> list[dict]:
        """SRC3: Cosmos SDK LCD REST scan (reference extract.py:107-141) —
        the alternative endpoint, offset-paginated. Kept for parity and
        node-compatibility; the RPC path is primary (the reference
        measured LCD ~50× slower, extract.py:145)."""
        items: list[dict] = []
        offset = 0
        while True:
            params = urlencode(
                {
                    "events": f"tx.height>={start}",
                    "pagination.limit": str(page_limit),
                    "pagination.offset": str(offset),
                }
            )
            resp = self.fetch(f"{self.rpc_url}/cosmos/tx/v1beta1/txs?{params}")
            batch = resp.get("tx_responses", [])
            items.extend(t for t in batch if int(t.get("height", 0)) <= end)
            total = int(resp.get("pagination", {}).get("total", len(items)))
            offset += len(batch)
            if not batch or offset >= total:
                break
        return items

    def repair_dead_letter(self) -> list[int]:
        """S3: gap fill — re-extract the heights recorded in
        errors/error_heights.json, land them, and leave in the file only
        those that fail again. Each run of consecutive heights is one range
        scan, landed as a `{lo}_{hi}.json` pair named by the heights it
        holds, so a cut that dead-lettered a whole range tail costs a
        range's pages, not a point lookup per height. Where a scan gives up
        again, at height f, f alone is re-fetched by point lookup (SRC4 —
        `/block` may answer for one block where a block_search page holding
        it fails) and the scan resumes at f+1. A height whose lookup or tx
        scan fails again lands nothing, so a height that stays broken
        rewrites no landed file. (The reference's flow has this step
        scaffolded but commented out, pipeline.py:99-109/120-123 —
        implemented here as intended.)"""
        path = os.path.join(self.out_dir, self.network, "errors", "error_heights.json")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            heights = sorted(set(json.load(f)))
        runs: list[list[int]] = []
        for h in heights:
            if runs and h == runs[-1][1] + 1:
                runs[-1][1] = h
            else:
                runs.append([h, h])
        failed: list[int] = []
        for lo, hi in runs:
            while lo <= hi:
                n = len(self.dead_letter)
                blocks, txs = self._extract_range(lo, hi)
                cut = self.dead_letter[n] if len(self.dead_letter) > n else hi + 1
                del self.dead_letter[n:]
                if cut > lo:
                    self.save_batch(blocks, "blocks", lo, cut - 1)
                    self.save_batch(txs, "txs", lo, cut - 1)
                if cut <= hi and not self._land_height(cut):
                    failed.append(cut)
                lo = cut + 1
        with open(path, "w") as f:
            json.dump(failed, f)
        return sorted(set(heights) - set(failed))

    def _land_height(self, h: int) -> bool:
        """Land one height from a point block lookup and its tx scan, as an
        `{h}_{h}.json` pair; False, landing nothing, if either fails."""
        try:
            doc = self.get_block(h)
        except json.JSONDecodeError:
            return False
        if doc is None:
            return False
        n = len(self.dead_letter)
        txs = self.extract_txs(h, h)
        if len(self.dead_letter) > n:
            del self.dead_letter[n:]
            return False
        self.save_batch([doc], "blocks", h, h)
        self.save_batch(txs, "txs", h, h)
        return True

    def save_batch(self, items: list[dict], prefix: str, start: int, end: int) -> str:
        """SRC9: landing-zone sink — JSON-lines (one doc per line) so Spark
        reads each batch file splittably; path mirrors the reference layout
        data/{network}/{prefix}/{start}_{end}.json."""
        d = os.path.join(self.out_dir, self.network, prefix)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{start}_{end}.json")
        with open(path, "w") as f:
            for item in items:
                f.write(json.dumps(item) + "\n")
        return path

    def run_range(self, start: int, end: int) -> dict[str, str]:
        """Extract one range and land it as a `{start}_{end}.json` pair.
        The files keep the range's name even when a scan gave up (see
        `_extract_range`), so the next forward sync starts past the
        dead-lettered heights and only the repair fetches them."""
        blocks, txs = self._extract_range(start, end)
        return {
            "blocks": self.save_batch(blocks, "blocks", start, end),
            "txs": self.save_batch(txs, "txs", start, end),
        }

    def _extract_range(self, start: int, end: int) -> tuple[list[dict], list[dict]]:
        """Blocks and txs of one range. When a scan gives up (see `_scan`),
        only the heights both scans returned in full are kept: blocks
        through the last one returned, txs below the last tx height
        returned (that height's txs may be cut short). Every later height
        is dead-lettered in place of the range start, for
        `repair_dead_letter`."""
        n = len(self.dead_letter)
        blocks = self.extract_blocks(start, end)
        blocks_cut = len(self.dead_letter) > n
        txs = self.extract_txs(start, end)
        txs_cut = len(self.dead_letter) > n + blocks_cut
        if blocks_cut or txs_cut:
            last = end
            if blocks_cut:
                last = _height(blocks[-1]) if blocks else start - 1
            if txs_cut:
                last = min(last, _height(txs[-1]) - 1 if txs else start - 1)
            blocks = [b for b in blocks if _height(b) <= last]
            txs = [t for t in txs if _height(t) <= last]
            self.dead_letter[n:] = range(last + 1, end + 1)
        return blocks, txs

    def flush_dead_letter(self) -> None:
        """SRC16: failed heights → errors/error_heights.json for repair."""
        if not self.dead_letter:
            return
        d = os.path.join(self.out_dir, self.network, "errors")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "error_heights.json")
        existing: list[int] = []
        if os.path.exists(path):
            with open(path) as f:
                existing = json.load(f)
        with open(path, "w") as f:
            json.dump(sorted(set(existing) | set(self.dead_letter)), f)


# ---------------------------------------------------------------------------
# Watermarks from landing-zone filenames (SRC15: extract.py:474-551)
# ---------------------------------------------------------------------------

def ingested_bounds(landing_dir: str) -> tuple[int | None, int | None]:
    """(min, max) ingested height parsed from {start}_{end}.json names
    (P18 filename-range parse + A5 min/max watermark bounds, reference
    extract.py:539-551); (None, None) when the landing zone is empty —
    the reference's FileNotFound→0 path."""
    if not os.path.isdir(landing_dir):
        return None, None
    lo: int | None = None
    hi: int | None = None
    for name in os.listdir(landing_dir):
        if not name.endswith(".json"):
            continue
        stem = name[: -len(".json")]
        try:
            start_s, end_s = stem.split("_")
            start, end = int(start_s), int(end_s)
        except ValueError:
            continue
        lo = start if lo is None else min(lo, start)
        hi = end if hi is None else max(hi, end)
    return lo, hi


def write_metadata(landing_root: str, network: str) -> dict:
    """Persist validated watermarks next to the data (metadata.json).
    Validation = recompute from filenames, the source of truth."""
    blocks_dir = os.path.join(landing_root, network, "blocks")
    lo, hi = ingested_bounds(blocks_dir)
    meta = {"min_ingested_height": lo, "max_ingested_height": hi}
    with open(os.path.join(landing_root, network, "metadata.json"), "w") as f:
        json.dump(meta, f)
    return meta


# ---------------------------------------------------------------------------
# Completeness audit plan (S4: extract.py:229-293) — Spark-side anti-joins
# ---------------------------------------------------------------------------

def audit_missing_blocks(spark, raw_blocks_df, start: int, end: int):
    """Heights in [start, end] absent from the landing zone (J3 anti-join
    against a generated expected-range frame — distributed, unlike the
    reference's Python set difference)."""
    from pyspark.sql import functions as F

    expected = spark.range(start, end + 1).select(F.col("id").alias("height"))
    present = raw_blocks_df.select(F.col("block.header.height").cast("long").alias("height"))
    return expected.join(present, "height", "left_anti")


def audit_missing_txs(spark, raw_blocks_df, raw_txs_df):
    """Blocks whose block.data.txs count exceeds the txs actually landed
    (A6 size/count + J3): returns (height, expected_txs, actual_txs) rows
    needing re-fetch."""
    from pyspark.sql import functions as F

    expected = raw_blocks_df.select(
        F.col("block.header.height").cast("long").alias("height"),
        F.size(F.coalesce(F.col("block.data.txs"), F.array())).alias("expected_txs"),
    )
    actual = (
        raw_txs_df.select(F.col("height").cast("long").alias("height"))
        .groupBy("height")
        .agg(F.count(F.lit(1)).alias("actual_txs"))
    )
    return (
        expected.join(actual, "height", "left")
        .select(
            "height",
            "expected_txs",
            F.coalesce("actual_txs", F.lit(0)).alias("actual_txs"),
        )
        .filter(F.col("expected_txs") > F.col("actual_txs"))
    )
