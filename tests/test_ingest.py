"""Ingestion client tests — hermetic (mock transport), mirroring the
reference's tests/extract_test.py coverage (SURVEY.md §5.1) plus the
Spark-side completeness audits."""

from __future__ import annotations

import json
import re
from urllib.parse import parse_qs, urlparse

import pytest

from bread_spark import ingest
from bread_spark import parse as P
from tests.fixtures import write_fixture_files


def test_sync_range_planning():
    # fresh chain sync limited by num_blocks
    r = ingest.determine_sync_range(chain_head=1000, min_node_height=1, max_ingested=None, num_blocks=100)
    assert (r.start, r.end) == (900, 1000)
    # resume from watermark
    r = ingest.determine_sync_range(1000, 1, 950, 100)
    assert (r.start, r.end) == (951, 1000)
    # pruned node floor wins
    r = ingest.determine_sync_range(1000, 980, None, 100)
    assert (r.start, r.end) == (980, 1000)


def test_backfill_range_planning():
    r = ingest.determine_backfill_range(min_ingested=500, min_node_height=1, num_blocks=100)
    assert (r.start, r.end) == (400, 499)
    assert ingest.determine_backfill_range(2, 1, 100).start == 1
    assert ingest.determine_backfill_range(1, 1, 100) is None


def test_chunking():
    assert ingest.SyncRange(1, 10).chunks(4) == [(1, 4), (5, 8), (9, 10)]
    assert ingest.SyncRange(5, 5).chunks(10) == [(5, 5)]


def test_chain_bounds_pruned_node():
    def fetch(url):
        if "abci_info" in url:
            return {"result": {"response": {"last_block_height": "123456"}}}
        return {"error": {"data": "height 1 is not available, lowest height is 1000"}}

    assert ingest.get_chain_bounds("http://node", fetch) == (1000, 123456)


def test_paged_scan_and_adaptive_page_size(tmp_path):
    """Pagination walks total_count; JSONDecodeError halves per_page and
    recomputes the page (SRC6)."""
    calls = []

    def fetch(url):
        calls.append(url)
        if "per_page=4" in url:
            raise json.JSONDecodeError("too big", "", 0)
        # per_page=2 pages over 5 items
        page = int(url.split("page=")[1].split("&")[0])
        items = [{"i": n} for n in range((page - 1) * 2, min(page * 2, 5))]
        return {"result": {"blocks": items, "total_count": "5"}}

    ex = ingest.Extractor("http://node", str(tmp_path), per_page=4, fetch=fetch)
    items = ex.extract_blocks(1, 10)
    assert [it["i"] for it in items] == [0, 1, 2, 3, 4]
    assert not ex.dead_letter


def test_concurrent_scan_bounded_inflight(tmp_path):
    """SRC8: the pool fetches pages concurrently but never holds more than
    `concurrency` requests in flight (the reference's Semaphore(10)
    semantics), and page order is preserved in the result."""
    import threading
    import time as _time

    lock = threading.Lock()
    inflight = {"now": 0, "max": 0}
    TOTAL, PER_PAGE = 40, 2  # 20 pages

    def fetch(url):
        with lock:
            inflight["now"] += 1
            inflight["max"] = max(inflight["max"], inflight["now"])
        _time.sleep(0.02)
        page = int(url.split("page=")[1].split("&")[0])
        items = [
            {"i": n} for n in range((page - 1) * PER_PAGE, min(page * PER_PAGE, TOTAL))
        ]
        with lock:
            inflight["now"] -= 1
        return {"result": {"blocks": items, "total_count": str(TOTAL)}}

    ex = ingest.Extractor(
        "http://node", str(tmp_path), per_page=PER_PAGE, concurrency=4, fetch=fetch
    )
    items = ex.extract_blocks(1, 100)
    assert [it["i"] for it in items] == list(range(TOTAL))  # ordered, complete
    assert 2 <= inflight["max"] <= 4  # actually concurrent, never over bound


def test_concurrent_scan_matches_sequential(tmp_path):
    """Concurrent and sequential scans return identical items."""

    def fetch(url):
        page = int(url.split("page=")[1].split("&")[0])
        items = [{"i": n} for n in range((page - 1) * 3, min(page * 3, 10))]
        return {"result": {"blocks": items, "total_count": "10"}}

    seq = ingest.Extractor("http://n", str(tmp_path), per_page=3, concurrency=1, fetch=fetch)
    con = ingest.Extractor("http://n", str(tmp_path), per_page=3, concurrency=8, fetch=fetch)
    assert seq.extract_blocks(1, 99) == con.extract_blocks(1, 99)


def _node_with_big_item(total: int, big: int, fits_at: int):
    """A node over items 0..total-1 whose response fails to parse when its
    page holds item `big` and is more than `fits_at` items long."""

    def fetch(url):
        page = int(url.split("page=")[1].split("&")[0])
        per_page = int(url.split("per_page=")[1].split("&")[0])
        ids = range((page - 1) * per_page, min(page * per_page, total))
        if big in ids and per_page > fits_at:
            raise json.JSONDecodeError("too big", "", 0)
        return {"result": {"blocks": [{"i": n} for n in ids], "total_count": str(total)}}

    return fetch


@pytest.mark.parametrize("concurrency", [1, 8])
def test_oversize_on_a_middle_page_returns_the_whole_range(tmp_path, concurrency):
    """Page 2 of 3 is oversized at 4 items a page: the range is fetched
    again at 2, and comes back whole and in order, with no dead letter."""
    fetch = _node_with_big_item(total=10, big=5, fits_at=2)
    ex = ingest.Extractor("http://n", str(tmp_path), per_page=4, concurrency=concurrency, fetch=fetch)
    assert [it["i"] for it in ex.extract_blocks(3, 99)] == list(range(10))
    assert ex.dead_letter == []


@pytest.mark.parametrize("concurrency", [1, 8])
def test_item_too_big_alone_returns_the_items_before_it(tmp_path, concurrency):
    """Item 5 fails to parse even alone: the scan gives up, returns items
    0..4 in order, and dead-letters the range start."""
    fetch = _node_with_big_item(total=10, big=5, fits_at=0)
    ex = ingest.Extractor("http://n", str(tmp_path), per_page=4, concurrency=concurrency, fetch=fetch)
    assert [it["i"] for it in ex.extract_blocks(3, 99)] == [0, 1, 2, 3, 4]
    assert ex.dead_letter == [3]


def _h(item: dict) -> int:
    return int(item["height"] if "height" in item else item["block"]["header"]["height"])


def _node_with_bad_height(bad: int, scan: str):
    """A node over heights 100..109, two txs a height, whose `scan`
    ("blocks" or "txs") response fails to parse whenever its page holds
    height `bad`'s block (or its second tx), even alone. Point block
    lookups answer."""
    blocks = [
        {"block_id": {"hash": f"H{h}"}, "block": {"header": {"height": str(h)}}}
        for h in range(100, 110)
    ]
    txs = [{"hash": f"T{h}_{j}", "height": str(h)} for h in range(100, 110) for j in range(2)]
    too_big = blocks[bad - 100] if scan == "blocks" else txs[2 * (bad - 100) + 1]

    def fetch(url):
        parsed = urlparse(url)
        q = parse_qs(parsed.query)
        if parsed.path.endswith("/block"):
            return {"result": blocks[int(q["height"][0]) - 100]}
        lo, hi = map(int, re.findall(r"\d+", q["query"][0]))
        key = "blocks" if "block_search" in parsed.path else "txs"
        pool = [it for it in (blocks if key == "blocks" else txs) if lo <= _h(it) <= hi]
        page, per_page = int(q["page"][0]), int(q["per_page"][0])
        window = pool[(page - 1) * per_page : page * per_page]
        if too_big in window:
            raise json.JSONDecodeError("too big", "", 0)
        return {"result": {key: window, "total_count": str(len(pool))}}

    return fetch


def _landed(root) -> tuple[list[int], list[str], list[int]]:
    """(block heights, tx hashes, dead-lettered heights) in a landing zone."""
    def lines(kind):
        return [json.loads(ln) for f in sorted((root / kind).iterdir()) for ln in f.open()]

    errors = root / "errors" / "error_heights.json"
    return (
        sorted(_h(b) for b in lines("blocks")),
        sorted(t["hash"] for t in lines("txs")),
        json.loads(errors.read_text()) if errors.exists() else [],
    )


@pytest.mark.parametrize("scan", ["blocks", "txs"])
def test_a_scan_that_gives_up_lands_each_height_once(tmp_path, scan):
    """Height 105 fails even at one item per page: the range lands the
    heights before it, whole, and dead-letters the rest; each height is
    landed or dead-lettered, never both, and the repair lands nothing
    twice. A height whose txs still fail stays dead-lettered."""
    ex = ingest.Extractor(
        "http://n", str(tmp_path), network="n1", per_page=4, fetch=_node_with_bad_height(105, scan)
    )
    ex.run_range(100, 109)
    ex.flush_dead_letter()
    heights, hashes, errors = _landed(tmp_path / "n1")
    assert heights == list(range(100, 105)) and errors == list(range(105, 110))
    assert hashes == sorted(f"T{h}_{j}" for h in heights for j in range(2))
    assert ingest.ingested_bounds(str(tmp_path / "n1" / "blocks")) == (100, 109)

    ex.repair_dead_letter()
    heights, hashes, errors = _landed(tmp_path / "n1")
    assert errors == ([] if scan == "blocks" else [105])
    assert heights == sorted(set(range(100, 110)) - set(errors))
    assert hashes == sorted(f"T{h}_{j}" for h in heights for j in range(2))


def test_adaptive_page_size_gives_up(tmp_path):
    def fetch(url):
        raise json.JSONDecodeError("too big", "", 0)

    ex = ingest.Extractor("http://node", str(tmp_path), per_page=2, fetch=fetch)
    assert ex.extract_blocks(7, 10) == []
    assert ex.dead_letter == [7]
    ex.flush_dead_letter()
    with open(tmp_path / "testnet" / "errors" / "error_heights.json") as f:
        assert json.load(f) == [7]


def test_save_batch_layout_and_watermarks(tmp_path):
    ex = ingest.Extractor("http://node", str(tmp_path), network="chainx", fetch=lambda u: {})
    ex.save_batch([{"a": 1}], "blocks", 100, 199)
    ex.save_batch([{"a": 2}], "blocks", 200, 299)
    lo, hi = ingest.ingested_bounds(str(tmp_path / "chainx" / "blocks"))
    assert (lo, hi) == (100, 299)
    meta = ingest.write_metadata(str(tmp_path), "chainx")
    assert meta == {"min_ingested_height": 100, "max_ingested_height": 299}
    # empty landing zone → None watermarks (reference FileNotFound→0 path)
    assert ingest.ingested_bounds(str(tmp_path / "nope")) == (None, None)


def test_point_block_lookup(tmp_path):
    """SRC4: GET /block?height=N returns the block_search item shape."""
    def fetch(url):
        assert url == "http://node/block?height=42"
        return {"result": {"block_id": {"hash": "H42"}, "block": {"header": {"height": "42"}}}}

    ex = ingest.Extractor("http://node", str(tmp_path), fetch=fetch)
    doc = ex.get_block(42)
    assert doc["block_id"]["hash"] == "H42"
    assert doc["block"]["header"]["height"] == "42"
    # missing height → None
    ex2 = ingest.Extractor("http://node", str(tmp_path), fetch=lambda u: {"error": {}})
    assert ex2.get_block(7) is None


def test_lcd_scan_offset_pagination(tmp_path):
    """SRC3: LCD REST endpoint, offset-paged, range-filtered."""
    all_txs = [{"txhash": f"T{i}", "height": str(100 + i)} for i in range(5)]

    def fetch(url):
        assert "/cosmos/tx/v1beta1/txs" in url
        offset = int(url.split("pagination.offset=")[1].split("&")[0])
        return {"tx_responses": all_txs[offset : offset + 2], "pagination": {"total": "5"}}

    ex = ingest.Extractor("http://node", str(tmp_path), fetch=fetch)
    got = ex.extract_txs_lcd(100, 102, page_limit=2)
    assert [t["txhash"] for t in got] == ["T0", "T1", "T2"]  # 103/104 out of range


def test_repair_dead_letter_gap_fill(tmp_path):
    """S3: error heights re-fetched, landing files appended, ledger
    cleared of successes only. Height 8 fails both in a block_search
    page and by point lookup: the run 7..9 lands 7, keeps 8 in the
    ledger, and resumes at 9."""
    def block(h):
        return {"block_id": {"hash": f"H{h}"}, "block": {"header": {"height": str(h)}}}

    def fetch(url):
        q = parse_qs(urlparse(url).query)
        if "/block?height=" in url:
            h = int(q["height"][0])
            return {"error": {"data": "still missing"}} if h == 8 else {"result": block(h)}
        if "block_search" not in url:
            return {"result": {"txs": [], "total_count": "0"}}
        lo, hi = map(int, re.findall(r"\d+", q["query"][0]))
        pool = [block(h) for h in range(max(lo, 7), min(hi, 9) + 1)]
        page, per_page = int(q["page"][0]), int(q["per_page"][0])
        window = pool[(page - 1) * per_page : page * per_page]
        if any(_h(b) == 8 for b in window):
            raise json.JSONDecodeError("too big", "", 0)
        return {"result": {"blocks": window, "total_count": str(len(pool))}}

    ex = ingest.Extractor("http://node", str(tmp_path), network="n1", fetch=fetch)
    ex.dead_letter = [7, 8, 9]
    ex.flush_dead_letter()
    repaired = ex.repair_dead_letter()
    assert repaired == [7, 9]
    with open(tmp_path / "n1" / "errors" / "error_heights.json") as f:
        assert json.load(f) == [8]  # the still-failing height stays
    assert (tmp_path / "n1" / "blocks" / "7_7.json").exists()
    assert (tmp_path / "n1" / "blocks" / "9_9.json").exists()


def test_audit_missing_blocks_and_txs(spark, tmp_path):
    bdir, tdir, blocks, txs = write_fixture_files(str(tmp_path))
    raw_blocks = P.read_raw_blocks(spark, bdir)
    raw_txs = P.read_raw_txs(spark, tdir)
    start = min(int(b["block"]["header"]["height"]) for b in blocks)
    end = max(int(b["block"]["header"]["height"]) for b in blocks)

    # no gaps in the fixture → no missing blocks; widen range by 2 → 2 missing
    assert ingest.audit_missing_blocks(spark, raw_blocks, start, end).count() == 0
    missing = ingest.audit_missing_blocks(spark, raw_blocks, start, end + 2)
    assert sorted(r["height"] for r in missing.collect()) == [end + 1, end + 2]

    # fixture txs are complete → audit empty
    assert ingest.audit_missing_txs(spark, raw_blocks, raw_txs).count() == 0
    # drop one tx's height from the landing zone → that height flagged
    victim = txs[0]
    pruned = raw_txs.filter(f"hash != '{victim['hash']}'")
    flagged = ingest.audit_missing_txs(spark, raw_blocks, pruned).collect()
    assert len(flagged) == 1
    assert flagged[0]["height"] == int(victim["height"])
    assert flagged[0]["expected_txs"] == flagged[0]["actual_txs"] + 1
