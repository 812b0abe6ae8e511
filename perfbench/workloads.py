"""The benchmark workloads, each a closed loop with one client.

- `sync`: set-up lands and parses HISTORY blocks and keeps a copy of the
  landing zone, silver and gold. One operation restores that copy
  (untimed), advances the node's head BATCH blocks past it, runs the flow
  (`pipeline.data_pipeline`), re-registers the views and loads the
  refreshed page. A read phase of page loads follows it. Every operation
  thus starts from the same history, however many ran before it.
- `catalog`: one operation is a pass over CATALOG_QUERIES
  (`queries.QUERIES[name]`), each fully materialized with a ``noop`` write,
  with the seam cache cleared and every persisted RDD unpersisted, untimed,
  before the pass. Its inputs are the bundled sf0.001 tables and a fixed
  query order, whatever the seed: the order decides which query pays for
  each shared seam, and a seeded order moved the pass time by a third
  between seeds.

Every output is checked after the timed region: silver counts and every
served page against the chain's truth tables, and each catalog query once
per invocation against its DuckDB oracle.

A workload has `setup()`, `op(traced) -> seconds`, `layer(since, wall)`
(the per-layer sample of one traced operation) and `verify()`. After
`setup()` the run repeats `op` untimed until it settles (`run.warm_up`).
"""

from __future__ import annotations

import os
import shutil
import time

from chain import Chain, MockNode

RPC_URL = "http://bench-node"
NETWORK = "testnet"

# sync: landed history, new blocks per operation, flow window, and enough
# backfill windows per flow run to land the history from empty
HISTORY = 3_000
BATCH = 100
SYNC_WINDOW = 1_000
BACKFILL_BATCHES = -(-HISTORY // SYNC_WINDOW)
# page loads in each read phase; every RELOAD_EVERY-th reloads the
# operation's first page (answered from the QueryService cache). A fixed
# share, not a random one: the latency median sits among the misses, and a
# varying count of hits would move it between seeds.
READS_PER_OP = 6
RELOAD_EVERY = 4

GOLD_TABLES = ("gas_used_per_day", "num_txs_per_day", "cum_txs_per_day")

PAGE = """# Chain activity

```sql txs_daily
SELECT CAST(CAST(day AS DATE) AS STRING) AS day, tx_count, cum_tx_count
FROM cum_txs_per_day ORDER BY day
```

```sql gas_daily
SELECT CAST(CAST(day AS DATE) AS STRING) AS day, CAST(total_gas_used AS BIGINT) AS gas
FROM gas_used_per_day ORDER BY day
```

```sql range_txs
SELECT CAST(day AS STRING) AS day, COUNT(*) AS txs,
       SUM(CAST(gas_used AS BIGINT)) AS gas,
       SUM(CASE WHEN code = 0 THEN 0 ELSE 1 END) AS failed
FROM tx_result
WHERE day BETWEEN DATE'{lo}' AND DATE'{hi}' AND height >= {min_height}
GROUP BY day ORDER BY day
```

```sql txs_total
SELECT MAX(cum_tx_count) AS txs FROM ${{txs_daily}}
```
"""
PAGE_QUERIES = PAGE.count("```sql")

# A fixed subset of the 58-query frozen set plus the six roadmap-targeted
# entries. All 64 take over half a minute a warm pass on 4 cores even at
# sf0.001, and a fresh session needs several passes to settle, so they do
# not fit one run. These keep one member of each family that roadmap
# item 5 targets and a cheap frozen entry each from asof, curation and
# models, whose noop/count ratios were among the highest.
CATALOG_QUERIES = (
    "trigram_logprob_scores",  # n-gram LM family (one order-k scorer)
    "minhash_md5_candidates",  # md5 hash lanes (MinHash-LSH)
    "simhash_md5_pairs",  # md5 hash lanes (SimHash)
    "last_purchase_asof",
    "corpus_stats_by_source",
    "pricing_summary",
)
CATALOG_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

FLOW_LAYERS = (
    "ingest.busy_s", "ingest.pages", "ingest.landing_bytes", "node.busy_s",
    "parse.busy_s", "parse.write_s", "parse.jobs", "parse.tasks", "parse.cpu_s",
    "parse.input_bytes", "parse.shuffle_bytes", "parse.spill_bytes",
    "parse.files_written", "parse.bronze_reads",
    "gold.busy_s", "gold.assert_s", "gold.jobs", "gold.tasks", "gold.cpu_s", "gold.input_bytes",
    "pipeline.self_s", "pipeline.jobs_self",
    "serve.busy_s", "serve.queries_executed", "serve.cache_hit_ratio",
    "serve.jobs_per_query", "serve.files_per_query", "serve.input_bytes_per_query",
    "serve.stale_pages", "store.bytes_ratio",
)
CATALOG_LAYERS = (
    "catalog.jobs", "catalog.tasks", "catalog.cpu_s", "catalog.input_bytes",
    "catalog.shuffle_bytes", "catalog.spill_bytes", "seam.builds", "seam.cached_bytes",
) + tuple(f"catalog.q.{q}.s" for q in CATALOG_QUERIES)
TRACE_METRICS = ("trace.op_s", "trace.overhead_s", "trace.unaccounted_s")
PER_LAYER = FLOW_LAYERS + CATALOG_LAYERS + TRACE_METRICS


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n)) for root, _, names in os.walk(path) for n in names
    )


def _parquet_files(path: str) -> int:
    return sum(n.endswith(".parquet") for _, _, names in os.walk(path) for n in names)


def _get(totals: dict, name: str, key: str) -> float:
    return totals.get(name, {}).get(key, 0)


def expected_page(chain: Chain, n: int, spec: tuple[str, str, int]) -> dict[str, list[dict]]:
    """The dashboard page's rows over the chain's first n blocks."""
    per_day = {d: v for d, v in chain.per_day(n).items() if v["txs"]}
    days = sorted(per_day)
    cum = 0
    txs_daily = []
    for d in days:
        cum += per_day[d]["txs"]
        txs_daily.append({"day": d, "tx_count": per_day[d]["txs"], "cum_tx_count": cum})
    return {
        "txs_daily": txs_daily,
        "gas_daily": [{"day": d, "gas": per_day[d]["gas"]} for d in days],
        "range_txs": chain.range_rows(*spec, n=n),
        "txs_total": [{"txs": cum}],
    }


# ---------------------------------------------------------------------------
# sync
# ---------------------------------------------------------------------------


class Sync:
    """Pipeline + dashboard operations over a fixed history."""

    def __init__(self, run):
        import bread_spark.ingest as ingest
        import bread_spark.io as io
        import bread_spark.parse as parse
        import bread_spark.pipeline as pipeline
        from bread_spark.serve import QueryService

        self.run = run
        self.pipeline = pipeline
        self.QueryService = QueryService
        self.landing = os.path.join(run.work, "landing")
        self.silver = os.path.join(run.work, "silver")
        self.gold = os.path.join(run.work, "gold")
        self.snapshot = os.path.join(run.work, "history")
        self.chain = Chain(run.seed)
        self.node: MockNode | None = None
        self.kept = None  # a QueryService kept since set-up (stale-page probe)
        self.count_checks: list[tuple[int, dict]] = []
        self.page_checks: list[tuple[int, tuple, dict]] = []
        self.last = {}  # per-operation probes for the traced layer sample

        t = run.tracer
        t.patch(ingest.Extractor, "run_range", "ingest")
        t.patch(ingest.Extractor, "flush_dead_letter", "ingest.plan")
        for fn in ("get_chain_bounds", "ingested_bounds", "write_metadata"):
            t.patch(pipeline, fn, "ingest.plan")
        t.patch(parse, "run", "parse")
        t.patch(io, "write_partitioned", "parse.write")
        t.patch(pipeline, "build_gold", "gold")
        t.patch(pipeline, "assert_unique", "gold.assert")
        t.patch(pipeline, "assert_not_null", "gold.assert")
        t.patch(QueryService, "run_page", "serve.page")
        t.patch(QueryService, "run_json", "serve.query", sql_files=True)

    def setup(self) -> None:
        """Lands and parses the history from empty, keeps a copy of it, then
        extends the chain by one batch for the operations to sync."""
        self.chain.extend(HISTORY)
        self.node = MockNode(self.chain)
        self.flow()
        self.start_kept_service()
        for d in (self.landing, self.silver, self.gold):
            shutil.copytree(d, os.path.join(self.snapshot, os.path.basename(d)))
        self.chain.extend(BATCH)
        self.node.head = self.chain.head

    def restore(self) -> None:
        """Untimed, before each operation: back to the landed history."""
        for d in (self.landing, self.silver, self.gold):
            shutil.rmtree(d)
            shutil.copytree(os.path.join(self.snapshot, os.path.basename(d)), d)

    # -- one flow run and one page -----------------------------------------

    def flow(self) -> int:
        """Flow run + view registration; returns the blocks now in silver."""
        tracer = self.run.tracer
        with tracer.span("pipeline"):
            res = self.pipeline.data_pipeline(
                self.run.spark,
                RPC_URL,
                self.landing,
                self.silver,
                self.gold,
                network=NETWORK,
                num_blocks=SYNC_WINDOW,
                backfill_batches=BACKFILL_BATCHES,
                fetch=self.node.fetch,
            )
        n = res.metadata["max_ingested_height"] - self.chain.heights[0] + 1
        self.count_checks.append((n, dict(res.silver_counts)))
        with tracer.span("views"):
            spark = self.run.spark
            for t in GOLD_TABLES:
                spark.read.parquet(f"{self.gold}/{t}").createOrReplaceTempView(t)
            spark.read.parquet(f"{self.silver}/tx_result").createOrReplaceTempView("tx_result")
        return n

    def default_spec(self, n: int) -> tuple[str, str, int]:
        days = self.chain.days(n)
        return days[0], days[-1], self.chain.heights[0]

    def random_spec(self, n: int) -> tuple[str, str, int]:
        rng = self.run.rng
        days = self.chain.days(n)
        i = rng.randrange(len(days))
        j = rng.randrange(i, len(days))
        return days[i], days[j], rng.randrange(self.chain.heights[0], self.chain.heights[n - 1])

    def load(self, svc, n: int, spec: tuple[str, str, int]) -> None:
        lo, hi, min_height = spec
        before = svc.executions
        page = svc.run_page(PAGE.format(lo=lo, hi=hi, min_height=min_height))
        self.last["calls"] += PAGE_QUERIES
        self.last["executed"] += svc.executions - before
        self.page_checks.append((n, spec, page))

    def op(self, traced: bool) -> float:
        """Flow run, views and first page, timed as one operation; then the
        read phase, each load timed on its own."""
        run = self.run
        self.restore()
        node = self.node
        self.last = {
            "pages": node.pages,
            "node_s": node.busy_s,
            "landing": _dir_bytes(self.landing),
            "calls": 0,
            "executed": 0,
            "stale": 0,
        }
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            n = self.flow()
            svc = self.QueryService(run.spark)
            spec = self.default_spec(n)
            self.load(svc, n, spec)
        except Exception as e:  # a failed flow counts; the loop goes on
            run.fail("flow", e)
            return time.perf_counter() - t0
        finally:
            self.last["op_spans"] = len(run.tracer.spans)
        wall = time.perf_counter() - t0
        for k in range(1, READS_PER_OP + 1):
            s = spec if k % RELOAD_EVERY == 0 else self.random_spec(n)
            run.attempted += 1
            t1 = time.perf_counter()
            try:
                self.load(svc, n, s)
            except Exception as e:
                run.fail("page", e)
                continue
            run.read_ms.append((time.perf_counter() - t1) * 1e3)
        self.last["stale"] = self.stale_probe(spec) if traced else 0
        return wall

    def stale_probe(self, spec: tuple[str, str, int]) -> int:
        """1 when the service kept since set-up serves other rows than a
        fresh one for the same page; untraced."""
        tracer = self.run.tracer
        was, tracer.enabled = tracer.enabled, False
        try:
            page = PAGE.format(lo=spec[0], hi=spec[1], min_height=spec[2])
            fresh = self.QueryService(self.run.spark).run_page(page)
            return int(self.kept.run_page(page) != fresh)
        finally:
            tracer.enabled = was

    def start_kept_service(self) -> None:
        n = self.count_checks[-1][0]
        self.kept = self.QueryService(self.run.spark)
        spec = self.default_spec(n)
        self.kept.run_page(PAGE.format(lo=spec[0], hi=spec[1], min_height=spec[2]))

    # -- per-layer sample of one traced operation ----------------------------

    def layer(self, since: int, wall: float) -> dict[str, float]:
        tr = self.run.tracer
        T = tr.totals(since)
        last = self.last
        m: dict[str, float] = {}
        m["ingest.busy_s"] = _get(T, "ingest", "dur_s") + _get(T, "ingest.plan", "dur_s")
        m["ingest.pages"] = self.node.pages - last["pages"]
        m["ingest.landing_bytes"] = _dir_bytes(self.landing) - last["landing"]
        m["node.busy_s"] = self.node.busy_s - last["node_s"]
        m["parse.busy_s"] = _get(T, "parse", "dur_s")
        m["parse.write_s"] = _get(T, "parse.write", "dur_s")
        for c in ("jobs", "tasks", "cpu_s", "input_bytes", "shuffle_bytes", "spill_bytes"):
            m[f"parse.{c}"] = _get(T, "parse", c) + _get(T, "parse.write", c)
        m["parse.files_written"] = _parquet_files(self.silver)
        bronze = _dir_bytes(os.path.join(self.landing, NETWORK, "blocks")) + _dir_bytes(
            os.path.join(self.landing, NETWORK, "txs")
        )
        m["parse.bronze_reads"] = m["parse.input_bytes"] / bronze if bronze else 0.0
        m["gold.busy_s"] = _get(T, "gold", "dur_s")
        m["gold.assert_s"] = _get(T, "gold.assert", "dur_s")
        for c in ("jobs", "tasks", "cpu_s", "input_bytes"):
            m[f"gold.{c}"] = _get(T, "gold", c) + _get(T, "gold.assert", c)
        m["pipeline.self_s"] = _get(T, "pipeline", "self_s")
        m["pipeline.jobs_self"] = _get(T, "pipeline", "jobs")
        executed = last["executed"]
        m["serve.busy_s"] = _get(T, "serve.page", "dur_s")
        m["serve.queries_executed"] = executed
        m["serve.cache_hit_ratio"] = 1 - executed / last["calls"] if last["calls"] else 0.0
        per_q = max(executed, 1)
        m["serve.jobs_per_query"] = _get(T, "serve.query", "jobs") / per_q
        m["serve.files_per_query"] = _get(T, "serve.query", "files_read") / per_q
        m["serve.input_bytes_per_query"] = _get(T, "serve.query", "input_bytes") / per_q
        m["serve.stale_pages"] = last["stale"]
        stored = _dir_bytes(self.silver) + _dir_bytes(self.gold)
        m["store.bytes_ratio"] = stored / bronze if bronze else 0.0
        # time in the operation that no top-level span covers
        top = tr.totals(since, until=last["op_spans"])
        m["trace.unaccounted_s"] = wall - sum(
            _get(top, k, "dur_s") for k in ("pipeline", "views", "serve.page")
        )
        return m

    def verify(self) -> None:
        run = self.run
        for n, counts in self.count_checks:
            want = self.chain.silver_counts(n)
            if counts != want:
                run.fail("silver counts", f"{counts} != {want} at {n} blocks")
        expected: dict = {}
        for n, spec, page in self.page_checks:
            if (n, spec) not in expected:
                expected[(n, spec)] = expected_page(self.chain, n, spec)
            if page != expected[(n, spec)]:
                run.fail("page rows", f"{spec} at {n} blocks")


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------


class Catalog:
    def __init__(self, run):
        from bread_spark.plans import materialize
        from bread_spark.queries import ORACLES, QUERIES

        self.run = run
        self.materialize = materialize
        self.queries = QUERIES
        self.oracles = ORACLES

    def setup(self) -> None:
        """Nothing to build: the tables are bundled and the warm-up passes
        start the session's caches cold."""

    def verify(self) -> None:
        """The one-off oracle check, after the timed region, on the seams the
        last pass built."""
        import sys

        sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
        from oracle_utils import compare, duckdb_con

        run = self.run
        con = duckdb_con(CATALOG_DATA)
        try:
            for name in CATALOG_QUERIES:
                run.attempted += 1
                try:
                    df = self.queries[name](run.spark, CATALOG_DATA)
                    if name in self.oracles:
                        ok, msg = compare(df, con, self.oracles[name])
                        if not ok:
                            run.fail(f"oracle {name}", msg)
                    else:  # rows-only entry: must materialize
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:
                    run.fail(f"oracle {name}", e)
        finally:
            con.close()

    def clear(self) -> None:
        """Untimed, before each pass: drop the seam cache and free the blocks
        of every persisted RDD now, rather than whenever a JVM GC lets
        Spark's cleaner get to them."""
        self.materialize.clear_materialized_frames()
        for rdd in self.run.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def op(self, traced: bool) -> float:
        run = self.run
        self.clear()
        t0 = time.perf_counter()
        for name in CATALOG_QUERIES:
            run.attempted += 1
            t1 = time.perf_counter()
            try:
                with run.tracer.span(f"catalog.q.{name}"):
                    df = self.queries[name](run.spark, CATALOG_DATA)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                run.fail(name, e)
                continue
            run.read_ms.append((time.perf_counter() - t1) * 1e3)
        return time.perf_counter() - t0

    def layer(self, since: int, wall: float) -> dict[str, float]:
        """Read right after the pass: the seam cache and persisted blocks
        were cleared before it, so both hold only this pass's seam builds."""
        T = self.run.tracer.totals(since)
        m: dict[str, float] = {}
        for c in ("jobs", "tasks", "cpu_s", "input_bytes", "shuffle_bytes", "spill_bytes"):
            m[f"catalog.{c}"] = sum(t.get(c, 0) for t in T.values())
        m["seam.builds"] = len(self.materialize._CACHE)
        infos = self.run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        m["seam.cached_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)
        for q in CATALOG_QUERIES:
            m[f"catalog.q.{q}.s"] = _get(T, f"catalog.q.{q}", "dur_s")
        m["trace.unaccounted_s"] = wall - sum(t["dur_s"] for t in T.values())
        return m

WORKLOADS = {"sync": Sync, "catalog": Catalog}
