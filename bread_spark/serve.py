"""Query-serving surface — the Evidence/BV-proxy analog (SURVEY.md §2.11,
§2.1 SRC17, §3 entry point C).

The reference serves dashboards by extracting named SQL blocks from
markdown, inlining ``${ref}`` chains, md5-caching compiled text, and
executing against DuckDB behind a Postgres-wire proxy
(extractQueries.server.js:17-103, profiles.yml:7-14). Here the same
surface is a thin class over one SparkSession:

- named queries with ``${ref}`` chaining  (E1/E2 → `queries.compile_chained`)
- compiled-text hash caching              (E3 → results cached per md5)
- JSON row serving                        (E4 → `run_json`)
- markdown extraction                     (E1 → `extract_queries_md`)
- serving queries run verbatim over the registered gold/testdata views
  (E5 — the reference's `select cast(gas_used as int) ...` page query is
  just a `run_json` call here)

For multi-client serving the same registry sits behind Spark Connect —
`python -m bread_spark.connect --port 15002 --sf-dir ...` brings up the
gRPC endpoint (see `bread_spark/connect.py`, the BV-proxy analog); the
registered temp views serve as-is. Nothing in this module is driver-local
state beyond the cache dict.
"""

from __future__ import annotations

import hashlib
import re
import threading
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .io import register_views
from .queries import compile_chained
from .session import run_concurrently

# ```sql name\n ... \n``` — the Evidence markdown convention (E1).
_SQL_BLOCK_RE = re.compile(r"```sql\s+(\w+)\s*\n(.*?)```", re.DOTALL)


def extract_queries_md(markdown: str) -> dict[str, str]:
    """Pull named ```sql blocks out of a markdown page (E1 semantics:
    the block's info-string word is the query name)."""
    return {m.group(1): m.group(2).strip() for m in _SQL_BLOCK_RE.finditer(markdown)}


def _digest(compiled: str) -> str:
    return hashlib.md5(compiled.encode()).hexdigest()


def _plain_name_links(compiled: dict[str, str]) -> set[str]:
    """The page queries that name another page query as a plain word in
    their compiled text, and the queries they name. A plain name reads
    the temp view `run_json` registers, not the ``${ref}`` inlining, so
    these queries depend on the order they run in. Spark resolves names
    case-insensitively; a word that only looks like a name (a column
    called the same) links its queries too, which costs only overlap."""
    if not compiled:
        return set()
    by_word = {name.lower(): name for name in compiled}
    word = re.compile(rf"\b(?:{'|'.join(compiled)})\b", re.IGNORECASE)
    linked: set[str] = set()
    for name, sql in compiled.items():
        named = {by_word[w.lower()] for w in word.findall(sql)} - {name}
        if named:
            linked |= named | {name}
    return linked


class QueryService:
    """Named-query serving with chaining and compiled-text caching.

    Cache key = md5 of the *compiled* SQL (post-inlining), so editing any
    upstream query in a chain invalidates its dependents — exactly the
    reference's staleness rule (extractQueries.server.js:17-31).

    Safe to call from several threads: `run_page` runs a page's cache
    misses side by side.
    """

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self._cache: dict[str, list[dict[str, Any]]] = {}
        self._lock = threading.Lock()
        self.executions = 0  # observable for tests / metrics
        if sf_dir is not None:
            register_views(spark, sf_dir)

    def compile(self, queries: dict[str, str], name: str) -> str:
        return compile_chained(queries, name)

    def run(self, queries: dict[str, str], name: str) -> DataFrame:
        """Execute one named query (chains inlined); registers the result
        as a temp view so later queries can reference it by plain name."""
        df = self.spark.sql(self.compile(queries, name))
        df.createOrReplaceTempView(name)
        return df

    def run_json(
        self, queries: dict[str, str], name: str, compiled: str | None = None
    ) -> list[dict[str, Any]]:
        """Serve rows as JSON-able dicts, cached by compiled-SQL hash.
        `compiled` is the query's compiled text when the caller already
        has it (`run_page`).

        Serving queries are small by contract (gold tables, dashboard
        shapes) — collect is bounded; big results belong behind
        Connect/Thrift, not this path.
        """
        if compiled is None:
            compiled = self.compile(queries, name)
        key = _digest(compiled)
        if key not in self._cache:
            with self._lock:
                self.executions += 1
            df = self.spark.sql(compiled)
            df.createOrReplaceTempView(name)
            self._cache[key] = [row.asDict(recursive=True) for row in df.collect()]
        return self._cache[key]

    def run_page(self, markdown: str) -> dict[str, list[dict[str, Any]]]:
        """Full page load (entry point C): extract named queries from the
        markdown, execute each with chaining, return {name: rows}.

        Misses that no other page query names as a plain table, and that
        name none, run side by side first (one per compiled text) when
        there are two or more of them. The rest run after, in page order,
        so a query reading another's temp view by plain name sees the one
        this page registers. Hits, and a lone miss, run in the caller's
        thread: a hit is a dict lookup, and a thread costs more than it
        saves on one query.
        """
        queries = extract_queries_md(markdown)
        compiled = {name: self.compile(queries, name) for name in queries}
        linked = _plain_name_links(compiled)
        misses: dict[str, str] = {}
        for name, sql in compiled.items():
            key = _digest(sql)
            if key not in self._cache:
                misses.setdefault(key, name)
        free = [name for name in misses.values() if name not in linked]
        if len(free) > 1:
            run_concurrently(
                self.spark,
                [partial(self.run_json, queries, name, compiled[name]) for name in free],
            )
        return {name: self.run_json(queries, name, sql) for name, sql in compiled.items()}
