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
registered temp views serve as-is.

Driver-local state: the cache dict, and for each cache miss a short-lived
clone of the caller's session that runs the miss under the serving profile
(`_serving_frame`: one shuffle partition, AQE and whole-stage codegen off,
for plans that read at most 8 MB and at most one advisory partition). The
caller's session and its settings are never changed.
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


# The serving profile: a small page query runs as one Spark job, with no
# AQE stage-by-stage re-planning and no range-partitioner sampling job.
# Whole-stage codegen is off too: a page query's literals are inlined into
# the generated Java, so each new literal set (a new date range) compiled
# fresh classes, which cost more than the few rows they then process. With
# it off, operators are interpreted and file scans hand rows, not columnar
# batches, to them (a scan returns batches only under whole-stage codegen).
_PROFILE = {
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "false",
}
_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
# The most a plan may read to take the profile: the largest input it was
# measured to win on (PERF_NOTES "Serving profile"). Above it, the
# interpreted row-at-a-time work costs more than the re-planning and the
# compile it saves.
_PROFILE_MAX_READ = 8 << 20


def _read_bytes(df: DataFrame) -> int:
    """The size estimate of what `df` reads: the sum over the leaves of its
    optimized plan (file scans after partition pruning). Not the root's
    estimate, which is the result's size: a LIMIT or a global aggregate
    estimates a few rows whatever it reads."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(leaves.apply(i).stats().sizeInBytes() for i in range(leaves.size()))


def _serving_frame(df: DataFrame) -> DataFrame:
    """The frame a served page collects for `df`. When the plan reads at
    most `_PROFILE_MAX_READ` and at most the session's advisory partition
    size (the size at which AQE would coalesce a shuffle to one partition
    anyway), that is `df`'s analyzed plan in a clone of its session under
    `_PROFILE`; otherwise `df` itself, so larger plans keep the caller's
    settings.

    Names were resolved when `df` was analyzed in the caller's session, so
    the clone reads the views and file listings the caller holds now; only
    execution moves. A clone per call keeps every other setting equal to
    the caller's at that moment, and leaves the caller's session as it was.
    The size is read off the clone's optimized plan, which `collect` then
    runs: checking the caller's plan first would optimize twice on the
    small path, the common one.
    """
    spark = df.sparkSession
    clone = spark._jsparkSession.cloneSession()
    conf = clone.conf()
    for key, value in _PROFILE.items():
        conf.set(key, value)
    jvm = spark._jvm
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        clone, df._jdf.queryExecution().analyzed()
    )
    served = DataFrame(jdf, SparkSession(spark.sparkContext, clone))
    advisory = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf.get(_ADVISORY))
    return served if _read_bytes(served) <= min(advisory, _PROFILE_MAX_READ) else df


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

    def run_json(
        self, queries: dict[str, str], name: str, compiled: str | None = None
    ) -> list[dict[str, Any]]:
        """Serve rows as JSON-able dicts, cached by compiled-SQL hash.
        `compiled` is the query's compiled text when the caller already
        has it (`run_page`).

        Serving queries are small by contract (gold tables, dashboard
        shapes) — collect is bounded; big results belong behind
        Connect/Thrift, not this path. A miss is analyzed, and its temp
        view registered, in the caller's session, so later queries can
        read it by plain name; it runs under the serving profile when its
        plan is small (`_serving_frame`).
        """
        if compiled is None:
            compiled = compile_chained(queries, name)
        key = _digest(compiled)
        if key not in self._cache:
            with self._lock:
                self.executions += 1
            df = self.spark.sql(compiled)
            df.createOrReplaceTempView(name)
            rows = _serving_frame(df).collect()
            self._cache[key] = [row.asDict(recursive=True) for row in rows]
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
        compiled = {name: compile_chained(queries, name) for name in queries}
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
