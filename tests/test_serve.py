"""Serving surface: markdown query extraction, ${ref} chaining, hash
caching, JSON rows (SURVEY.md §2.11 E1-E4)."""

from __future__ import annotations

import sys

import pytest

from bread_spark import serve
from bread_spark.queries import QueryChainError, compile_chained
from bread_spark.serve import QueryService, extract_queries_md
from bread_spark.session import run_concurrently
from tests.conftest import SF_DIR

PAGE = """# Dashboard

```sql gas
SELECT o_orderpriority AS pri, COUNT(1) AS n FROM orders GROUP BY 1
```

Some prose.

```sql top_pri
SELECT pri, n FROM ${gas} WHERE n > 0 ORDER BY n DESC, pri LIMIT 3
```
"""


def test_extract_queries_md():
    q = extract_queries_md(PAGE)
    assert set(q) == {"gas", "top_pri"}
    assert q["gas"].startswith("SELECT o_orderpriority")


def test_compile_chained_inlines_refs():
    q = {"a": "SELECT 1 AS x", "b": "SELECT x FROM ${a}"}
    assert compile_chained(q, "b") == "SELECT x FROM (SELECT * FROM (SELECT 1 AS x))"


def test_compile_chained_detects_cycles_and_unknowns():
    with pytest.raises(QueryChainError):
        compile_chained({"a": "SELECT * FROM ${b}", "b": "SELECT * FROM ${a}"}, "a")
    with pytest.raises(QueryChainError):
        compile_chained({"a": "SELECT * FROM ${missing}"}, "a")


def test_page_load_and_cache(spark):
    svc = QueryService(spark, SF_DIR)
    out = svc.run_page(PAGE)
    assert set(out) == {"gas", "top_pri"}
    assert 1 <= len(out["top_pri"]) <= 3
    assert all({"pri", "n"} == set(r) for r in out["gas"])
    n_exec = svc.executions
    # identical page → every compiled hash hits the cache
    svc.run_page(PAGE)
    assert svc.executions == n_exec
    # editing the upstream query invalidates the dependent chain too
    svc.run_page(PAGE.replace("COUNT(1)", "COUNT(*)"))
    assert svc.executions == n_exec + 2


def test_run_registers_view_for_downstream(spark):
    svc = QueryService(spark, SF_DIR)
    svc.run({"daily_n": "SELECT COUNT(1) AS n FROM orders"}, "daily_n")
    assert spark.sql("SELECT n FROM daily_n").first()["n"] > 0


def _rows(rows: list[dict]) -> list[tuple]:
    return sorted(tuple(sorted(r.items())) for r in rows)


def test_page_misses_run_side_by_side(spark, monkeypatch):
    """A page's misses run side by side and serve the rows each query
    serves alone; a hit on the same page stays out of the threads."""
    page = PAGE + "\n```sql n_orders\nSELECT COUNT(1) AS n FROM orders\n```\n"
    queries = extract_queries_md(page)
    alone = {name: _rows(QueryService(spark, SF_DIR).run_json(queries, name)) for name in queries}
    sides = []
    real = serve.run_concurrently

    def spy(spark_, actions):
        sides.append(len(actions))
        return real(spark_, actions)

    monkeypatch.setattr(serve, "run_concurrently", spy)
    svc = QueryService(spark, SF_DIR)
    svc.run_json(queries, "n_orders")
    before = svc.executions
    out = svc.run_page(page)
    assert {name: _rows(rows) for name, rows in out.items()} == alone
    assert sides == [2]
    assert svc.executions == before + 2


def test_page_of_hits_or_one_miss_starts_no_thread(spark, monkeypatch):
    svc = QueryService(spark, SF_DIR)
    svc.run_page(PAGE)

    def no_threads(*args, **kwargs):
        raise AssertionError("a page without two misses started threads")

    monkeypatch.setattr(serve, "run_concurrently", no_threads)
    n_exec = svc.executions
    svc.run_page(PAGE)  # all hits
    assert svc.executions == n_exec
    svc.run_page(PAGE.replace("LIMIT 3", "LIMIT 2"))  # only top_pri misses
    assert svc.executions == n_exec + 1


def test_executions_count_every_miss_across_threads(spark):
    """Threads missing on distinct queries each count once: no update to
    `executions` is lost, with more threads than cores and a switch
    interval short enough to interleave the read-modify-write."""
    svc = QueryService(spark)
    queries = {f"q{i}": f"SELECT {i} AS x" for i in range(64)}
    names = list(queries)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        run_concurrently(
            spark,
            [lambda part=names[k::8]: [svc.run_json(queries, n) for n in part] for k in range(8)],
        )
    finally:
        sys.setswitchinterval(interval)
    assert svc.executions == len(queries)
    assert all(svc.run_json(queries, n) == [{"x": int(n[1:])}] for n in names)


PLAIN_PAGE = """
```sql plain_base
SELECT id FROM range(5)
```

```sql plain_above
SELECT COUNT(*) AS n FROM plain_base WHERE id >= 2
```

```sql plain_one
SELECT 1 AS x
```

```sql plain_two
SELECT 2 AS x
```
"""


def test_plain_name_reference_reads_this_pages_view(spark, monkeypatch):
    """A miss that reads another page query by plain name (its temp view,
    not ``${ref}``) runs after it, over the view this page registers and
    not an older one of that name; the unlinked misses still run side by
    side."""
    spark.range(100).createOrReplaceTempView("plain_base")  # stale view
    threaded = []
    real = serve.run_concurrently

    def spy(spark_, actions):
        threaded.extend(a.args[1] for a in actions)
        return real(spark_, actions)

    monkeypatch.setattr(serve, "run_concurrently", spy)
    svc = QueryService(spark)
    try:
        out = svc.run_page(PLAIN_PAGE)
    finally:
        spark.catalog.dropTempView("plain_base")
    assert out["plain_above"] == [{"n": 3}]
    assert sorted(threaded) == ["plain_one", "plain_two"]
    assert svc.executions == 4


def test_plain_name_links():
    compiled = {
        "a": "SELECT 1 AS x",
        "b": "SELECT x FROM A",  # Spark resolves names case-insensitively
        "c": "SELECT x FROM ab",
        "d": "SELECT 2 AS d",  # its own name links nothing
    }
    assert serve._plain_name_links(compiled) == {"a", "b"}
    assert serve._plain_name_links({}) == set()
