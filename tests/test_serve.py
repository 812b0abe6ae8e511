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


# -- the serving profile ------------------------------------------------------

ORDERED = (
    "SELECT o_orderstatus AS status, COUNT(*) AS n, SUM(o_totalprice) AS total "
    "FROM orders GROUP BY o_orderstatus ORDER BY n DESC, status"
)


def _group_jobs(spark, group: str) -> list[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _group_plans(spark, group: str) -> list[str]:
    """The physical plans of the SQL executions that ran the group's jobs."""
    jobs = set(_group_jobs(spark, group))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        ids = ex.jobs().keys().toSeq()
        if any(ids.apply(k) in jobs for k in range(ids.size())):
            plans.append(ex.physicalPlanDescription())
    return plans


@pytest.fixture
def aqe_on(spark):
    """The production setting: AQE on in the caller's session."""
    was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", was)


def test_profile_serves_the_plain_sessions_rows(spark):
    svc = QueryService(spark, SF_DIR)
    queries = {**extract_queries_md(PAGE), "ordered": ORDERED}
    for name in queries:
        sql = compile_chained(queries, name)
        want = [r.asDict(recursive=True) for r in spark.sql(sql).collect()]
        got = svc.run_json(queries, name)
        if "ORDER BY" in sql:
            assert got == want, name
        assert _rows(got) == _rows(want), name
    assert svc.executions == len(queries)


def _served(spark, group: str, sql: str) -> tuple[list[dict], list[str]]:
    """Serve `sql` as one miss in job group `group`: its rows, and the
    physical plans that ran it."""
    svc = QueryService(spark, SF_DIR)
    spark.sparkContext.setJobGroup(group, "one served miss")
    try:
        rows = svc.run_json({"served": sql}, "served")
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.dropTempView("served")
    return rows, _group_plans(spark, group)


@pytest.mark.parametrize("caller_aqe", ["false", "true"])
def test_small_miss_runs_as_one_job(spark, caller_aqe):
    was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", caller_aqe)
    group = f"serve-profile-{caller_aqe}"
    try:
        _, (plan,) = _served(spark, group, ORDERED)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", was)
    assert len(_group_jobs(spark, group)) == 1
    assert "AdaptiveSparkPlan" not in plan
    assert "codegen id" not in plan


LIMITED = (
    "SELECT o_orderstatus AS status, COUNT(*) AS n FROM orders "
    "GROUP BY o_orderstatus ORDER BY n DESC, status LIMIT 1"
)


@pytest.mark.parametrize("bound", ["advisory", "cap"])
def test_plan_reading_more_than_the_bound_keeps_the_callers_plan(aqe_on, monkeypatch, bound):
    """The bound is on what the plan reads, not on its result: a LIMIT 1
    estimates one row, but it reads the whole orders table. Either bound
    (the advisory partition size, the measured cap) sends it to the
    caller's plan."""
    spark = aqe_on
    small = 4096
    QueryService(spark, SF_DIR)
    result = spark.sql(LIMITED)._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert result <= small < serve._read_bytes(spark.sql(LIMITED))
    if bound == "cap":
        monkeypatch.setattr(serve, "_PROFILE_MAX_READ", small)
    was = spark.conf.get(serve._ADVISORY)
    spark.conf.set(serve._ADVISORY, str(small) if bound == "advisory" else was)
    try:
        rows, plans = _served(spark, f"serve-profile-limit-{bound}", LIMITED)
    finally:
        spark.conf.set(serve._ADVISORY, was)
    assert rows == [r.asDict() for r in spark.sql(LIMITED).collect()]
    assert plans and all("AdaptiveSparkPlan" in p for p in plans)
    assert any("codegen id" in p for p in plans)


def test_page_leaves_the_callers_settings_unchanged(aqe_on):
    spark = aqe_on
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    QueryService(spark, SF_DIR).run_page(PAGE)
    assert {k: spark.conf.get(k) for k in keys} == before
    assert before["spark.sql.shuffle.partitions"] != "1"


def test_miss_reads_the_view_registered_after_the_service_was_built(spark, tmp_path):
    """Names resolve in the caller's session when the miss runs: a view
    re-registered over rewritten files is what the next miss reads."""
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("serve_files")
    svc = QueryService(spark)
    try:
        assert svc.run_json({"a": "SELECT COUNT(*) AS n FROM serve_files"}, "a") == [{"n": 3}]
        spark.range(5).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView("serve_files")
        q = {"b": "SELECT COUNT(*) AS n, SUM(id) AS s FROM serve_files"}
        assert svc.run_json(q, "b") == [{"n": 5, "s": 10}]
    finally:
        spark.catalog.dropTempView("serve_files")


def test_run_json_registers_its_view_on_the_callers_session(spark):
    svc = QueryService(spark, SF_DIR)
    svc.run_json({"served_ordered": ORDERED}, "served_ordered")
    try:
        got = [r.asDict() for r in spark.table("served_ordered").collect()]
        assert _rows(got) == _rows(svc.run_json({"served_ordered": ORDERED}, "served_ordered"))
    finally:
        spark.catalog.dropTempView("served_ordered")
