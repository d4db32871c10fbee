"""One Spark lowering path: compile_to_sql returns the SQL that run()
executes, and staged `__wv_*` views are released when the next statement
starts.  Each test uses its own Spark session (`spark.newSession()`: same
context, separate temp-view catalog), so view counts are exact."""

import pytest

from tests.conftest import SF_DIR
from wvlet_spark import WvletSession
from wvlet_spark.suite import SUITE

# the entries whose run stages views (IN-subquery / multi-ref CTE), plus
# three controls that stage nothing
ENTRIES = ["in_subquery", "tpch_q15", "tpch_q18", "tpch_q20_like",
           "tpcds_q44_best_worst", "tpch_q3", "with_cte",
           "tpcds_q14_intersect_stack"]


def _session(spark):
    return WvletSession(spark.newSession(), table_dir=SF_DIR)


def _temp_views(ws) -> set[str]:
    return {t.name for t in ws.spark.catalog.listTables() if t.isTemporary}


def _executed_sql(ws, text) -> list[str]:
    """Every SQL text run(text) passes to SparkSession.sql."""
    spark = ws.spark
    calls = []
    orig = spark.sql

    def recording_sql(sql, *a, **kw):
        calls.append(sql)
        return orig(sql, *a, **kw)

    spark.sql = recording_sql
    try:
        ws.run(text)
    finally:
        del spark.sql
    return calls


@pytest.mark.parametrize("name", ENTRIES)
def test_compile_to_sql_is_the_executed_sql(spark, name):
    # two fresh sessions, so both number their staged views from 1
    text = SUITE[name][0]
    compiled = _session(spark).compile_to_sql(text)
    assert compiled == _executed_sql(_session(spark), text)[-1]


def test_staged_views_released_between_statements(spark):
    ws = _session(spark)
    base = _temp_views(ws)
    sizes = set()
    for _ in range(5):
        q18 = ws.run(SUITE["tpch_q18"][0])
        ws.run(SUITE["in_subquery"][0])
        # only in_subquery's own staged view is left
        extra = _temp_views(ws) - base
        assert len(extra) == 1 and extra.pop().startswith("__wv_insub_")
        sizes.add(len(ws._schema_cache))
        # a result whose staged view was released still runs
        assert q18.count() > 0
    assert len(sizes) == 1


def test_nested_run_keeps_callers_views(spark):
    """A tool that reads a model runs it through a nested run(); the
    nested statements must not release views the calling statement
    already staged."""
    ws = _session(spark)
    ws.run("""
model big_orders = {
  from orders
  where o_orderkey in {
    from lineitem group by l_orderkey where l_quantity.sum > 300
    select l_orderkey
  }
}""")
    survived = []

    def read_twice(spark, table):
        first = ws.run(f"from {table}")
        staged = _temp_views(ws)
        second = ws.run(f"from {table}")
        survived.append(staged <= _temp_views(ws))
        return first.unionAll(second)

    ws.register_tool("read_twice", read_twice)
    n = ws.run("from big_orders").count()
    assert ws.run("call read_twice(table='big_orders')").count() == 2 * n
    assert survived == [True]


def test_with_query_save_to(ws, tmp_path):
    out = str(tmp_path / "x.parquet")
    ws.run(f"with t as {{ from nation }} from t | save to '{out}'")
    got = sorted(tuple(r) for r in ws.run(f"from '{out}'").collect())
    want = sorted(tuple(r) for r in ws.run("from nation").collect())
    assert got == want and len(got) == 25


def test_statement_scope_count_survives_thread_races():
    """Concurrent server requests enter and leave statement scopes on one
    session; a lost update would leave the in-flight count off zero and
    stop (or misfire) every later release."""
    import sys
    import threading

    ws = WvletSession(spark=None)

    def enter_leave():
        for _ in range(2000):
            with ws._statement():
                pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=enter_leave) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert ws._in_flight == 0
