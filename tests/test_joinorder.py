"""Join-order optimizer: unit tests on synthetic footer stats (no Spark)
plus compile-level integration through a live session.

The synthetic fixture mirrors sf100 TPC-H shapes — the scale where the
written order of Q5 measured 16x slower than the reference companion
(BENCH_sf100.json) because Catalyst executes stat-less multi-way joins
in written order."""

import datetime

from wvlet_spark import nodes as N
from wvlet_spark.joinorder import reorder_joins, split_and
from wvlet_spark.stats import ColStats, TableStats


def _int_col(lo, hi, rows):
    return ColStats(min_v=lo, max_v=hi, nulls=0, logical="int64")


def _tpch_stats(scale=1_000_000):
    """TPC-H-shaped stats: scale=1M gives sf100-ish row counts."""
    d0, d1 = datetime.date(1992, 1, 1), datetime.date(1998, 12, 31)
    t = {}
    t["region"] = TableStats(rows=5, bytes=1 << 10, cols={
        "r_regionkey": _int_col(0, 4, 5), "r_name": ColStats()})
    t["nation"] = TableStats(rows=25, bytes=1 << 10, cols={
        "n_nationkey": _int_col(0, 24, 25),
        "n_regionkey": _int_col(0, 4, 25), "n_name": ColStats()})
    t["supplier"] = TableStats(rows=scale, bytes=scale * 100, cols={
        "s_suppkey": _int_col(0, scale - 1, scale),
        "s_nationkey": _int_col(0, 24, scale)})
    t["customer"] = TableStats(rows=15 * scale, bytes=15 * scale * 100, cols={
        "c_custkey": _int_col(0, 15 * scale - 1, 15 * scale),
        "c_nationkey": _int_col(0, 24, 15 * scale)})
    t["orders"] = TableStats(rows=150 * scale, bytes=150 * scale * 100, cols={
        "o_orderkey": _int_col(0, 150 * scale - 1, 150 * scale),
        "o_custkey": _int_col(0, 15 * scale - 1, 150 * scale),
        "o_orderdate": ColStats(min_v=d0, max_v=d1, logical="date32")})
    t["lineitem"] = TableStats(rows=600 * scale, bytes=600 * scale * 120, cols={
        "l_orderkey": _int_col(0, 150 * scale - 1, 600 * scale),
        "l_suppkey": _int_col(0, scale - 1, 600 * scale),
        "l_partkey": _int_col(0, 20 * scale - 1, 600 * scale),
        "l_extendedprice": ColStats(), "l_discount": ColStats(),
        "l_shipdate": ColStats(min_v=d0, max_v=d1, logical="date32")})
    return t


SCHEMAS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_regionkey", "n_name"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "orders": ["o_orderkey", "o_custkey", "o_orderdate"],
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey",
                 "l_extendedprice", "l_discount", "l_shipdate"],
}


def _q5_tree():
    """customer, orders, lineitem, supplier, nation, region + Q5 predicates
    — the written order that is pathological at scale."""
    chain = N.TableRef("customer")
    for t in ["orders", "lineitem", "supplier", "nation", "region"]:
        chain = N.Join(left=chain, right=N.TableRef(t), join_type="cross")
    conds = [
        N.Comparison("=", N.Ident("c_custkey"), N.Ident("o_custkey")),
        N.Comparison("=", N.Ident("l_orderkey"), N.Ident("o_orderkey")),
        N.Comparison("=", N.Ident("l_suppkey"), N.Ident("s_suppkey")),
        N.Comparison("=", N.Ident("c_nationkey"), N.Ident("s_nationkey")),
        N.Comparison("=", N.Ident("s_nationkey"), N.Ident("n_nationkey")),
        N.Comparison("=", N.Ident("n_regionkey"), N.Ident("r_regionkey")),
        N.Comparison("=", N.Ident("r_name"), N.Literal("ASIA", "string")),
        N.Comparison(">=", N.Ident("o_orderdate"),
                     N.Cast(N.Literal("1996-01-01", "string"), "date")),
        N.Comparison("<", N.Ident("o_orderdate"),
                     N.Cast(N.Literal("1997-01-01", "string"), "date")),
    ]
    cond = conds[0]
    for c in conds[1:]:
        cond = N.And(cond, c)
    return N.Filter(child=chain, cond=cond)


def _leaf_order(rel):
    out = []

    def walk(x):
        if isinstance(x, N.Join):
            walk(x.left)
            walk(x.right)
        elif isinstance(x, N.TableRef):
            out.append(x.name)
    walk(rel)
    return out


def test_q5_reorder_avoids_fact_first_and_m2m_trap():
    stats = _tpch_stats()
    rel = reorder_joins(_q5_tree(), SCHEMAS.get, stats.get)
    assert isinstance(rel, N.Filter)
    order = _leaf_order(rel.child)
    assert set(order) == set(SCHEMAS)
    # the selective dimension chain starts the plan...
    assert order[0] in ("region", "nation")
    # ...the two fact tables never join before a dimension prunes them
    assert order.index("lineitem") >= 3
    # the many-to-many customer x supplier nationkey join is avoided:
    # whichever of the two comes second must arrive AFTER a fact table
    # path connects them (orders before customer+supplier adjacency)
    ci, si = order.index("customer"), order.index("supplier")
    if abs(ci - si) == 1:
        assert order.index("orders") < max(ci, si) or \
            order.index("lineitem") < max(ci, si)
    # every original conjunct survives verbatim (derived transitive
    # equalities may be appended — implied, never removed)
    kept = [repr(c) for c in split_and(rel.cond)]
    for c in split_and(_q5_tree().cond):
        assert repr(c) in kept


def test_filter_semantics_preserved_and_leaves_verbatim():
    tree = _q5_tree()
    stats = _tpch_stats()
    out = reorder_joins(tree, SCHEMAS.get, stats.get)
    assert {type(x).__name__ for x in split_and(out.cond)} == \
        {type(x).__name__ for x in split_and(tree.cond)}
    # leaf nodes are reused, not rebuilt
    orig = {id(x) for x in _iter_leaves(tree.child)}
    new = {id(x) for x in _iter_leaves(out.child)}
    assert new == orig


def _iter_leaves(rel):
    if isinstance(rel, N.Join):
        yield from _iter_leaves(rel.left)
        yield from _iter_leaves(rel.right)
    else:
        yield rel


def test_outer_join_chain_is_never_touched():
    chain = N.Join(left=N.TableRef("customer"), right=N.TableRef("orders"),
                   join_type="left",
                   cond=N.Comparison("=", N.Ident("c_custkey"),
                                     N.Ident("o_custkey")))
    chain = N.Join(left=chain, right=N.TableRef("lineitem"),
                   join_type="cross")
    filt = N.Filter(child=chain, cond=N.Comparison(
        "=", N.Ident("l_orderkey"), N.Ident("o_orderkey")))
    out = reorder_joins(filt, SCHEMAS.get, _tpch_stats().get)
    assert out is filt


def test_missing_stats_bails():
    stats = _tpch_stats()
    stats.pop("orders")
    tree = _q5_tree()
    out = reorder_joins(tree, SCHEMAS.get, stats.get)
    assert out is tree


def test_ambiguous_bare_column_bails():
    schemas = dict(SCHEMAS)
    schemas["supplier"] = ["s_suppkey", "s_nationkey", "c_custkey"]  # clash
    tree = _q5_tree()
    out = reorder_joins(tree, schemas.get, _tpch_stats().get)
    assert out is tree


def test_two_way_join_untouched():
    chain = N.Join(left=N.TableRef("customer"), right=N.TableRef("orders"),
                   join_type="cross")
    filt = N.Filter(child=chain, cond=N.Comparison(
        "=", N.Ident("c_custkey"), N.Ident("o_custkey")))
    out = reorder_joins(filt, SCHEMAS.get, _tpch_stats().get)
    assert out is filt


def test_q5_compiles_reordered_and_matches(ws, duck):
    """End-to-end: with broadcast disabled (so the test data's toy scale
    is costed like a shuffle-bound cluster), the session compiles Q5 with
    the dimension chain first and the result still hash-matches the
    DuckDB oracle."""
    from wvlet_spark.oracle import compare
    from wvlet_spark.suite import SUITE

    wv, osql = SUITE["tpch_q5"]
    old = ws.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ws.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sql = ws.compile_to_sql(wv)
        body = sql.split(" WHERE ")[0]
        assert body.index("region") < body.index("lineitem")
        good, msg = compare(ws.run(wv), duck, osql)
        assert good, msg
    finally:
        ws.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_all_broadcast_chain_is_never_rewritten():
    """Round-7 regression pin (round-6 verdict: sf1 q7 +38% from a
    reorder that turned a BroadcastHashJoin into a SortMergeJoin).  At a
    scale where every relation but one fits the broadcast threshold the
    written order is already shuffle-free, so the reorderer must leave
    it alone even when C_out says another order has smaller
    intermediates."""
    stats = _tpch_stats(scale=10)   # sf ~0.001: every table tiny
    tree = _q5_tree()
    out = reorder_joins(tree, SCHEMAS.get, stats.get,
                        broadcast_bytes=10 << 20)
    assert out is tree


def test_shuffle_scale_still_reorders_with_broadcast_threshold():
    """The sf100-shaped win must survive the broadcast gate: with the
    default 10 MB threshold and sf100-sized stats, written-order Q5
    shuffles two fact tables first and the reorderer still fires."""
    stats = _tpch_stats()           # sf100-ish: facts far above threshold
    rel = reorder_joins(_q5_tree(), SCHEMAS.get, stats.get,
                        broadcast_bytes=10 << 20)
    assert isinstance(rel, N.Filter)
    order = _leaf_order(rel.child)
    assert order[0] in ("region", "nation")
    assert order.index("lineitem") >= 3


# ---------------------------------------------------------------- on/off
# equivalence battery: odd join shapes where a reorder bug would show as a
# row-set difference between the optimized and written orders.

EQUIV_QUERIES = [
    # transitive-only connection (the Q5 trap shape, smaller)
    """
from supplier, nation, region, customer
where s_nationkey = n_nationkey and n_regionkey = r_regionkey
  and c_nationkey = s_nationkey and r_name = 'ASIA'
group by n_name
agg n = _.count
order by n_name
""",
    # self-join with aliases
    """
from orders as o1, orders as o2, customer
where o1.o_custkey = o2.o_custkey and o1.o_orderkey < o2.o_orderkey
  and c_custkey = o1.o_custkey and c_mktsegment = 'BUILDING'
group by c_custkey
agg pairs = _.count
order by pairs desc, c_custkey
limit 20
""",
    # explicit inner joins mixed with where-conjuncts
    """
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where l_returnflag = 'R' and c_nationkey < 10
group by c_nationkey
agg revenue = l_extendedprice::decimal(18,2).sum::double
order by c_nationkey
""",
    # subquery conjunct rides along as a residual
    """
from customer, orders, nation
where c_custkey = o_custkey and c_nationkey = n_nationkey
  and o_orderkey in {
    from lineitem
    where l_quantity > 45
    select l_orderkey
  }
group by n_name
agg n = _.count
order by n_name
""",
]


def test_reorder_on_off_equivalence(ws, duck):
    """The reordered Spark result matches the DuckDB oracle, which runs
    the joins in written order."""
    from wvlet_spark.oracle import compare

    for q in EQUIV_QUERIES:
        good, msg = compare(ws.run(q), duck, ws.oracle_sql(q))
        assert good, f"{msg}\n{q}"
