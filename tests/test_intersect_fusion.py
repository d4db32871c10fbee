"""INTERSECT fusion (generator._try_fuse_intersect): branches that are the
same projection over the same source and differ only in their WHERE
predicate collapse to one pass (single scan + GROUP BY/HAVING).  Results
must be identical to the literal set op — including NULL keys, which both
INTERSECT and GROUP BY compare null-safely."""

import pytest

FUSABLE = """
from [[1, 'x'], [1, 'y'], [2, 'x'], [2, 'y'], [3, 'x'], [null, 'x'], [null, 'y']] as t(k, tag)
where tag = 'x'
select k
intersect {
  from [[1, 'x'], [1, 'y'], [2, 'x'], [2, 'y'], [3, 'x'], [null, 'x'], [null, 'y']] as t(k, tag)
  where tag = 'y'
  select k
}
order by k
"""


def _run(ws, text):
    return sorted(tuple(r) for r in ws.run(text).collect())


# FUSABLE as a literal set op, written directly in Spark SQL
PLAIN_SQL = """
SELECT k FROM VALUES (1, 'x'), (1, 'y'), (2, 'x'), (2, 'y'), (3, 'x'),
  (NULL, 'x'), (NULL, 'y') AS t(k, tag) WHERE tag = 'x'
INTERSECT
SELECT k FROM VALUES (1, 'x'), (1, 'y'), (2, 'x'), (2, 'y'), (3, 'x'),
  (NULL, 'x'), (NULL, 'y') AS t(k, tag) WHERE tag = 'y'
"""


def test_fused_matches_unfused(ws):
    fused_sql = ws.compile_to_sql(FUSABLE)
    assert "INTERSECT" not in fused_sql.upper()
    assert "HAVING" in fused_sql.upper()
    key = lambda t: tuple((v is None, v) for v in t)
    a = sorted((tuple(r) for r in ws.spark.sql(fused_sql).collect()), key=key)
    b = sorted((tuple(r) for r in ws.spark.sql(PLAIN_SQL).collect()), key=key)
    # NULL key present in both branches -> kept by both forms
    assert a == b == [(1,), (2,), (None,)]


def test_three_branch_chain_fuses(ws):
    text = """
from [[1, 1], [1, 2], [2, 1], [2, 2], [2, 3], [3, 3]] as t(k, p)
where p = 1
select k
intersect {
  from [[1, 1], [1, 2], [2, 1], [2, 2], [2, 3], [3, 3]] as t(k, p)
  where p = 2
  select k
}
intersect {
  from [[1, 1], [1, 2], [2, 1], [2, 2], [2, 3], [3, 3]] as t(k, p)
  where p = 3
  select k
}
"""
    sql = ws.compile_to_sql(text)
    assert "INTERSECT" not in sql.upper()
    assert sorted(tuple(r) for r in ws.spark.sql(sql).collect()) == [(2,)]


@pytest.mark.parametrize("text,why", [
    # different projections -> no fusion
    ("""
from [[1, 'x']] as t(k, tag) where tag = 'x' select k
intersect { from [[1, 'x']] as t(k, tag) where tag = 'x' select tag }
""", "different items"),
    # different sources -> no fusion
    ("""
from [[1, 'x']] as t(k, tag) where tag = 'x' select k
intersect { from [[1, 'y']] as u(k, tag) where tag = 'y' select k }
""", "different source"),
    # non-deterministic predicate -> no fusion (evaluation count changes)
    ("""
from [[1, 'x']] as t(k, tag) where rand() > 0.5 select k
intersect { from [[1, 'x']] as t(k, tag) where tag = 'x' select k }
""", "nondeterministic pred"),
    # no filter on a branch -> no fusion (pattern requires Filter)
    ("""
from [[1, 'x']] as t(k, tag) select k
intersect { from [[1, 'x']] as t(k, tag) where tag = 'x' select k }
""", "missing filter"),
])
def test_non_fusable_keeps_intersect(ws, text, why):
    sql = ws.compile_to_sql(text)
    assert "INTERSECT" in sql.upper(), why


def test_intersect_all_not_fused(ws):
    text = """
from [[1, 'x'], [1, 'y']] as t(k, tag) where tag = 'x' select k
intersect all { from [[1, 'x'], [1, 'y']] as t(k, tag) where tag = 'y' select k }
"""
    sql = ws.compile_to_sql(text)
    assert "INTERSECT ALL" in sql.upper()
