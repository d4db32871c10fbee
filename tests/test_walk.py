"""analyzer.walk: the one read-only AST traversal and its descend rule."""

from wvlet_spark import nodes as N
from wvlet_spark.analyzer import not_alias_ref, walk
from wvlet_spark.generator import _contains_agg


def test_walk_descend_predicate():
    e = N.Ref(N.Ident("alias"), "col")
    assert [type(n) for n in walk(e, not_alias_ref)] == [N.Ref]
    struct = N.Ref(N.Ref(N.Ident("t"), "s"), "f")
    assert [n.name for n in walk(struct, not_alias_ref)] == ["f", "s"]


def test_contains_agg_stops_at_subqueries():
    count = N.FunctionApply("count", [N.Star()])
    assert _contains_agg(N.CaseExpr(count, [(N.Literal(1, "int"),
                                             N.Literal("a", "string"))]))
    sub = N.ScalarSubquery(N.Project(N.TableRef("t"), [N.NamedExpr(count)]))
    assert not _contains_agg(N.ArithmeticOp("+", sub, N.Literal(1, "int")))
