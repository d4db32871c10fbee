"""Analyzer: resolves language-level constructs before SQL generation.

Re-implements (fresh) the reference compiler's model expansion
(GenSQL model inlining with arg binding + cycle detection), `val`
substitution, scalar `def` function inlining (FunctionInliner), and
partial-query application — all as AST -> AST rewrites, so the generator
only ever sees plain relational nodes.
"""

from __future__ import annotations

import dataclasses
from copy import deepcopy

from wvlet_spark import nodes as N
from wvlet_spark.generator import CompileError

MAX_EXPANSION_DEPTH = 100


def _ulid_string() -> str:
    """ULID: 48-bit ms timestamp + 80 random bits, Crockford base32
    (26 chars).  Compile-time evaluated, like the reference's stdlib
    ulid_string (ext/NativeFunction.scala)."""
    import os
    import time

    enc = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
    val = ((int(time.time() * 1000) & ((1 << 48) - 1)) << 80) \
        | int.from_bytes(os.urandom(10), "big")
    return "".join(enc[(val >> (5 * i)) & 31] for i in range(25, -1, -1))


# natives evaluated inside the compiler, by name
NATIVE_FUNCTIONS: dict = {
    "ulid_string": _ulid_string,
    "ulid": _ulid_string,
}


def _is_node(x) -> bool:
    return isinstance(x, N.Node)


def transform(node, expr_fn=None, rel_fn=None, _depth=0):
    """Bottom-up structural rewrite over dataclass AST nodes."""
    if _depth > 500:
        raise CompileError("expression tree too deep")
    if isinstance(node, list):
        return [transform(x, expr_fn, rel_fn, _depth + 1) for x in node]
    if isinstance(node, tuple):
        return tuple(transform(x, expr_fn, rel_fn, _depth + 1) for x in node)
    if not _is_node(node):
        return node
    if dataclasses.is_dataclass(node):
        changes = {}
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            nv = transform(v, expr_fn, rel_fn, _depth + 1)
            if nv is not v:
                changes[f.name] = nv
        if changes:
            node = dataclasses.replace(node, **changes)
    if isinstance(node, N.Expr) and expr_fn is not None:
        node = expr_fn(node)
    if isinstance(node, N.Relation) and rel_fn is not None:
        node = rel_fn(node)
    return node


def walk(node):
    """Every AST node under `node` (itself included), parents before
    children: the read-only counterpart of transform."""
    stack = [node]
    while stack:
        x = stack.pop()
        if isinstance(x, (list, tuple)):
            stack.extend(reversed(x))
        elif _is_node(x):
            yield x
            if dataclasses.is_dataclass(x):
                stack.extend(getattr(x, f.name)
                             for f in reversed(dataclasses.fields(x)))


class Analyzer:
    """Holds the session's definitions and rewrites query plans."""

    def __init__(self):
        self.models: dict[str, N.ModelDef] = {}
        self.vals: dict[str, N.ValDef] = {}
        self.functions: dict[str, N.FunctionDef] = {}
        self.partials: dict[str, N.PartialQueryDef] = {}
        self.types: dict[str, N.TypeDef] = {}
        self.type_methods: dict[str, N.FunctionDef] = {}

    # -- registration --------------------------------------------------------

    def register(self, stmt: N.Statement) -> None:
        if isinstance(stmt, N.ModelDef):
            self.models[stmt.name] = stmt
        elif isinstance(stmt, N.ValDef):
            # a val bound to a zero-arg compiler native (val id = ulid_string)
            # evaluates ONCE at definition time — every later reference sees
            # the same value (reference: spec/basic/val.wv msg2/l1=l2)
            if isinstance(stmt.expr, N.Ident) and stmt.expr.name in self.functions:
                fn = self.functions[stmt.expr.name]
                if isinstance(fn.body, N.NativeExpr) and not fn.params:
                    impl = NATIVE_FUNCTIONS.get(stmt.expr.name)
                    if impl is not None:
                        stmt = N.ValDef(stmt.name, expr=N.Literal(impl(), "string"))
            self.vals[stmt.name] = stmt
        elif isinstance(stmt, N.FunctionDef):
            self.functions[stmt.name] = stmt
        elif isinstance(stmt, N.PartialQueryDef):
            self.partials[stmt.name] = stmt
        elif isinstance(stmt, N.TypeDef):
            self.types[stmt.name] = stmt
            for dialect, fn in stmt.methods:
                # the type header's `in X` is a dialect scope when X names
                # an engine (reference: `type string in duckdb = {...}`);
                # we execute on Spark, so only unscoped or spark-scoped
                # methods apply.  A spark-scoped def overrides an unscoped
                # one of the same name; other engines' defs are ignored.
                if dialect is None and fn.name not in self.type_methods:
                    self.type_methods[fn.name] = fn
                elif dialect == "spark":
                    self.type_methods[fn.name] = fn
                elif dialect is not None and fn.name not in self.type_methods:
                    # other-engine-scoped def with no unscoped/spark
                    # alternative: use it as a fallback — many such bodies
                    # are engine-agnostic SQL (reference
                    # spec/cdp_simple/cdp_types_duckdb.wv defines
                    # `in duckdb` methods whose bodies are plain literals)
                    self.type_methods[fn.name] = fn

    # -- main entry -----------------------------------------------------------

    def resolve(self, rel: N.Relation, _stack: tuple[str, ...] = ()) -> N.Relation:
        """Expand models / vals / partial queries / scalar defs in a plan."""

        def rel_fn(node: N.Relation) -> N.Relation:
            if isinstance(node, N.InterpTableRef):
                # evaluate once bindings are literal; a part still symbolic
                # means we're inside an unexpanded model body — leave as-is
                out = []
                for p in node.parts:
                    if isinstance(p, str):
                        out.append(p)
                    elif isinstance(p, N.Literal):
                        out.append("" if p.value is None else str(p.value))
                    else:
                        return node
                name = "".join(out)
                if name in self.models:
                    return self._expand_model(name, [], _stack)
                if name in self.vals and self.vals[name].table is not None:
                    return deepcopy(self.vals[name].table)
                return N.TableRef(name)
            if isinstance(node, N.TableRef):
                name = node.name
                if name in self.models:
                    return self._expand_model(name, [], _stack)
                if name in self.vals and self.vals[name].table is not None:
                    return deepcopy(self.vals[name].table)
                return node
            if isinstance(node, N.ModelScan):
                if node.name in self.models:
                    return self._expand_model(node.name, node.args, _stack)
                raise CompileError(f"unknown model: {node.name}")
            if isinstance(node, N.PartialApply):
                return self._apply_partial(node, _stack)
            if isinstance(node, N.Subscribe):
                child = node.child
                if isinstance(child, N.ModelScan) and child.name in self.models:
                    mdl = self.models[child.name]
                    wm = mdl.config.get("watermark_column")
                    ws = mdl.config.get("window_size")
                    return N.Subscribe(
                        self._expand_model(child.name, child.args, _stack),
                        watermark_column=wm,
                        window_size=ws,
                    )
                return node
            return node

        def expr_fn(node: N.Expr) -> N.Expr:
            if isinstance(node, N.Ident):
                v = self.vals.get(node.name)
                if v is not None and v.expr is not None:
                    return deepcopy(v.expr)
                # zero-arg function referenced by bare name (reference:
                # `select ulid_string` calls the stdlib native function)
                fn = self.functions.get(node.name)
                if fn is not None and not fn.params:
                    return self._inline_function(N.FunctionApply(node.name, []), _stack)
                return node
            if isinstance(node, N.FunctionApply) and not node.raw \
                    and node.name in self.functions:
                return self._inline_function(node, _stack)
            if isinstance(node, N.MethodCall) and node.method in self.type_methods:
                return self._inline_method(node, _stack)
            # zero-arg method without parens parses as a qualified Ref
            if isinstance(node, N.Ref) and node.name in self.type_methods:
                return self._inline_method(
                    N.MethodCall(node.qualifier, node.name, []), _stack)
            return node

        out = transform(rel, expr_fn=expr_fn, rel_fn=rel_fn)
        out, _ = _strip_asof_aliases(
            out, getattr(self, "table_columns", None))
        return out

    # -- models ---------------------------------------------------------------

    def _expand_model(
        self, name: str, args: list[tuple[str | None, N.Expr]], stack: tuple[str, ...]
    ) -> N.Relation:
        if name in stack:
            raise CompileError(
                f"recursive model reference: {' -> '.join(stack + (name,))}"
            )
        if len(stack) >= MAX_EXPANSION_DEPTH:
            raise CompileError(f"model expansion too deep (>{MAX_EXPANSION_DEPTH})")
        mdl = self.models[name]
        body = deepcopy(mdl.body)
        bindings = self._bind_params(mdl.params, args, f"model {name}")
        if bindings:
            body = substitute_idents(body, bindings)
        if args and not mdl.params:
            # prepared-statement models (PREPARE -> model conversion) have
            # no declared params; their bodies hold $1/$name placeholders.
            # EXECUTE-style invocation `from m(v1, v2)` binds those here.
            positional = [a for n, a in args if n is None]
            named = {n: a for n, a in args if n is not None}

            def bind_param(node):
                if isinstance(node, N.Param):
                    if node.kind == "name" and node.name in named:
                        return named[node.name]
                    if node.kind in ("index", "anon") and node.index \
                            and node.index <= len(positional):
                        return positional[node.index - 1]
                return node

            body = transform(body, expr_fn=bind_param)
        expanded = self.resolve(body, stack + (name,))
        return N.ParenRelation(expanded)

    def _bind_params(
        self,
        params: list[tuple[str, str | None, N.Expr | None]],
        args: list[tuple[str | None, N.Expr]],
        what: str,
    ) -> dict[str, N.Expr]:
        bindings: dict[str, N.Expr] = {}
        positional = [a for n, a in args if n is None]
        named = {n: a for n, a in args if n is not None}
        for i, (pname, _ptype, default) in enumerate(params):
            if pname in named:
                bindings[pname] = named[pname]
            elif i < len(positional):
                bindings[pname] = positional[i]
            elif default is not None:
                bindings[pname] = default
            else:
                raise CompileError(f"missing argument {pname!r} for {what}")
        return bindings

    # -- partial queries ------------------------------------------------------

    def _apply_partial(self, node: N.PartialApply, stack: tuple[str, ...]) -> N.Relation:
        from wvlet_spark.parser import _HoleRelation

        pq = self.partials.get(node.name)
        if pq is None:
            raise CompileError(f"unknown partial query: {node.name}")
        key = f"partial:{node.name}"
        if key in stack:
            raise CompileError(f"recursive partial query: {node.name}")
        body = deepcopy(pq.ops[0])
        bindings = self._bind_params(
            pq.params,
            [(a.alias, a.expr) if isinstance(a, N.NamedExpr) else (None, a)
             for a in node.args],
            f"def {node.name}")

        def fill_hole(r: N.Relation) -> N.Relation:
            if isinstance(r, _HoleRelation):
                return node.child
            return r

        body = transform(body, rel_fn=fill_hole)
        if bindings:
            body = substitute_idents(body, bindings)
        return self.resolve(body, stack + (key,))

    # -- scalar function inlining ---------------------------------------------

    def _inline_function(self, call: N.FunctionApply, stack: tuple[str, ...]) -> N.Expr:
        fn = self.functions[call.name]
        key = f"def:{call.name}"
        if key in stack:
            raise CompileError(f"recursive function: {call.name}")
        if isinstance(fn.body, N.NativeExpr):
            # compiler-implemented natives evaluate once at compile time;
            # anything else passes through to the engine as a plain call
            # (reference: ext/NativeFunction.scala isImplemented/callByName)
            impl = NATIVE_FUNCTIONS.get(call.name)
            if impl is not None:
                return N.Literal(impl(), "string")
            return N.FunctionApply(call.name, [deepcopy(a) for a in call.args], raw=True)
        body = deepcopy(fn.body)
        bindings = self._bind_params(
            fn.params, [(None, a) for a in call.args], f"def {call.name}"
        )
        if bindings:
            body = substitute_idents(body, bindings)
        # allow nested def calls
        def expr_fn(node: N.Expr) -> N.Expr:
            if isinstance(node, N.FunctionApply) and node.name in self.functions:
                return self._inline_function(node, stack + (key,))
            return node

        return transform(body, expr_fn=expr_fn)

    def _inline_method(self, call: N.MethodCall, stack: tuple[str, ...]) -> N.Expr:
        """Type-method extension: `x.m(a)` inlines the method body with
        `this` bound to x and params bound to the call args (reference:
        TypeDef method elems inlined by FunctionInliner)."""
        fn = self.type_methods[call.method]
        key = f"method:{call.method}"
        if key in stack:
            raise CompileError(f"recursive type method: {call.method}")
        body = deepcopy(fn.body)
        bindings = self._bind_params(
            fn.params, [(None, a) for a in call.args], f"method {call.method}"
        )
        bindings["this"] = call.target
        body = substitute_idents(body, bindings)

        def expr_fn(node: N.Expr) -> N.Expr:
            if isinstance(node, N.FunctionApply) and node.name in self.functions:
                return self._inline_function(node, stack + (key,))
            if isinstance(node, N.MethodCall) and node.method in self.type_methods:
                return self._inline_method(node, stack + (key,))
            # zero-arg method without parens parses as a qualified Ref
            # (`td_user_agent.category` inside another method's body —
            # reference spec/cdp_simple/cdp_types_duckdb.wv)
            if isinstance(node, N.Ref) and node.name in self.type_methods:
                return self._inline_method(
                    N.MethodCall(node.qualifier, node.name, []),
                    stack + (key,))
            return node

        return transform(body, expr_fn=expr_fn)


def _asof_side_alias(rel) -> str | None:
    if isinstance(rel, N.AliasedRelation):
        return rel.alias
    if isinstance(rel, N.Values):
        return rel.alias
    if isinstance(rel, N.ParenRelation):
        return _asof_side_alias(rel.child)
    if isinstance(rel, N.TableRef):
        return rel.name.split(".")[-1]
    return None


def _infer_static_columns(rel, table_columns) -> list[str] | None:
    """Best-effort static output-column inference for an asof-join side:
    table refs resolve through the session catalog, aliased subqueries
    use their column list or their final projection's item names.
    Returns None when the shape is not statically known."""
    if isinstance(rel, N.AliasedRelation):
        if rel.columns:
            return list(rel.columns)
        return _infer_static_columns(rel.child, table_columns)
    if isinstance(rel, N.ParenRelation):
        return _infer_static_columns(rel.child, table_columns)
    if isinstance(rel, N.TableRef):
        return table_columns(rel.name) if table_columns else None
    if isinstance(rel, N.Project):
        names = []
        for it in rel.items:
            if isinstance(it, N.NamedExpr):
                if it.alias:
                    names.append(it.alias)
                elif isinstance(it.expr, (N.Ident, N.Ref)):
                    names.append(it.expr.name)
                else:
                    return None
            else:
                return None  # star — give up
        return names
    if isinstance(rel, (N.Filter, N.Sort, N.Limit, N.Offset, N.Dedup,
                        N.Sample)):
        return _infer_static_columns(rel.child, table_columns)
    return None


def _strip_asof_aliases(rel, table_columns=None):
    """The Spark asof-join lowering flattens both sides into an unqualified
    projection, so `stock.price` written AFTER an asof join can no longer
    resolve by qualifier (reference keeps aliases visible —
    spec/basic/join-asof.wv `add stock.price * holding.shares`).  Rewrite
    the join's side aliases in every downstream pipe op: refs strip to
    the bare column, EXCEPT right-side refs to a column whose name also
    exists on the left — those rewrite to the mangled copy the lowering
    carries (N.ASOF_RIGHT_MARK + name) so they keep their true RIGHT
    value.  Previously `e2.event_id` on a self-asof-join silently
    resolved to the LEFT value (round-5 SQL-first probe find).
    Duplicate detection is static (catalog table refs / explicit
    projections); when a side's columns cannot be inferred, refs strip
    as before.  Returns (rel, (left_aliases, right_aliases, dup_set))."""
    import dataclasses

    NOA = (set(), set(), set())
    if not dataclasses.is_dataclass(rel):
        return rel, NOA
    if isinstance(rel, N.Join) and rel.asof:
        la = _asof_side_alias(rel.left)
        ra = _asof_side_alias(rel.right)
        lcols = _infer_static_columns(rel.left, table_columns)
        rcols = _infer_static_columns(rel.right, table_columns)
        dups = (set(lcols) & set(rcols)) if lcols and rcols else set()
        return rel, ({la} if la else set(), {ra} if ra else set(), dups)
    if isinstance(rel, N.WithQuery):
        body2, aliases = _strip_asof_aliases(rel.body, table_columns)
        if body2 is not rel.body:
            rel = dataclasses.replace(rel, body=body2)
        return rel, aliases
    child = getattr(rel, "child", None)
    if not isinstance(child, N.Relation):
        return rel, NOA
    child2, aliases = _strip_asof_aliases(child, table_columns)
    if child2 is not child:
        rel = dataclasses.replace(rel, child=child2)
    left_aliases, right_aliases, dups = aliases
    if not left_aliases and not right_aliases:
        return rel, NOA

    def expr_fn(node: N.Expr) -> N.Expr:
        if isinstance(node, N.Ref) and isinstance(node.qualifier, N.Ident):
            if node.qualifier.name in left_aliases:
                return N.Ident(node.name)
            if node.qualifier.name in right_aliases:
                if node.name in dups:
                    return N.Ident(N.ASOF_RIGHT_MARK + node.name)
                return N.Ident(node.name)
        return node

    def rewrite_field(v):
        if isinstance(v, N.Relation):
            return v
        if isinstance(v, N.Expr) or (dataclasses.is_dataclass(v) and not isinstance(v, type)):
            return transform(v, expr_fn=expr_fn)
        if isinstance(v, list):
            return [rewrite_field(x) for x in v]
        if isinstance(v, tuple):
            return tuple(rewrite_field(x) for x in v)
        return v

    changed = {}
    for f in dataclasses.fields(rel):
        if f.name == "child":
            continue
        v = getattr(rel, f.name)
        nv = rewrite_field(v)
        if nv is not v:
            changed[f.name] = nv
    if changed:
        rel = dataclasses.replace(rel, **changed)
    return rel, aliases


def substitute_idents(tree, bindings: dict[str, N.Expr]):
    """Replace bare Ident(name) occurrences with bound argument expressions."""

    def expr_fn(node: N.Expr) -> N.Expr:
        if isinstance(node, N.Ident) and node.name in bindings:
            return deepcopy(bindings[node.name])
        return node

    return transform(tree, expr_fn=expr_fn)
