"""Greedy join-order optimization over the wvlet relational AST.

Why engine-side: the reference hands multi-way joins to engines whose
cost-based optimizers reorder them from catalog statistics (DuckDB's
join-order optimizer, Trino's CBO).  Spark's CBO needs ANALYZE'd catalog
stats that path-registered parquet views never have, so Catalyst executes
multi-way inner joins in WRITTEN order — TPC-H Q5 written
customer->orders->lineitem joins two fact tables before the selective
region dimension ever prunes anything (measured 16x slower than DuckDB at
sf100, BENCH_sf100.json).  This pass plays the missing optimizer using
parquet-footer stats (`wvlet_spark/stats.py`): classic greedy operator
ordering (GOO, Fegaras 1998) restricted to left-deep trees, which is also
exactly the shape Catalyst's ReorderJoin preserves.

Scale posture: estimates come from footer metadata only (no data scan);
the rewrite emits a cross-join chain + conjunctive filter and lets
Catalyst do what it is good at — pushing each conjunct down to its join /
scan and picking physical strategies (broadcast/shuffled-hash) per AQE
runtime sizes.  We decide only the one thing Catalyst cannot: the order.

Safety: inner/cross chains only (outer/semi/asof/using/natural joins are
never touched), all leaves must be base tables with resolvable schemas,
and any bare column name that is ambiguous across leaves disqualifies the
chain (moving ON conjuncts into WHERE must not change name resolution).
Join order for inner joins is semantics-neutral, so a mis-estimate can
cost time, never correctness.
"""

from __future__ import annotations

import dataclasses
import datetime
from dataclasses import dataclass

from wvlet_spark import nodes as N
from wvlet_spark.stats import TableStats, _to_comparable

DEFAULT_EQ_SEL = 0.1
DEFAULT_SEL = 0.25
MIN_FRACTION = 0.001

# Spark's spark.sql.autoBroadcastJoinThreshold default; the session passes
# the live conf value instead (bench tunes it per scale).
DEFAULT_BROADCAST_BYTES = 10 << 20


# --------------------------------------------------------------- expr utils

def split_and(e: N.Expr) -> list[N.Expr]:
    if isinstance(e, N.And):
        return split_and(e.left) + split_and(e.right)
    return [e]


def fold_and(parts: list[N.Expr]) -> N.Expr:
    out = parts[0]
    for p in parts[1:]:
        out = N.And(out, p)
    return out


def _unwrap(e: N.Expr) -> N.Expr:
    while isinstance(e, N.Cast):
        e = e.expr
    return e


def _as_column(e: N.Expr) -> tuple[str | None, str] | None:
    """Return (qualifier|None, column) when e is a pure column reference."""
    e = _unwrap(e)
    if isinstance(e, N.Ident):
        return (None, e.name.lower())
    if isinstance(e, N.Ref) and isinstance(e.qualifier, N.Ident):
        return (e.qualifier.name.lower(), e.name.lower())
    return None


def _literal_value(e: N.Expr):
    """Python value of a (possibly cast) literal; None when not a literal."""
    cast_type = None
    while isinstance(e, N.Cast):
        cast_type = e.to_type.lower()
        e = e.expr
    if isinstance(e, N.UnaryOp) and e.op == "-":
        inner = _literal_value(e.expr)
        return -inner if isinstance(inner, (int, float)) else None
    if not isinstance(e, N.Literal):
        return None
    v = e.value
    if isinstance(v, str) and (cast_type or "").startswith(("date", "timestamp")):
        try:
            return datetime.date.fromisoformat(v[:10])
        except ValueError:
            return None
    if isinstance(v, str):
        # bare string literal compared to a date column still parses
        try:
            return datetime.date.fromisoformat(v[:10])
        except ValueError:
            return v
    return v


def _collect_cols(e, out: list) -> bool:
    """All column references in e -> out; False when e contains a subquery
    (which may reference relations outside the chain)."""
    if isinstance(e, (N.InSubquery, N.Exists, N.ScalarSubquery, N.Relation)):
        return False
    col = _as_column(e) if isinstance(e, (N.Ident, N.Ref)) else None
    if col is not None:
        out.append(col)
        return True
    if isinstance(e, N.Ref):
        # qualifier is itself an expression (struct access) — record nothing,
        # recurse into the qualifier for safety
        return _collect_cols(e.qualifier, out)
    if dataclasses.is_dataclass(e) and not isinstance(e, type):
        for f in dataclasses.fields(e):
            if not _collect_cols(getattr(e, f.name), out):
                return False
        return True
    if isinstance(e, (list, tuple)):
        for x in e:
            if not _collect_cols(x, out):
                return False
        return True
    return True


# ------------------------------------------------------------- chain model

@dataclass
class Leaf:
    rel: N.Relation          # original AST leaf (preserved verbatim)
    alias: str               # resolution name (lowercase)
    table: str               # underlying table name
    columns: set             # lowercase column names
    stats: TableStats


def _flatten(rel: N.Relation, leaves: list[N.Relation],
             conds: list[N.Expr]) -> bool:
    """Flatten a cross/inner join tree; False when the chain contains a
    join kind whose order is not free to change."""
    if isinstance(rel, N.Join):
        if rel.join_type not in ("cross", "inner") or rel.using \
                or rel.natural or rel.asof:
            return False
        if not _flatten(rel.left, leaves, conds):
            return False
        if not _flatten(rel.right, leaves, conds):
            return False
        if rel.cond is not None:
            conds.extend(split_and(rel.cond))
        return True
    leaves.append(rel)
    return True


def _resolve_leaf(rel: N.Relation, schema_of, stats_of) -> Leaf | None:
    alias = None
    node = rel
    if isinstance(node, N.AliasedRelation):
        alias = node.alias
        node = node.child
    if not isinstance(node, N.TableRef):
        return None
    table = node.name
    cols = schema_of(table)
    stats = stats_of(table)
    if cols is None or stats is None:
        return None
    return Leaf(rel=rel, alias=(alias or table.split(".")[-1]).lower(),
                table=table, columns={c.lower() for c in cols}, stats=stats)


def _owner(col: tuple[str | None, str], leaves: list[Leaf]) -> int | None:
    """Leaf index owning a column reference; None = unresolvable/ambiguous."""
    qual, name = col
    if qual is not None:
        for i, lf in enumerate(leaves):
            if lf.alias == qual:
                return i if name in lf.columns else None
        return None
    hits = [i for i, lf in enumerate(leaves) if name in lf.columns]
    return hits[0] if len(hits) == 1 else None


# ------------------------------------------------------------ selectivity

def _range_fraction(stats: TableStats, col: str, lo, hi) -> float:
    cs = stats.cols.get(col)
    if cs is None or cs.min_v is None or cs.max_v is None:
        return 0.3
    m0 = _to_comparable(cs.min_v, cs.logical)
    m1 = _to_comparable(cs.max_v, cs.logical)
    lo_c = _to_comparable(lo, cs.logical) if lo is not None else None
    hi_c = _to_comparable(hi, cs.logical) if hi is not None else None
    if m0 is None or m1 is None or m1 <= m0:
        return 0.3
    a = m0 if lo_c is None else max(lo_c, m0)
    b = m1 if hi_c is None else min(hi_c, m1)
    return max(MIN_FRACTION, min(1.0, (b - a) / (m1 - m0)))


def _local_selectivity(leaf: Leaf, preds: list[N.Expr]) -> float:
    """Combined selectivity of single-table predicates: range predicates
    merge per column into one interval; everything else multiplies."""
    intervals: dict[str, list] = {}     # col -> [lo, hi]
    sel = 1.0
    for p in preds:
        s = None
        if isinstance(p, N.Comparison):
            lc, rc = _as_column(p.left), _as_column(p.right)
            lv, rv = _literal_value(p.right), _literal_value(p.left)
            col, lit, op = None, None, p.op
            if lc is not None and lv is not None:
                col, lit = lc[1], lv
            elif rc is not None and rv is not None:
                col, lit = rc[1], rv
                op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}.get(op, op)
            if col is not None:
                if op == "=":
                    ndv = leaf.stats.ndv(col)
                    s = 1.0 / ndv if ndv else DEFAULT_EQ_SEL
                elif op in ("!=", "<>"):
                    s = 0.9
                elif op in (">", ">="):
                    iv = intervals.setdefault(col, [None, None])
                    iv[0] = lit if iv[0] is None else max(iv[0], lit)
                    continue
                elif op in ("<", "<="):
                    iv = intervals.setdefault(col, [None, None])
                    iv[1] = lit if iv[1] is None else min(iv[1], lit)
                    continue
        elif isinstance(p, N.Between) and not p.negated:
            c = _as_column(p.expr)
            lo, hi = _literal_value(p.lower), _literal_value(p.upper)
            if c is not None and lo is not None and hi is not None:
                iv = intervals.setdefault(c[1], [None, None])
                iv[0] = lo if iv[0] is None else max(iv[0], lo)
                iv[1] = hi if iv[1] is None else min(iv[1], hi)
                continue
        elif isinstance(p, N.InList) and not p.negated:
            c = _as_column(p.expr)
            if c is not None:
                ndv = leaf.stats.ndv(c[1])
                per = 1.0 / ndv if ndv else 0.04
                s = min(0.8, len(p.values) * per)
        elif isinstance(p, N.IsNull):
            c = _as_column(p.expr)
            if c is not None:
                nf = leaf.stats.null_fraction(c[1])
                s = (1.0 - nf) if p.negated else max(nf, 0.001)
        elif isinstance(p, N.Like):
            s = 0.25
        elif isinstance(p, N.Or):
            parts = []
            stack = [p]
            while stack:
                x = stack.pop()
                if isinstance(x, N.Or):
                    stack.extend([x.left, x.right])
                else:
                    parts.append(x)
            acc = 1.0
            for x in parts:
                acc *= 1.0 - _local_selectivity(leaf, [x])
            s = 1.0 - acc
        if s is None:
            s = DEFAULT_SEL
        sel *= s
    for col, (lo, hi) in intervals.items():
        sel *= _range_fraction(leaf.stats, col, lo, hi)
    return max(sel, 1.0 / max(leaf.stats.rows, 1))


# ----------------------------------------------------------- order search

DP_MAX_RELATIONS = 12


def _cardinalities(leaves: list[Leaf], local: dict[int, list],
                   edges: list[tuple[int, str, int, str]]):
    """Per-leaf filtered row estimates, scaled per-column ndv estimates,
    and per-leaf average row width in bytes (parquet bytes / rows — the
    same on-disk figure Spark's file-source sizeInBytes estimate uses)."""
    est: list[float] = []
    ndv: list[dict] = []
    widths: list[float] = []
    for i, lf in enumerate(leaves):
        sel = _local_selectivity(lf, local.get(i, []))
        rows = max(1.0, lf.stats.rows * sel)
        est.append(rows)
        widths.append(max(1.0, lf.stats.bytes / max(lf.stats.rows, 1)))
        m = {}
        for c in lf.columns:
            v = lf.stats.ndv(c)
            base = float(v) if v else float(lf.stats.rows)
            m[c] = max(1.0, base * sel)
        ndv.append(m)
    return est, ndv, widths


def _equiv_classes(edges: list[tuple[int, str, int, str]]) -> list[list]:
    """Union-find closure of equality edges over (leaf, col) pairs.

    Queries routinely write transitive chains (TPC-H Q5:
    c_nationkey = s_nationkey AND s_nationkey = n_nationkey) — without
    closure the model sees customer adjacent only to supplier and prices
    region->nation->customer as a cross product, inverting the plan."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, ca, b, cb) in edges:
        ra, rb = find((a, ca)), find((b, cb))
        if ra != rb:
            parent[ra] = rb
    groups: dict = {}
    for k in parent:
        groups.setdefault(find(k), []).append(k)
    return [sorted(g) for g in groups.values() if len(g) >= 2]


def _subset_rows(subset_bits: int, est, ndv, classes) -> float:
    """Plan-independent cardinality of joining every relation in the
    subset.  Per equivalence class with member ndvs d1..dk present in the
    subset, the k-way equi-join keeps a dmin/(d1*...*dk) fraction of the
    cross product — the System-R uniformity+containment model (k=2 reduces
    to the familiar 1/max(d1,d2))."""
    rows = 1.0
    i = 0
    bits = subset_bits
    while bits:
        if bits & 1:
            rows *= est[i]
        bits >>= 1
        i += 1
    for members in classes:
        dvals = [ndv[leaf].get(col, 1.0)
                 for (leaf, col) in members if subset_bits >> leaf & 1]
        if len(dvals) >= 2:
            prod = 1.0
            for d in dvals:
                prod *= d
            rows *= min(dvals) / prod
    return max(rows, 1.0)


def _subset_bytes(subset_bits: int, rows: float, widths) -> float:
    """Estimated bytes of the subset's join result: subset rows x the
    concatenated row width of its members."""
    w = 0.0
    i = 0
    bits = subset_bits
    while bits:
        if bits & 1:
            w += widths[i]
        bits >>= 1
        i += 1
    return rows * w


def _step_cost(prev_bits: int, j: int, est, ndv, classes, widths,
               bcast: float) -> float:
    """C_out cost of joining relation j into the subset prev_bits: its
    OUTPUT rows.  Every step pays its output — including broadcastable
    ones — because a broadcast join avoids shuffling its INPUTS, never
    its output volume: round-7 found that costing broadcast steps ~0
    made the DP append a 5.6 MB supplier via the many-to-many nationkey
    equality at sf100 ("free" step, 2e11-row output, ENOSPC).  Pure
    C_out is also exactly the round-6 model whose sf100 wins are the
    measured evidence.  Broadcastability enters ONLY through the guard
    (order_shuffle_cost): broadcast steps contribute nothing there, so
    an all-broadcast written order (sf1 q7, judge A/B +38% before the
    gate) can never be "improved" by a rewrite."""
    cost, _is_bcast = _step(prev_bits, j, est, ndv, classes, widths, bcast)
    return cost


def _step(prev_bits: int, j: int, est, ndv, classes, widths,
          bcast: float) -> tuple[float, bool]:
    out_bits = prev_bits | (1 << j)
    rows_out = _subset_rows(out_bits, est, ndv, classes)
    if bcast > 0:
        rows_prev = _subset_rows(prev_bits, est, ndv, classes)
        bytes_prev = _subset_bytes(prev_bits, rows_prev, widths)
        bytes_j = est[j] * widths[j]
        if min(bytes_prev, bytes_j) <= bcast:
            return rows_out, True
    return rows_out, False


def order_shuffle_cost(order: list[int], est, ndv, classes, widths,
                       bcast: float) -> float:
    """Shuffle-step cost only (broadcast steps contribute nothing).
    Zero means the order executes with no join shuffle at all."""
    total = 0.0
    bits = 1 << order[0]
    for i in order[1:]:
        c, is_bcast = _step(bits, i, est, ndv, classes, widths, bcast)
        if not is_bcast:
            total += c
        bits |= 1 << i
    return total


def _best_order(leaves: list[Leaf], local: dict[int, list],
                edges: list[tuple[int, str, int, str]],
                bcast: float) -> list[int]:
    """Join order minimizing the sum of intermediate result sizes (C_out).

    n <= DP_MAX_RELATIONS: exact left-deep dynamic programming over
    connected subsets (left-deep is what Catalyst's ReorderJoin preserves,
    so optimizing a wider space would be wasted).  Larger chains fall back
    to greedy operator ordering.  Cardinalities are subset-level and
    plan-independent, so the DP is sound."""
    n = len(leaves)
    est, ndv, widths = _cardinalities(leaves, local, edges)
    classes = _equiv_classes(edges)

    adj = [0] * n
    for members in classes:
        ls = {leaf for (leaf, _c) in members}
        for a in ls:
            for b in ls:
                if a != b:
                    adj[a] |= 1 << b

    if n > DP_MAX_RELATIONS:
        return _greedy_order(n, est, ndv, classes, adj, widths, bcast)

    full = (1 << n) - 1
    # best[S] = (cost, order) — left-deep DP; only S whose induced join
    # graph is connected get entries (a disconnected prefix is a cross
    # join; allowed only when the whole graph is disconnected, handled by
    # the greedy fallback)
    best: dict[int, tuple[float, list[int]]] = {}
    import itertools

    for i in range(n):
        best[1 << i] = (0.0, [i])
    for size in range(2, n + 1):
        for combo in itertools.combinations(range(n), size):
            s_bits = 0
            for i in combo:
                s_bits |= 1 << i
            entry = None
            for j in combo:
                prev_bits = s_bits & ~(1 << j)
                prev = best.get(prev_bits)
                if prev is None:
                    continue
                if size > 1 and not (adj[j] & prev_bits):
                    continue            # keep prefixes connected
                cost = prev[0] + _step_cost(prev_bits, j, est, ndv,
                                            classes, widths, bcast)
                if entry is None or cost < entry[0]:
                    entry = (cost, prev[1] + [j])
            if entry is not None:
                best[s_bits] = entry
    final = best.get(full)
    if final is None:      # disconnected join graph
        return _greedy_order(n, est, ndv, classes, adj, widths, bcast)
    return final[1]


def _greedy_order(n: int, est, ndv, classes, adj, widths,
                  bcast: float) -> list[int]:
    """Left-deep GOO fallback for wide chains: start from the smallest
    filtered relation, repeatedly append the relation minimizing the
    shuffle-aware step cost (cross joins rank after every connected join)."""
    start = min(range(n), key=lambda i: (est[i], i))
    order = [start]
    placed_bits = 1 << start
    remaining = [i for i in range(n) if i != start]
    while remaining:
        cur_bits = placed_bits
        best = None
        for j in remaining:
            connected = bool(adj[j] & cur_bits)
            cost = _step_cost(cur_bits, j, est, ndv, classes, widths, bcast)
            rank = (0 if connected else 1, cost, j)
            if best is None or rank < best[0]:
                best = (rank, j)
        j = best[1]
        order.append(j)
        placed_bits |= 1 << j
        remaining.remove(j)
    return order


# ------------------------------------------------------------------ driver

def _try_reorder(node: N.Relation, schema_of, stats_of,
                 bcast: float) -> N.Relation:
    """Rewrite Filter(join-chain) / join-chain when a better order exists."""
    filt_conds: list[N.Expr] = []
    chain = node
    if isinstance(node, N.Filter):
        filt_conds = split_and(node.cond)
        chain = node.child
    if not isinstance(chain, N.Join):
        return node
    leaves_raw: list[N.Relation] = []
    join_conds: list[N.Expr] = []
    if not _flatten(chain, leaves_raw, join_conds):
        return node
    if len(leaves_raw) < 3:
        return node
    leaves = []
    for lr in leaves_raw:
        lf = _resolve_leaf(lr, schema_of, stats_of)
        if lf is None:
            return node
        leaves.append(lf)

    conjuncts = join_conds + filt_conds
    # name-resolution safety: every bare column in every conjunct must be
    # unique across the chain (ON -> WHERE movement must not re-resolve)
    local: dict[int, list] = {}
    edges: list[tuple[int, str, int, str]] = []
    col_expr: dict[tuple[int, str], N.Expr] = {}
    for c in conjuncts:
        cols: list = []
        clean = _collect_cols(c, cols)
        owners = set()
        for col in cols:
            o = _owner(col, leaves)
            if o is None:
                return node
            owners.add(o)
        if not clean:
            continue                       # subquery conjunct: residual only
        if len(owners) == 1:
            local.setdefault(next(iter(owners)), []).append(c)
        elif len(owners) == 2 and isinstance(c, N.Comparison) and c.op == "=":
            lc, rc = _as_column(c.left), _as_column(c.right)
            if lc is not None and rc is not None:
                lo, ro = _owner(lc, leaves), _owner(rc, leaves)
                if lo is not None and ro is not None and lo != ro:
                    edges.append((lo, lc[1], ro, rc[1]))
                    col_expr.setdefault((lo, lc[1]), c.left)
                    col_expr.setdefault((ro, rc[1]), c.right)

    order = _best_order(leaves, local, edges, bcast)
    if order == list(range(len(leaves))):
        return node
    # Guard: rewrite only when the new order STRICTLY reduces modeled
    # SHUFFLE cost.  Two failure modes motivated this exact form
    # (round-6 verdict + round-7 sf1 A/B): (a) symmetric prefixes give
    # exact ties and a tie-rewrite can still shift physical shuffle
    # order for no modeled gain (q18 +10% at sf100); (b) an
    # all-broadcast chain has NOTHING to save — every join is already
    # shuffle-free in written order — yet an EPS-tiebreak rewrite
    # still changed the BHJ pipeline order and cost 1.8x on sf1
    # q8_like.  Requiring a strict shuffle-cost win makes the guard the
    # broadcast gate: written all-broadcast => old_shuf == 0 => never
    # rewritten.
    est, ndv, widths = _cardinalities(leaves, local, edges)
    classes = _equiv_classes(edges)
    new_shuf = order_shuffle_cost(order, est, ndv, classes, widths, bcast)
    old_shuf = order_shuffle_cost(list(range(len(leaves))), est, ndv,
                                  classes, widths, bcast)
    if new_shuf >= 0.999 * old_shuf:
        return node

    # Derived transitive equalities: every step of the chosen order needs a
    # DIRECT join condition — Catalyst's ReorderJoin appends the first
    # condition-connected relation, so a transitively-connected step (Q5's
    # customer after nation: c_nationkey = s_nationkey = n_nationkey with
    # supplier last) would otherwise be skipped and the optimized order
    # silently undone.  Implied by the existing conjuncts, so adding them
    # never changes results.
    existing = {frozenset([(a, ca), (b, cb)]) for (a, ca, b, cb) in edges}
    derived: list[N.Expr] = []
    pos = {leaf_idx: k for k, leaf_idx in enumerate(order)}
    for members in _equiv_classes(edges):
        ms = sorted(members, key=lambda m: (pos[m[0]], m[1]))
        for ma, mb in zip(ms, ms[1:]):
            if frozenset([ma, mb]) not in existing:
                derived.append(N.Comparison("=", col_expr[ma], col_expr[mb]))

    new_chain: N.Relation = leaves[order[0]].rel
    for i in order[1:]:
        new_chain = N.Join(left=new_chain, right=leaves[i].rel,
                           join_type="cross", cond=None)
    conjuncts = conjuncts + derived
    if conjuncts:
        return N.Filter(child=new_chain, cond=fold_and(conjuncts))
    return new_chain


def reorder_joins(rel, schema_of, stats_of, broadcast_bytes=None):
    """Recursively apply greedy join reordering across a statement tree
    (including subquery relations).  schema_of(name)->cols|None,
    stats_of(name)->TableStats|None.  broadcast_bytes: the session's
    autoBroadcastJoinThreshold (None -> Spark's 10 MB default; <=0
    disables broadcast awareness, costing every step as a shuffle)."""
    bcast = float(DEFAULT_BROADCAST_BYTES if broadcast_bytes is None
                  else broadcast_bytes)

    def walk(x, in_chain=False):
        """in_chain: x sits directly under a Filter or Join — the enclosing
        node owns the whole chain, so a nested Join must not self-reorder
        (it would see only part of the conjuncts and could wrap itself in
        a Filter that blocks the outer flatten)."""
        if dataclasses.is_dataclass(x) and not isinstance(x, type):
            chain_parent = isinstance(x, (N.Filter, N.Join))
            changed = {}
            for f in dataclasses.fields(x):
                v = getattr(x, f.name)
                nv = walk(v, in_chain=chain_parent)
                if nv is not v:
                    changed[f.name] = nv
            if changed:
                x = dataclasses.replace(x, **changed)
            if isinstance(x, N.Filter) or (isinstance(x, N.Join) and not in_chain):
                # a Filter wrapping the reordered chain replaces a bare Join
                return _try_reorder(x, schema_of, stats_of, bcast)
            return x
        if isinstance(x, list):
            out = [walk(i) for i in x]
            return out if any(a is not b for a, b in zip(out, x)) else x
        if isinstance(x, tuple):
            out = tuple(walk(i) for i in x)
            return out if any(a is not b for a, b in zip(out, x)) else x
        return x

    return walk(rel)
