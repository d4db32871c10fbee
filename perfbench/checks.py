"""Output checks: DuckDB oracles (computed once per dataset and cached),
invariants for the entries whose oracle cannot run at benchmark scale, and
the server-preview comparison."""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle
import time

from wvlet_spark.oracle import compare, duckdb_connect, normalize_rows


class _Cursor:
    def __init__(self, entry: dict) -> None:
        self.description = [(c,) for c in entry["columns"]]
        self._entry = entry

    def fetchall(self):
        return self._entry["rows"]

    def fetchdf(self):
        return self._entry["df"]


class OracleCache:
    """DuckDB oracle results for one dataset, keyed by the SQL's hash.

    ``execute`` mimics the part of a DuckDB connection that
    ``wvlet_spark.oracle.compare`` uses, so the engine's own comparison code
    runs unchanged against cached results."""

    def __init__(self, path: str, data_dir: str) -> None:
        self.path, self.data_dir = path, data_dir
        self.entries: dict[str, dict] = {}
        self.duckdb_s = 0.0
        if os.path.exists(path):
            # written only by this module (see save)
            with open(path, "rb") as f:
                stored = pickle.load(f)
            self.entries, self.duckdb_s = stored["entries"], stored["duckdb_s"]
        self._dirty = False
        self._con = None

    @staticmethod
    def key(sql: str) -> str:
        return hashlib.sha256(sql.encode()).hexdigest()

    def ensure(self, sqls: list[str]) -> None:
        for sql in sqls:
            k = self.key(sql)
            if k in self.entries:
                continue
            if self._con is None:
                self._con = duckdb_connect(self.data_dir)
            t0 = time.perf_counter()
            cur = self._con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            df = self._con.execute(sql).fetchdf()
            dt = time.perf_counter() - t0
            self.entries[k] = {"columns": cols, "rows": rows, "df": df,
                               "duckdb_s": dt}
            self.duckdb_s += dt
            self._dirty = True

    def save(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
        if not self._dirty:
            return
        tmp = self.path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump({"entries": self.entries, "duckdb_s": self.duckdb_s},
                        f)
        os.replace(tmp, self.path)
        self._dirty = False

    def execute(self, sql: str) -> _Cursor:
        return _Cursor(self.entries[self.key(sql)])

    def rows(self, sql: str) -> tuple[list[str], list]:
        e = self.entries[self.key(sql)]
        return e["columns"], e["rows"]


# Floats that differ by less than this share are taken as equal.  A SQL sum
# of doubles has no defined order, and the same three doubles summed in
# another order can differ in the last bit: tpcds_q33_channel_union's total
# for part 3241 at sf0.05 is 1253157.1345 or 1253157.1345000002 depending on
# the order of its channels, and `compare`, which formats floats to 10
# significant digits, reads those as ...134 and ...135.
FLOAT_REL_TOL = 1e-9


class _Collected:
    """Collected rows in the shape ``compare`` reads from a DataFrame."""

    def __init__(self, columns: list[str], rows: list[tuple]) -> None:
        self.columns, self._rows = columns, rows

    def collect(self) -> list[tuple]:
        return self._rows


def _order_key(v):
    if isinstance(v, float) and not math.isnan(v):
        return (1, "", v)
    return (0, repr(v), 0.0)


def align_floats(cols, rows, o_cols, o_rows) -> list[tuple]:
    """``rows`` with each float replaced by the oracle's float in the same
    column of the matching row, where the two agree within FLOAT_REL_TOL.
    Rows are matched after sorting both sides by their values; anything
    else that differs still differs afterwards."""
    rows = [tuple(r) for r in rows]
    if sorted(cols) != sorted(o_cols) or len(rows) != len(o_rows):
        return rows
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    o_idx = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    mine = sorted(range(len(rows)), key=lambda j: tuple(
        _order_key(rows[j][i]) for i in idx))
    theirs = sorted(o_rows, key=lambda r: tuple(
        _order_key(r[i]) for i in o_idx))
    out = [list(r) for r in rows]
    for j, o in zip(mine, theirs):
        for i, oi in zip(idx, o_idx):
            a, b = out[j][i], o[oi]
            if (isinstance(a, float) and isinstance(b, float)
                    and math.isclose(a, b, rel_tol=FLOAT_REL_TOL)):
                out[j][i] = b
    return [tuple(r) for r in out]


def check_df(name: str, df, oracle_sql, cache: OracleCache, docs,
             context: dict) -> tuple[bool, str]:
    """Check one request's DataFrame.  ``docs`` is the documents table as
    pyarrow (for the invariant checks); ``context`` carries results between
    entries of one pass (canonical docs reuse the cluster labels)."""
    invariant = INVARIANTS.get(name)
    if invariant is not None:
        return invariant(df.collect(), docs, context)
    if oracle_sql is None:
        df.count()
        return True, "ok (no oracle)"
    cols = list(df.columns)
    o_cols, o_rows = cache.rows(oracle_sql)
    rows = align_floats(cols, df.collect(), o_cols, o_rows)
    return compare(_Collected(cols, rows), cache, oracle_sql)


def _check_clusters(rows, docs, context) -> tuple[bool, str]:
    ids = docs.column("doc_id").to_pylist()
    labels: dict[int, int] = {}
    for r in rows:
        doc, cluster, canon = r["doc_id"], r["cluster_id"], r["is_canonical"]
        if doc in labels:
            return False, f"doc {doc} labelled twice"
        if cluster > doc:
            return False, f"cluster_id {cluster} > doc_id {doc}"
        if bool(canon) != (cluster == doc):
            return False, f"is_canonical wrong for doc {doc}"
        labels[doc] = cluster
    if sorted(labels) != sorted(ids):
        return False, f"{len(labels)} labelled docs, expected {len(ids)}"
    for doc, cluster in labels.items():
        if labels.get(cluster) != cluster:
            return False, f"cluster {cluster} does not label itself"
    context["clusters"] = labels
    return True, f"ok ({len(set(labels.values()))} clusters)"


def _check_canonical(rows, docs, context) -> tuple[bool, str]:
    lengths = dict(zip(docs.column("doc_id").to_pylist(),
                       docs.column("n_chars").to_pylist()))
    labels = context.get("clusters")
    seen = set()
    for r in rows:
        cluster, canon, score = r["cluster_id"], r["canonical_id"], r["score"]
        if cluster in seen:
            return False, f"cluster {cluster} listed twice"
        seen.add(cluster)
        if canon < cluster:
            return False, f"canonical {canon} below cluster id {cluster}"
        if score != lengths.get(canon):
            return False, f"score {score} != length of doc {canon}"
        if labels is not None and labels.get(canon) != cluster:
            return False, f"canonical {canon} not in cluster {cluster}"
    if labels is not None:
        best: dict[int, tuple] = {}
        for doc, cluster in labels.items():
            cand = (-lengths[doc], doc)
            if cluster not in best or cand < best[cluster]:
                best[cluster] = cand
        want = {c: b[1] for c, b in best.items()}
        got = {r["cluster_id"]: r["canonical_id"] for r in rows}
        if got != want:
            return False, "canonical choice differs from cluster labels"
    return True, f"ok ({len(rows)} clusters)"


def _check_pairs(rows, docs, context=None) -> tuple[bool, str]:
    ids = set(docs.column("doc_id").to_pylist())
    seen = set()
    for r in rows:
        a, b, j = r["id_a"], r["id_b"], r["est_jaccard"]
        if not a < b:
            return False, f"pair ({a}, {b}) not ordered"
        if (a, b) in seen:
            return False, f"pair ({a}, {b}) repeated"
        if a not in ids or b not in ids:
            return False, f"pair ({a}, {b}) names an unknown doc"
        if not 0.0 <= j <= 1.0:
            return False, f"est_jaccard {j} out of range"
        seen.add((a, b))
    return True, f"ok ({len(rows)} pairs)"


# Entries checked by invariants instead of an oracle: minhash pairs are
# rows-only by design, and the all-pairs connected-components oracles take
# 20-30 s each at sf0.01 and do not finish in 120 s at sf0.1 (selftest.py
# runs them at sf0.01).
INVARIANTS = {
    "ext_dup_clusters": _check_clusters,
    "ext_canonical_docs": _check_canonical,
    "ext_minhash_pairs": _check_pairs,
}


def check_saved(path: str, oracle_sql, cache: OracleCache) -> tuple[bool, str]:
    """A ``save to`` request wrote as many rows as its oracle returns."""
    import pyarrow.dataset as ds

    got = ds.dataset(path, format="parquet").count_rows()
    if oracle_sql is None:
        return got >= 0, f"{got} rows saved"
    want = len(cache.rows(oracle_sql)[1])
    return got == want, f"{got} rows saved, oracle {want}"


def _jsonish(rows):
    return json.loads(json.dumps([list(r) for r in rows], default=str))


def check_preview(name: str, info: dict, oracle_sql, cache: OracleCache,
                  max_rows: int) -> tuple[bool, str]:
    """Server preview against the oracle: in full when the result fits in
    ``max_rows``, otherwise its columns, ``clipped`` and row count."""
    if info.get("error"):
        return False, f"server error: {info['error']}"
    if oracle_sql is None or name == "sample_reservoir":
        return info.get("status") == "finished", "no oracle"
    o_cols, o_rows = cache.rows(oracle_sql)
    cols = info["columns"]
    if sorted(cols) != sorted(o_cols):
        return False, f"columns {sorted(cols)} != {sorted(o_cols)}"
    if len(o_rows) <= max_rows:
        if info["clipped"] or info["rowCount"] != len(o_rows):
            return False, f"{info['rowCount']} rows, oracle {len(o_rows)}"
        o_rows = _jsonish(o_rows)
        got = normalize_rows(
            cols, align_floats(cols, info["rows"], o_cols, o_rows))
        want = normalize_rows(o_cols, o_rows)
        return got == want, "ok" if got == want else "preview rows differ"
    ok = info["clipped"] and info["rowCount"] == max_rows
    return ok, f"clipped={info['clipped']} rows={info['rowCount']}"
