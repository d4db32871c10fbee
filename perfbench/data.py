"""Deterministic benchmark dataset.

Writes the ten tables the engine's suite and extension entries read
(``region nation customer supplier part orders lineitem events documents
embeddings``) with the same column names, types and value domains as the
project's test data, at any scale factor.  Row counts follow TPC-H ratios
(sf1 = 6M lineitem rows); values are uniform draws from a fixed seed, so the
same ``sf`` always gives byte-identical tables.  Documents carry planted
near-duplicates (a copy with `` dup`` appended or its last word dropped) so
the dedup and connected-components entries have clusters to find.

Row groups are bounded (128k fact rows, 64k document rows) so scans split
across cores the way real multi-row-group files do.

    python3 perfbench/data.py --sf 0.01 --out .bench_build/perfbench/sf0.01
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

DATA_SEED = 20240101

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _n(sf: float, per_sf1: int) -> int:
    return max(1, int(round(per_sf1 * sf)))


def _days(rng, start: dt.date, span: int, n: int):
    import numpy as np

    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    import numpy as np

    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(sf: float) -> dict:
    """Build every table as a pyarrow Table (deterministic in ``sf``)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(DATA_SEED)
    out: dict = {}
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n_cust = _n(sf, 150_000)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})

    n_supp = _n(sf, 10_000)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    n_part = _n(sf, 200_000)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0})

    n_ord = _n(sf, 1_500_000)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})

    n_li = _n(sf, 6_000_000)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_li)})

    n_ev = _n(sf, 1_000_000)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(ts0 + rng.integers(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, _n(sf, 15_000), n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = _n(sf, 50_000)
    words = np.asarray(VOCAB[:7] + VOCAB[8:], dtype=object)  # no "dup"
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # ~4.5% planted near-duplicates of an earlier document, ~0.2% exact
    for i in np.flatnonzero(rng.random(n_doc) < 0.047):
        if i == 0:
            continue
        src = texts[int(rng.integers(0, i))]
        roll = rng.random()
        if roll < 0.05:
            texts[i] = src
        elif roll < 0.55:
            texts[i] = src + " dup"
        else:
            texts[i] = src.rsplit(" ", 1)[0]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    n_emb = _n(sf, 20_000)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    X = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_emb, 64))
    X = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(X), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write(sf: float, out_dir: str) -> None:
    """Write every table to ``out_dir/<table>.parquet`` (atomic per file)."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        rg = 65_536 if name in ("documents", "embeddings") else 131_072
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=rg)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def ensure(sf: float, root: str) -> str:
    """The dataset directory for ``sf`` under ``root``, generated on first
    use.  The name carries a hash of this file, so a changed generator never
    reuses stale tables (or oracle results cached beside them)."""
    import hashlib

    with open(os.path.abspath(__file__), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:10]
    out = os.path.join(root, f"sf{sf:g}-{tag}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        write(sf, out)
        open(done, "w").close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    write(args.sf, args.out)


if __name__ == "__main__":
    main()
