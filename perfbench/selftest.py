#!/usr/bin/env python3
"""Self-test of the benchmark's invariant checks.

The connected-components entries are checked by invariants during
benchmark runs because their all-pairs DuckDB oracles are too slow at
benchmark scale.  This script runs those full oracles once at sf0.01, requires the engine's output
to match them *and* pass the invariants, and then requires the invariants
to reject deliberately corrupted outputs.

    python3 perfbench/selftest.py      # from the repository root; ~2 min
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    import data as datagen
    from checks import _check_canonical, _check_clusters, _check_pairs
    from run import BUILD, spark_conf
    from wvlet_spark.oracle import compare, duckdb_connect
    from wvlet_spark.ops import registry

    data_dir = datagen.ensure(0.01, BUILD)
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "n_chars"])

    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in spark_conf(False).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb_connect(data_dir)
    queries, oracles = registry.entry_queries(), registry.entry_oracles()
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("PASS " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    try:
        context: dict = {}
        rows = {}
        for name, check in (("ext_dup_clusters", _check_clusters),
                            ("ext_canonical_docs", _check_canonical)):
            df = queries[name](spark, data_dir)
            rows[name] = df.collect()
            ok, msg = compare(df, duck, oracles[name])
            expect(ok, f"{name} matches its full oracle: {msg}")
            ok, msg = check(rows[name], docs, context)
            expect(ok, f"{name} passes the invariants: {msg}")
        pairs = queries["ext_minhash_pairs"](spark, data_dir).collect()
        ok, msg = _check_pairs(pairs, docs)
        expect(ok, f"ext_minhash_pairs passes the invariants: {msg}")

        labels = [r.asDict() for r in rows["ext_dup_clusters"]]
        dup = next(r for r in labels if not r["is_canonical"])
        bad = [Row(**{**r, "is_canonical": True}) if r is dup else Row(**r)
               for r in labels]
        expect(not _check_clusters(bad, docs, {})[0],
               "invariants reject a wrong is_canonical flag")
        expect(not _check_clusters([Row(**r) for r in labels[1:]], docs,
                                   {})[0],
               "invariants reject an unlabelled document")
        canon = [r.asDict() for r in rows["ext_canonical_docs"]]
        wrong = [Row(**{**r, "score": r["score"] + 1}) if i == 0 else Row(**r)
                 for i, r in enumerate(canon)]
        expect(not _check_canonical(wrong, docs, context)[0],
               "invariants reject a wrong canonical score")
        if pairs:
            p = pairs[0].asDict()
            flipped = [Row(**{**p, "id_a": p["id_b"], "id_b": p["id_a"]})]
            expect(not _check_pairs(flipped + pairs, docs)[0],
                   "invariants reject an unordered pair")
    finally:
        duck.close()
        spark.stop()
    print("selftest:", "FAILED" if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
