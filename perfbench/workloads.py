"""Workload definitions and the seed's plan for one run.

Every workload is a closed loop with one client: it sends its next request
only when the previous one has returned.  The data is fixed
per workload (``data.py`` at the workload's scale factor); the seed only
permutes request order, picks which requests carry a ``save to`` and
decides which requests of a traced run record spans.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    entries: tuple[str, ...]
    server: bool = False
    # share of requests that append `| save to '<tmp>/out_N.parquet'`
    save_share: float = 0.0
    # unpersist every persisted RDD after each request (counted as released)
    release_rdds: bool = False


# Suite entries that stand for the whole suite in the interactive
# workload: TPC-H/TPC-DS joins and aggregates, the two staging paths that
# leave views behind (IN-subquery, multi-ref CTE), pivot value probes,
# windows, set operations, scalar and JSON functions, and the reservoir
# sample special case.
INTERACTIVE = (
    "tpch_q3", "tpch_q5", "tpch_q13", "tpch_q18", "in_subquery", "with_cte",
    "pivot_status", "window_rank", "having_filter", "exists_subquery",
    "set_ops", "date_funcs", "string_funcs", "json_extract", "agg_sugar",
    "tpcds_q14_intersect_stack", "select_distinct", "null_handling",
    "columns_regex", "sample_reservoir",
)

# Relational entries whose time at sf0.05 is mostly execution (scans,
# joins, aggregation): the plan-rewrite targets (INTERSECT fusion, join
# order, the largest TPC-H join) and the decimal aggregate of TPC-H Q1.
RELATIONAL = (
    "tpch_q1", "tpch_q21_like", "tpcds_q14_intersect_stack",
    "tpcds_q33_channel_union",
)

# LLM-data operators: connected-components dedup (eager jobs while the
# DataFrame is built) and the Arrow UDF path of cosine top-k.
LLM = ("ext_dup_clusters", "ext_cosine_topk")

# Why each workload exists and which layer metrics it should move:
# BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w for w in (
        Workload("interactive", 0.01, INTERACTIVE, server=True,
                 save_share=0.25),
        Workload("pipeline", 0.05, RELATIONAL + LLM, release_rdds=True),
    )
}


def can_save(text: str) -> bool:
    """Whether ``<text> | save to '<file>'`` compiles: a query that starts
    with a `with` clause fails (CompileError: SQL generation not
    implemented for _SaveMarker), so such entries never carry the save."""
    return not text.lstrip().startswith("with")


@dataclass
class Plan:
    """What the seed decides for one run."""
    seed: int
    order: list[str]
    saves: set[str]

    @classmethod
    def make(cls, w: Workload, seed: int) -> "Plan":
        rng = random.Random(seed)
        order = list(w.entries)
        rng.shuffle(order)
        n_save = round(len(order) * w.save_share)
        from wvlet_spark.suite import SUITE

        able = [name for name in order
                if name in SUITE and can_save(SUITE[name][0])]
        saves = set(rng.sample(able, n_save))
        return cls(seed, order, saves)

    def pass_order(self, k: int) -> list[str]:
        """Request order of measured pass ``k`` (pass 0 is the plan order)."""
        if k == 0:
            return list(self.order)
        order = list(self.order)
        random.Random(self.seed * 1000 + k).shuffle(order)
        return order
