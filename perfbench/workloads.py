"""The benchmark's workloads: which calls a pass makes, and how each call's
output is verified.

A call builds a DataFrame from ``(spark, data_dir)``; the benchmark times
that build and then a noop write of the result, as ``bench.py`` does.
Verification is untimed: a registry query is compared with its DuckDB
oracle exactly as ``tests/oracle_check.compare_query`` does, and a
``Graph`` facade call with its registry twin, through the node numbering
of ``tests/test_graph_api.py`` (customer ``k`` is node ``2k``, supplier
``k`` is ``2k + 1``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

TPCH = [
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_stock",
    "q12_ship_mode_priority",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_part_count",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_predicates",
    "q20_part_promotion",
    "q21_waiting_orders",
    "q22_global_sales_opportunity",
]

# One or two members of each session-heavy family, sized so that a run
# fits the benchmark's time budget: a graph fixpoint with its Graph facade
# twin, two curation queries of which the first trains the shared PQ
# codebook through Arrow Python workers and the second reuses it, and a
# bounded streaming drain with state.
SESSION_MIX = [
    ["graph_bfs_hops", "graph_api.bfs"],
    ["ann_pq_topk", "ann_pq_recall"],
    ["stream_dedup_events"],
]

# A workload is a list of groups. Calls in one group share session caches
# and keep their order in every pass, so the same member pays each shared
# build; the seed rotates the groups.
WORKLOADS = {"tpch": [[q] for q in TPCH], "session_mix": SESSION_MIX}


@dataclass(frozen=True)
class Call:
    name: str
    build: Callable  # (spark, data_dir) -> DataFrame
    verify: Callable  # (spark, duckdb_con, data_dir) -> (ok, message)


def _node(name: str) -> int:
    return int(name[1:]) * 2 + (0 if name[0] == "c" else 1)


def _bfs(spark, data_dir):
    from minispark_spark.operators.graph import BFS_SOURCE, _edges
    from minispark_spark.operators.graph_api import Graph

    return Graph.from_edges(_edges(spark, data_dir)).bfs(BFS_SOURCE)


def _verify_bfs(spark, con, data_dir):
    from minispark_spark.registry import REGISTRY

    got = {r["id"]: r["hops"] for r in _bfs(spark, data_dir).collect()}
    twin = REGISTRY["graph_bfs_hops"].fn(spark, data_dir).collect()
    want = {_node(r["node"]): r["hops"] for r in twin}
    return got == want, f"{len(got)} nodes vs twin {len(want)}"


FACADE = {"graph_api.bfs": Call("graph_api.bfs", _bfs, _verify_bfs)}


def _registry_call(name: str) -> Call:
    from minispark_spark.registry import REGISTRY
    from tests.oracle_check import compare_query

    def build(spark, data_dir):
        return REGISTRY[name].fn(spark, data_dir)

    def verify(spark, con, data_dir):
        return compare_query(spark, con, name, data_dir)

    return Call(name, build, verify)


def calls(workload: str) -> list[Call]:
    """The workload's calls, in their base order."""
    return [FACADE.get(n) or _registry_call(n) for group in WORKLOADS[workload] for n in group]


def pass_order(groups: list[list[str]], seed: int, pass_no: int) -> list[str]:
    """The groups rotated by ``seed + pass_no``, flattened: each pass of a
    run starts one group later, and the seed picks where the first pass
    starts, as TPC-H throughput streams permute one query set."""
    k = (seed + pass_no) % len(groups)
    return [name for group in groups[k:] + groups[:k] for name in group]
