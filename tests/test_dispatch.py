"""One size-dispatch rule: every driver-side budget ladder goes through
``operators.util.choose_tier``.

Two guards read the source: only ``choose_tier`` and the two stages
that are not budget ladders (the fuzzy join's three-way cost model and
the IVF probe's statistics event) write the dispatch event, and no
operator or plan function takes a budget parameter — tiers are forced
by patching the module's budget constant, read at call time.

The table-driven test forces every routed budget both ways and requires
that the logged strategy flips, that each decision logs exactly one
event, and that both tiers return equal frames.
"""

from __future__ import annotations

import ast
import importlib
import logging
import re
from pathlib import Path
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F

from geostore_spark.logging_keys import LOG_MESSAGE_STRATEGY_DISPATCH, LOGGER_NAME

from .conftest import SF_DIR as SF

PKG = Path(__file__).resolve().parent.parent / "geostore_spark"
SF_TINY = str(Path(SF).parent / "sf0.001")


def _functions(path: Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node


def test_dispatch_event_written_only_by_choose_tier_and_cost_model_stages():
    writers = {
        (path.relative_to(PKG).as_posix(), fn.name)
        for path in PKG.rglob("*.py")
        for fn in _functions(path)
        if any(
            isinstance(n, ast.Name) and n.id == "LOG_MESSAGE_STRATEGY_DISPATCH"
            for n in ast.walk(fn)
        )
    }
    assert writers == {
        ("operators/util.py", "choose_tier"),
        ("operators/text.py", "fuzzy_edit_join"),  # stage fuzzy_join
        ("operators/similarity.py", "ivf_topk"),  # stage ann_ivf_probe
    }


# a budget parameter names a size cut-off: local_threshold,
# broadcast_max_nodes, kernel_max_edges... A bare ``threshold`` is the
# similarity cut-off of the dedup operators, which defines the result.
_BUDGET_PARAM = re.compile(r"_threshold|_max_")


def test_no_operator_or_plan_function_takes_a_budget_parameter():
    offenders = [
        f"{path.relative_to(PKG)}:{fn.lineno} {fn.name}({arg.arg})"
        for sub in ("operators", "plans")
        for path in (PKG / sub).rglob("*.py")
        for fn in _functions(path)
        for arg in [*fn.args.posonlyargs, *fn.args.args, *fn.args.kwonlyargs]
        if _BUDGET_PARAM.search(arg.arg)
    ]
    assert offenders == []


class Case(NamedTuple):
    id: str
    stage: str
    module: str
    base: dict  # budgets patched before both runs (to reach the ladder rung)
    force: dict  # budgets patched before the second run only
    build: Callable
    n_events: int = 1


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (4, 6), (7, 8)],
        "u long, v long",
    ).localCheckpoint()


def _cc(spark):
    from geostore_spark.operators.graph import connected_components

    return connected_components(_edges(spark), "u", "v")


def _pagerank(spark):
    from geostore_spark.operators.graph import pagerank

    e = _edges(spark)
    sym = e.union(e.select("v", "u")).toDF("src", "dst")
    return pagerank(sym, "src", "dst", iters=3)


def _triangles(spark):
    from geostore_spark.operators.graph import triangle_counts_from_edges

    return triangle_counts_from_edges(_edges(spark))


def _registered(name: str, sf: str):
    def build(spark):
        from geostore_spark.registry import all_queries

        return all_queries()[name].spark(spark, sf)

    return build


def _sym_dst(spark):
    from geostore_spark.operators.graph import shared_supply_sym_dst

    return shared_supply_sym_dst(spark, SF)


def _order_sets(spark):
    from geostore_spark.operators.analytics import shared_order_part_sets

    return shared_order_part_sets(spark, SF).select("o", F.sort_array("ps"))


def _rank_input(spark):
    return spark.range(0, 300).select(
        (F.col("id") % 3).alias("k"), ((F.col("id") * 37) % 101).alias("x"), "id"
    )


def _row_number(spark):
    from geostore_spark.operators.util import distributed_row_number

    ranked, _ = distributed_row_number(
        _rank_input(spark), ["k"], ["x", "id"], "rn", row_count=300
    )
    return ranked


def _prefix_sum(spark):
    from geostore_spark.operators.util import distributed_prefix_sum

    return distributed_prefix_sum(
        _rank_input(spark), ["k"], ["x", "id"], "x", "cum", row_count=300
    )


def _jaccard(spark):
    from geostore_spark.operators.dedup import ngram_jaccard_pairs
    from geostore_spark.sources.tables import load_table

    return ngram_jaccard_pairs(load_table(spark, "documents", SF_TINY), "doc_id", "text")


G = "geostore_spark.operators.graph"
NO_KERNEL = {"GRAPH_LOCAL_KERNEL_MAX_EDGES": -1}
CASES = [
    Case("cc", "connected_components", G, {}, {"CC_LOCAL_MAX_EDGES": -1}, _cc),
    Case("cc_labels", "cc_labels", G, {"CC_LOCAL_MAX_EDGES": -1},
         {"GRAPH_BROADCAST_MAX_NODES": -1}, _cc),
    Case("pagerank", "pagerank", G, {}, {"PR_KERNEL_MAX_EDGES": -1}, _pagerank),
    Case("pagerank_rank_state", "pagerank_rank_state", G,
         {"PR_KERNEL_MAX_EDGES": -1}, {"GRAPH_BROADCAST_MAX_NODES": -1}, _pagerank),
    Case("triangle_kernel", "triangle_closure", G, {},
         {"TRIANGLE_KERNEL_MAX_EDGES": -1}, _triangles),
    Case("triangle_fusion", "triangle_closure", G,
         {"TRIANGLE_KERNEL_MAX_EDGES": -1},
         {"TRIANGLE_BROADCAST_MAX_EDGES": -1}, _triangles),
    Case("triangle_closing", "triangle_closure", G,
         {"TRIANGLE_KERNEL_MAX_EDGES": -1, "TRIANGLE_BROADCAST_MAX_EDGES": -1},
         {"TRIANGLE_CLOSING_BROADCAST_MAX_EDGES": -1}, _triangles),
    Case("kcore_peel", "kcore_peel", G, {}, NO_KERNEL,
         _registered("x_graph_kcore", SF)),
    Case("kcore_keep", "kcore_keep", G, NO_KERNEL,
         {"GRAPH_BROADCAST_MAX_NODES": -1}, _registered("x_graph_kcore", SF), 3),
    Case("bfs_layers", "bfs_layers", G, {}, NO_KERNEL,
         _registered("x_graph_bfs_layers", SF)),
    Case("pagerank_supply_graph", "pagerank_supply_graph", G, {},
         {"PR_KERNEL_MAX_EDGES": -1}, _registered("x_graph_pagerank", SF)),
    Case("supply_sym_dst_pin", "supply_sym_dst_pin", G, {},
         {"SUPPLY_SYM_DST_PIN_MAX_EDGES": -1}, _sym_dst),
    Case("rfm", "rfm", "geostore_spark.operators.analytics", {},
         {"RFM_LOCAL_THRESHOLD": -1}, _registered("x_orders_rfm", SF)),
    Case("order_part_sets_pin", "order_part_sets_pin",
         "geostore_spark.operators.analytics", {},
         {"ORDER_SETS_PIN_MAX_ORDERS": -1}, _order_sets),
    Case("a9_quantiles", "a9_quantiles", "geostore_spark.plans.canonical", {},
         {"A9_LOCAL_THRESHOLD": -1}, _registered("a9_quantiles", SF)),
    Case("row_number", "row_number", "geostore_spark.operators.util", {},
         {"RANK_LOCAL_THRESHOLD": -1}, _row_number),
    Case("prefix_sum", "prefix_sum", "geostore_spark.operators.util", {},
         {"RANK_LOCAL_THRESHOLD": -1}, _prefix_sum),
    Case("dedup_verify_join", "dedup_verify_join", "geostore_spark.operators.dedup",
         {}, {"VERIFY_BROADCAST_MAX_DOCS": -1}, _jaccard),
    Case("dedup_df_table", "dedup_df_table", "geostore_spark.operators.dedup",
         {}, {"VERIFY_BROADCAST_MAX_DOCS": -1}, _jaccard),
    Case("simhash_eval_verify", "simhash_eval_verify",
         "geostore_spark.operators.dedup", {}, {"VERIFY_BROADCAST_MAX_DOCS": -1},
         _registered("x_dedup_simhash_eval", SF_TINY)),
    Case("theil_sen_select", "theil_sen_select", "geostore_spark.operators.stats",
         {}, {"TS_WINNER_MAX": -1}, _registered("x_stats_theil_sen", SF)),
]


def _run(case: Case, spark, caplog):
    caplog.clear()
    rows = sorted((tuple(r) for r in case.build(spark).collect()), key=repr)
    events = [
        r.event
        for r in caplog.records
        if r.name == LOGGER_NAME
        and r.message == LOG_MESSAGE_STRATEGY_DISPATCH
        and r.event["stage"] == case.stage
    ]
    assert len(events) == case.n_events, events
    strategies = {e["strategy"] for e in events}
    assert len(strategies) == 1, events
    return rows, strategies.pop()


@pytest.mark.parametrize("case", CASES, ids=[c.id for c in CASES])
def test_forced_budget_flips_strategy_and_tiers_agree(spark, caplog, monkeypatch, case):
    caplog.set_level(logging.INFO, logger=LOGGER_NAME)
    module = importlib.import_module(case.module)
    for name, value in case.base.items():
        monkeypatch.setattr(module, name, value)
    rows_a, strategy_a = _run(case, spark, caplog)
    for name, value in case.force.items():
        monkeypatch.setattr(module, name, value)
    rows_b, strategy_b = _run(case, spark, caplog)
    assert strategy_a != strategy_b
    assert rows_a == rows_b
    assert rows_a  # a vacuous comparison would prove nothing


def test_unknown_size_takes_the_last_tier(caplog):
    from geostore_spark.operators.util import choose_tier

    caplog.set_level(logging.INFO, logger=LOGGER_NAME)
    tiers = [("small", 10), ("mid", 100), ("big", None)]
    assert choose_tier("t", tiers, n_rows=10) == "small"
    assert choose_tier("t", tiers, n_rows=11) == "mid"
    assert choose_tier("t", tiers, n_rows=10**9) == "big"
    assert choose_tier("t", tiers, n_rows=None) == "big"
    assert [r.event for r in caplog.records][-1] == {
        "stage": "t", "strategy": "big", "n_rows": None,
    }
