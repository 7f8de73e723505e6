"""Operator strategy-dispatch logging contract, in the reference's
per-module logging-test style (e.g.
/root/reference/tests/test_check_files_checksums_logging.py): every
dedup/graph/ANN operator that picks its physical strategy from runtime
size emits one "Operator Strategy Dispatch" event naming the stage, the
size it dispatched on, and the strategy chosen — the breadcrumb that
explains broadcast-vs-shuffle decisions in a 100 TB run's logs."""

from __future__ import annotations

import logging

import pytest

from geostore_spark.logging_keys import (
    LOGGER_NAME,
    LOG_MESSAGE_STRATEGY_DISPATCH,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def logcap(caplog):
    caplog.set_level(logging.INFO, logger=LOGGER_NAME)
    return caplog


def _dispatches(caplog):
    return [
        r.event
        for r in caplog.records
        if r.name == LOGGER_NAME and r.message == LOG_MESSAGE_STRATEGY_DISPATCH
    ]


def test_verify_join_dispatch_logged_both_ways(spark, logcap):
    from pyspark.sql import functions as F

    from geostore_spark.operators.dedup import ngram_jaccard_pairs
    from geostore_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF)
    ngram_jaccard_pairs(docs, "doc_id", "text")  # plan-time dispatch
    [ev] = [e for e in _dispatches(logcap) if e["stage"] == "dedup_verify_join"]
    assert ev["strategy"] == "broadcast"  # tiny fixture corpus
    assert ev["n_docs"] > 0

    # a derived (non-scan) input falls back to a real count and, above
    # the doc budget, to the shuffle strategy — simulate with threshold 0
    logcap.clear()
    from geostore_spark.operators import dedup as dd

    orig = dd.VERIFY_BROADCAST_MAX_DOCS
    dd.VERIFY_BROADCAST_MAX_DOCS = 0
    try:
        ngram_jaccard_pairs(docs.withColumn("doc_id", F.col("doc_id")), "doc_id", "text")
    finally:
        dd.VERIFY_BROADCAST_MAX_DOCS = orig
    evs = [e for e in _dispatches(logcap) if e["stage"] == "dedup_verify_join"]
    assert evs and all(e["strategy"] == "shuffle" for e in evs)


def test_triangle_dispatch_logged_both_ways(spark, logcap, monkeypatch):
    from geostore_spark.operators import graph
    from geostore_spark.operators.graph import triangle_counts_from_edges

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "u long, v long"
    ).localCheckpoint()
    triangle_counts_from_edges(edges)
    [ev] = [e for e in _dispatches(logcap) if e["stage"] == "triangle_closure"]
    assert ev["strategy"] == "arrow_csr_kernel" and ev["n_edges"] == 3

    logcap.clear()
    monkeypatch.setattr(graph, "TRIANGLE_KERNEL_MAX_EDGES", 0)
    triangle_counts_from_edges(edges)
    [ev] = [e for e in _dispatches(logcap) if e["stage"] == "triangle_closure"]
    assert ev["strategy"] == "broadcast_fusion"

    logcap.clear()
    monkeypatch.setattr(graph, "TRIANGLE_BROADCAST_MAX_EDGES", 0)
    triangle_counts_from_edges(edges)
    [ev] = [e for e in _dispatches(logcap) if e["stage"] == "triangle_closure"]
    assert ev["strategy"] == "closing_broadcast"

    logcap.clear()
    monkeypatch.setattr(graph, "TRIANGLE_CLOSING_BROADCAST_MAX_EDGES", 0)
    triangle_counts_from_edges(edges)
    [ev] = [e for e in _dispatches(logcap) if e["stage"] == "triangle_closure"]
    assert ev["strategy"] == "copartitioned_shuffle"


def test_connected_components_dispatch_logged(spark, logcap, monkeypatch):
    from geostore_spark.operators import graph
    from geostore_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "a long, b long")
    connected_components(edges, "a", "b")
    [ev] = [e for e in _dispatches(logcap) if e["stage"] == "connected_components"]
    assert ev["strategy"] == "local_union_find"

    logcap.clear()
    monkeypatch.setattr(graph, "CC_LOCAL_MAX_EDGES", 0)
    connected_components(edges, "a", "b")
    [ev] = [e for e in _dispatches(logcap) if e["stage"] == "connected_components"]
    assert ev["strategy"] == "min_label_rounds"


def test_ivf_probe_stage_logged(spark, logcap):
    from geostore_spark.registry import all_queries

    all_queries()["x_sim_ivf"].spark(spark, SF)
    evs = [e for e in _dispatches(logcap) if e["stage"] == "ann_ivf_probe"]
    assert evs and evs[0]["n_cells"] > 0 and evs[0]["nprobe"] >= 1


def test_fuzzy_join_dispatch_logged_both_ways(spark, logcap, monkeypatch):
    from geostore_spark.operators import text
    from geostore_spark.operators.text import fuzzy_edit_join

    # tiny corpora early-exit to block_dp (r10) — disable the exit so
    # this test exercises the full three-way sensor comparison
    monkeypatch.setattr(text, "FUZZY_BLOCK_DP_OK", -1)
    # constant-template names: the sensor must pick block_dp and log
    # every candidate estimate it compared
    const = spark.createDataFrame(
        [(i, f"Customer#{i:09d}", 0) for i in range(40)],
        "c_custkey long, c_name string, c_nationkey long",
    )
    fuzzy_edit_join(const).collect()
    [ev] = [e for e in _dispatches(logcap) if e["stage"] == "fuzzy_join"]
    assert ev["strategy"] == "block_dp"
    assert ev["passjoin_candidates"] > ev["block_dp_candidates"]
    assert ev["symdel_candidates"] is not None

    logcap.clear()
    # dispersed names: passjoin wins
    disp = spark.createDataFrame(
        [(i, f"{(i * 2654435761) % 10**9:09d}n{i}", 0) for i in range(40)],
        "c_custkey long, c_name string, c_nationkey long",
    )
    fuzzy_edit_join(disp).collect()
    [ev] = [e for e in _dispatches(logcap) if e["stage"] == "fuzzy_join"]
    assert ev["strategy"] == "passjoin"
    assert ev["passjoin_candidates"] <= ev["block_dp_candidates"]
