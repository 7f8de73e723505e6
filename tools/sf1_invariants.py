"""Spark-internal sf1 correctness invariants for the DuckDB-DNF five.

Complement to tools/sf1_answers.py (which compares against a
no-timeout DuckDB oracle pass): each heavy query re-runs at sf1 under
TWO independent physical strategies — different algorithms or
different tiers of the operator's own runtime dispatch — and the
results must be identical. A bug in either path (candidate loss in a
bucket join, double-count in a dedup, a broadcast-tier shortcut) would
have to hit both differently-shaped plans identically to survive,
which is the same argument dual-run metamorphic testing makes.

    python tools/sf1_invariants.py --sf-dir /tmp/sf1 > SF1_INVARIANTS.json
"""

from __future__ import annotations

import argparse
import contextlib
import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@contextlib.contextmanager
def _budgets(module, **values):
    """Force a dispatch tier: set the module's budget constants for the
    block, then restore them (the operators read them at call time)."""
    saved = {name: getattr(module, name) for name in values}
    for name, value in values.items():
        setattr(module, name, value)
    try:
        yield
    finally:
        for name, value in saved.items():
            setattr(module, name, value)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    args = ap.parse_args()
    sf = args.sf_dir

    from pyspark.sql import functions as F

    from geostore_spark.operators import graph, spatial
    from geostore_spark.operators.dedup import simhash, simhash_pairs
    from geostore_spark.operators.graph import (
        KCORE_K,
        KCORE_ROUNDS,
        connected_components,
        q_kcore,
        triangle_counts_from_edges,
    )
    from geostore_spark.operators.text import fuzzy_edit_join
    from geostore_spark.session import build_session
    from geostore_spark.sources.tables import load_table

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}

    def record(name: str, fn) -> None:
        t0 = time.time()
        try:
            detail = fn()
            out[name] = {"status": "pass", **(detail or {})}
        except AssertionError as e:
            out[name] = {"status": "FAIL", "detail": str(e)[:500]}
        except Exception as e:
            out[name] = {"status": "ERROR", "detail": str(e)[:500]}
        out[name]["sec"] = round(time.time() - t0, 1)
        print(f"{name}: {out[name]['status']} ({out[name]['sec']}s)",
              file=sys.stderr, flush=True)

    # 1. clusters — dual CC algorithm over one mined pair graph
    def clusters() -> dict:
        docs = load_table(spark, "documents", sf)
        fps = simhash(docs, "doc_id", "text").localCheckpoint(eager=False)
        edges = (
            simhash_pairs(fps, "doc_id")
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        n_edges = edges.count()
        with _budgets(graph, CC_LOCAL_MAX_EDGES=1 << 60):
            rl = _rows(connected_components(edges, "doc_a", "doc_b"))
        with _budgets(graph, CC_LOCAL_MAX_EDGES=0):
            dist = connected_components(edges, "doc_a", "doc_b")
            rd = _rows(dist)
        assert rl == rd, (
            f"union-find vs min-label disagree: {len(rl)} vs {len(rd)} rows"
        )
        # label minimality: every cluster's label IS its min member id
        bad = (
            dist.groupBy("label")
            .agg(F.min("v").alias("mn"))
            .filter(F.col("mn") != F.col("label"))
            .count()
        )
        assert bad == 0, f"{bad} clusters whose label != min member"
        # edge consistency: no pair link crosses two clusters
        lab = dist
        a = lab.withColumnRenamed("v", "doc_a").withColumnRenamed("label", "la")
        b = lab.withColumnRenamed("v", "doc_b").withColumnRenamed("label", "lb")
        crossing = (
            edges.join(a, "doc_a").join(b, "doc_b")
            .filter(F.col("la") != F.col("lb"))
            .count()
        )
        assert crossing == 0, f"{crossing} edges cross cluster labels"
        return {"n_edges": n_edges, "n_vertices": len(rl)}

    record("clusters_dual_cc", clusters)

    # 2. triangles — broadcast closing tier vs co-partitioned SMB tier
    def triangles() -> dict:
        li = load_table(spark, "lineitem", sf).select("l_orderkey", "l_partkey")
        a, b = li.alias("a"), li.alias("b")
        edges = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        fast = _rows(triangle_counts_from_edges(edges))
        with _budgets(
            graph,
            TRIANGLE_KERNEL_MAX_EDGES=0,
            TRIANGLE_BROADCAST_MAX_EDGES=0,
            TRIANGLE_CLOSING_BROADCAST_MAX_EDGES=0,
        ):
            slow = _rows(triangle_counts_from_edges(edges))
        assert fast == slow, f"tier disagreement: {fast} vs {slow}"
        return {"counts": [list(r) for r in fast]}

    record("triangles_dual_tier", triangles)

    # 3. kcore — broadcast peel vs co-partitioned shuffle peel (both
    # with the local kernel off, which sf1's edge count would select)
    def kcore() -> dict:
        with _budgets(graph, GRAPH_LOCAL_KERNEL_MAX_EDGES=0):
            fast = _rows(q_kcore(spark, sf))
            with _budgets(graph, GRAPH_BROADCAST_MAX_NODES=0):
                slow = _rows(q_kcore(spark, sf))
        assert fast == slow, f"tier disagreement: {fast} vs {slow}"
        return {"rounds": KCORE_ROUNDS, "k": KCORE_K,
                "final": list(fast[-1])}

    record("kcore_dual_tier", kcore)

    # 4. grid join — 2-degree vs 1-degree cells (reference-point dedup
    # and cell-boundary handling must be invariant to the grid pitch)
    def grid() -> dict:
        from geostore_spark.registry import all_queries

        q = all_queries()["x_geo_grid_join"].spark
        base = _rows(q(spark, sf))
        orig = spatial.CELL_DEG
        try:
            spatial.CELL_DEG = 1.0
            fine = _rows(q(spark, sf))
        finally:
            spatial.CELL_DEG = orig
        assert base == fine, "cell-size variance changed the result"
        return {"n_rows": len(base)}

    record("grid_join_cell_invariance", grid)

    # 5. fuzzy join — PassJoin segment indexing vs salted block DP
    def fuzzy() -> dict:
        cust = load_table(spark, "customer", sf).select(
            "c_custkey", "c_name", "c_nationkey"
        )
        pj = _rows(fuzzy_edit_join(cust, force="passjoin"))
        bd = _rows(fuzzy_edit_join(cust, force="block_dp"))
        assert pj == bd, f"strategy disagreement: {pj[:3]} vs {bd[:3]}"
        return {"n_nations": len(pj)}

    record("fuzzy_dual_strategy", fuzzy)

    print(json.dumps({"sf_dir": sf, "checks": out}, indent=1))


if __name__ == "__main__":
    main()
