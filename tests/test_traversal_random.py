"""Traversal order parity fuzz: the engine's discovery_ord must equal a
literal port of the reference's sequential DFS (visit at first arrival,
recurse links in order — utils.py:192,256-258) on seeded random LINK
GRAPHS, not just trees: cross-links, duplicate links, self-links, and
cycles, in both frontier modes. This is the pin on the min-path
relaxation (_exact_dfs_paths): round-of-first-discovery paths alone
diverge on 3 of these 9 graphs (the handcrafted shape plus 2 seeded;
the wider 31-graph exploratory fuzz that found the bug diverged on 6)."""

from __future__ import annotations

import json
import os
import random

import pytest

from geostore_spark.pipeline.traversal import traverse

RNG_SEED = 77


def _write_graph(d: str, links: dict[str, list[str]]) -> str:
    os.makedirs(d, exist_ok=True)
    for name, outs in links.items():
        doc = {
            "type": "Catalog", "id": name, "stac_version": "1.0.0",
            "description": "x",
            "links": [{"rel": "child", "href": f"./{t}.json"} for t in outs],
        }
        with open(os.path.join(d, f"{name}.json"), "w") as f:
            json.dump(doc, f)
    return os.path.join(d, "root.json")


def _model_dfs(
    links: dict[str, list[str | None]],
    root: str = "root",
    paths: dict[str, list[int]] | None = None,
) -> list[str]:
    """The reference's traversal, literally: mark on entry, recurse
    not-yet-traversed child/item links in document order. A ``None``
    target stands for a link the walk does not follow (it still takes
    its link index); ``paths``, when given, receives each visited
    node's link-index path."""
    visited: set[str] = set()
    order: list[str] = []

    def rec(u: str, path: list[int]) -> None:
        visited.add(u)
        order.append(u)
        if paths is not None:
            paths[u] = path
        for i, t in enumerate(links.get(u, [])):
            if t is not None and t not in visited:
                rec(t, path + [i])

    rec(root, [])
    return order


def _cases():
    # the minimal adversarial shape: X reachable shallow-but-late ([1])
    # and deep-but-early ([0, 0]) — round-of-first-discovery puts X
    # after C, the reference's DFS puts it before
    yield {"root": ["A", "X"], "A": ["X", "C"], "X": [], "C": []}
    rng = random.Random(RNG_SEED)
    for _ in range(8):
        n = rng.randint(3, 9)
        names = ["root"] + [f"n{i}" for i in range(n)]
        yield {
            name: [rng.choice(names) for _ in range(rng.randint(0, min(4, n)))]
            for name in names
        }


@pytest.mark.parametrize("mode", ["driver", "dataframe"])
def test_random_graph_order_matches_sequential_dfs(spark, tmp_path, mode):
    for ci, g in enumerate(_cases()):
        root = _write_graph(str(tmp_path / f"g{ci}"), g)
        d = os.path.dirname(root)
        want = [f"{d}/{u}.json" for u in _model_dfs(g)]
        rows = (
            traverse(spark, root, frontier_mode=mode)
            .orderBy("discovery_ord")
            .collect()
        )
        got = [r["url"] for r in rows]
        assert got == want, f"case {ci}: {got} != {want}"
        assert [r["discovery_ord"] for r in rows] == list(range(len(want)))
