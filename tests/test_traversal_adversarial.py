"""Traversal parity on hostile documents: the driver walk, the
DataFrame-frontier rounds and the literal model of the reference's
recursion (``_model_dfs``) must agree on (url, discovery_ord, path) when
documents are malformed, give ``links`` the wrong shape, repeat the
``links`` key, carry numeric hrefs or drop ``rel``/``href``, and when a
linked document is missing or a link cycles back to the root.

The expected link graph of each document states Spark's reading of it:
``from_json(raw, DOC_SCHEMA)`` is what both modes follow. Both modes
must also log the same number of BFS levels. Plus two pins on the
driver walk itself: it is iterative (a 3,000-deep chain under a
recursion limit below that depth) and it runs at most one Spark job,
hostile documents included.
"""

from __future__ import annotations

import json
import logging
import os
import random
import sys
import uuid

import pytest

from geostore_spark.logging_keys import LOG_MESSAGE_TRAVERSAL_COMPLETE, LOGGER_NAME
from geostore_spark.pipeline.traversal import traverse
from tests.stac_fixtures import build_golden_tree
from tests.test_traversal_flip import _write_wide_tree
from tests.test_traversal_random import _model_dfs

RNG_SEED = 2026


def _write_files(d: str, files: dict[str, str]) -> None:
    os.makedirs(d, exist_ok=True)
    for name, raw in files.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(raw)


def _expected(d: str, graph: dict[str, list[str | None]], root: str):
    paths: dict[str, list[int]] = {}
    order = _model_dfs(graph, root, paths)
    return [(f"{d}/{u}", i, paths[u]) for i, u in enumerate(order)]


def _traversed(spark, root_url: str, mode: str):
    rows = traverse(spark, root_url, frontier_mode=mode).orderBy("discovery_ord").collect()
    return [(r["url"], r["discovery_ord"], list(r["path"])) for r in rows]


def _link(rel, href) -> dict:
    out = {}
    if rel is not None:
        out["rel"] = rel
    if href is not None:
        out["href"] = href
    return out


def _handcrafted():
    """One catalog with every hostile shape, and the graph Spark reads."""
    root = json.dumps({
        "type": "Catalog", "id": "root", "links": [
            _link("self", "./root.json"),  # 0: not followed
            _link("child", "./a.json"),  # 1
            _link("child", 5),  # 2: from_json renders the number as "5"
            _link("item", "./missing.json"),  # 3: no such document
            _link("child", None),  # 4: no href
            _link(None, "./b.json"),  # 5: no rel
            _link("child", "./bad.json"),  # 6
            _link("child", "./obj.json"),  # 7
            _link("child", "./mixed.json"),  # 8
            _link("child", "./dupe.json"),  # 9
            _link("child", "./trailing.json"),  # 10
            _link("child", 1.5),  # 11: rendered "1.5" by the JVM
        ],
    })
    files = {
        "root.json": root,
        "a.json": json.dumps({"links": [
            _link("child", "./root.json"),  # cycle through the root
            _link("child", "./c.json"),
        ]}),
        "c.json": json.dumps({"links": [_link("item", "./a.json"), _link("child", "./root.json")]}),
        "5": json.dumps({"links": []}),
        "b.json": json.dumps({"links": []}),  # reachable only by the rel-less link
        # malformed: the closing brace is missing
        "bad.json": '{"type": "Catalog", "links": [{"rel": "child", "href": "./b.json"}]',
        "obj.json": '{"links": {"rel": "child", "href": "./b.json"}}',
        "mixed.json": '{"links": ["./b.json", {"rel": "child", "href": "./b.json"}]}',
        # duplicate keys: the last ``links`` that converts wins
        "dupe.json": '{"links": [{"rel": "child", "href": "./b.json"}], '
        '"links": [{"rel": "child", "href": "./e.json"}]}',
        "e.json": '{"links": [{"rel": "item", "href": "./f.json"}], "links": 7}',
        "f.json": json.dumps({"links": [None, _link("item", "./root.json")]}),
        # valid up to its first value: Spark reads it, Python's json does not
        "trailing.json": '{"links": [{"rel": "child", "href": "./g.json"}]} trailing',
        "g.json": json.dumps({"links": []}),
        "1.5": json.dumps({"links": []}),
    }
    graph = {
        "root.json": [
            None, "a.json", "5", "missing.json", None, None, "bad.json",
            "obj.json", "mixed.json", "dupe.json", "trailing.json", "1.5",
        ],
        "a.json": ["root.json", "c.json"],
        "c.json": ["a.json", "root.json"],
        "dupe.json": ["e.json"],
        "e.json": ["f.json"],
        "f.json": [None, "root.json"],
        "trailing.json": ["g.json"],
    }
    return files, graph, "root.json"


def _generated(rng: random.Random, d: str):
    """A seeded random link graph whose documents render their links in
    a randomly chosen hostile way. Nodes are named by integers so a
    numeric href and a string href reach the same file."""
    names = [str(i) for i in range(rng.randint(4, 9))]
    files: dict[str, str] = {}
    graph: dict[str, list[str | None]] = {}
    for name in names:
        entries, targets = [], []
        for _ in range(rng.randint(2, 5)):
            t = rng.choice(names[1:] if name == "0" else names)  # leave the root
            kind = rng.choice(["rel"] * 5 + ["int", "abs", "self", "norel", "nohref", "null"])
            if kind == "rel":
                entries.append(_link(rng.choice(["child", "item"]), f"./{t}"))
            elif kind == "int":
                entries.append(_link("child", int(t)))
            elif kind == "abs":
                entries.append(_link("item", f"{d}/{t}"))
            elif kind == "self":
                entries.append(_link("self", f"./{t}"))
            elif kind == "norel":
                entries.append(_link(None, f"./{t}"))
            elif kind == "nohref":
                entries.append(_link("child", None))
            else:
                entries.append(None)
            targets.append(t if kind in ("rel", "int", "abs") else None)
        body = json.dumps(entries)
        shapes = ["plain", "dupe", "dupe_bad"]  # the root always has links
        if name != "0":
            shapes += ["plain"] * 3 + ["object", "non_object", "malformed", "absent"]
        shape = rng.choice(shapes)
        if shape == "absent":
            continue  # a linked document that does not exist
        graph[name] = targets
        if shape == "plain":
            raw = f'{{"type": "Catalog", "links": {body}}}'
        elif shape == "dupe":
            raw = f'{{"links": [{{"rel": "child", "href": "./0"}}], "links": {body}}}'
        elif shape == "dupe_bad":
            raw = f'{{"links": {body}, "links": "not an array"}}'
        elif shape == "object":
            raw = f'{{"links": {{"rel": "child", "href": "./{names[-1]}"}}}}'
            graph[name] = []
        elif shape == "non_object":
            raw = f'{{"links": ["./{names[-1]}", {body}]}}'
            graph[name] = []
        else:
            raw = f'{{"links": {body}'
            graph[name] = []
        files[name] = raw
    return files, graph, "0"


def _cases(tmp_path):
    rng = random.Random(RNG_SEED)
    yield str(tmp_path / "hand"), _handcrafted()
    for ci in range(6):
        d = str(tmp_path / f"gen{ci}")
        yield d, _generated(rng, d)


def test_hostile_documents_modes_match_model(spark, tmp_path, caplog):
    """Rows match the model in both modes, and both modes log the same
    document count and number of BFS levels (``n_rounds``)."""
    caplog.set_level(logging.INFO, logger=LOGGER_NAME)
    for d, (files, graph, root) in _cases(tmp_path):
        _write_files(d, files)
        want = _expected(d, graph, root)
        logged = {}
        for mode in ("driver", "dataframe"):
            caplog.clear()
            got = _traversed(spark, f"{d}/{root}", mode)
            assert got == want, f"{d} [{mode}]: {got} != {want}"
            [event] = [
                r.event for r in caplog.records
                if r.message == LOG_MESSAGE_TRAVERSAL_COMPLETE
            ]
            logged[mode] = (event["n_urls"], event["n_rounds"])
        assert logged["driver"] == logged["dataframe"], d


def test_driver_walk_is_iterative_on_a_deep_chain(spark, tmp_path):
    depth = 3000
    d = str(tmp_path / "chain")
    names = [f"c{i}.json" for i in range(depth)]
    files = {
        n: json.dumps({"links": [_link("child", f"./{names[i + 1]}")] if i + 1 < depth else []})
        for i, n in enumerate(names)
    }
    _write_files(d, files)
    graph = {n: [names[i + 1]] if i + 1 < depth else [] for i, n in enumerate(names)}
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(depth + 1000)  # the recursive model needs it
    try:
        want = _expected(d, graph, names[0])
    finally:
        sys.setrecursionlimit(limit)
    # a recursive walk of the chain would overflow this limit
    sys.setrecursionlimit(depth // 2)
    try:
        got = _traversed(spark, f"{d}/{names[0]}", "driver")
    finally:
        sys.setrecursionlimit(limit)
    assert got == want


@pytest.mark.parametrize("tree", ["golden", "wide", "hostile"])
def test_driver_walk_runs_at_most_one_spark_job(spark, tmp_path, tree):
    """The driver walk reads on the driver, parses links with a query on
    a local relation and builds one local frame: traversing and
    collecting it must not schedule per-level or per-document jobs,
    malformed documents included."""
    if tree == "golden":
        root = build_golden_tree(str(tmp_path))["root_url"]
        n_docs = 3
    elif tree == "wide":
        root = _write_wide_tree(str(tmp_path))
        n_docs = 61
    else:
        d = str(tmp_path / "hand")
        files, graph, name = _handcrafted()
        _write_files(d, files)
        root = f"{d}/{name}"
        n_docs = len(_expected(d, graph, name))
    sc = spark.sparkContext
    group = f"traverse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver-mode traversal")
    try:
        rows = traverse(spark, root, frontier_mode="driver").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == n_docs
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
