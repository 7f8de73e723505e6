"""Auto-dispatch traversal: the switch from the driver walk to
DataFrame-frontier rounds (the partial walk is dropped and the rounds
start again from the root, reading executor-side) must preserve the
reference's DFS pre-order exactly."""

from __future__ import annotations

from tests.stac_fixtures import build_golden_tree


def test_auto_mode_flips_mid_walk_and_preserves_order(spark, tmp_path, monkeypatch):
    from geostore_spark.pipeline import traversal as tmod

    tree = build_golden_tree(str(tmp_path))
    # golden driver-mode order first
    want = [
        (r["url"], r["discovery_ord"])
        for r in tmod.traverse(spark, tree["root_url"], frontier_mode="driver")
        .orderBy("discovery_ord")
        .collect()
    ]

    # force the flip at the root's links: every link count crosses 0
    monkeypatch.setattr(tmod, "DF_FRONTIER_THRESHOLD", 0)
    # record driver-side document reads and when the rounds take over;
    # executor tasks run in Python workers, so their reads never land
    # in this process's list
    reads: list[str] = []
    flipped_at: list[int] = []
    orig_fetch, orig_rounds = tmod._fetch, tmod._traverse_rounds

    def counting_fetch(url, openers=None):
        reads.append(url)
        return orig_fetch(url, openers)

    def marking_rounds(spark_, root_url):
        flipped_at.append(len(reads))
        return orig_rounds(spark_, root_url)

    monkeypatch.setattr(tmod, "_fetch", counting_fetch)
    monkeypatch.setattr(tmod, "_traverse_rounds", marking_rounds)
    got = [
        (r["url"], r["discovery_ord"])
        for r in tmod.traverse(spark, tree["root_url"], frontier_mode="auto")
        .orderBy("discovery_ord")
        .collect()
    ]
    assert got == want
    [n_before] = flipped_at  # the walk flipped, once
    assert len(reads) == n_before  # no driver-side read after the flip
    assert n_before <= tmod.DF_FRONTIER_THRESHOLD + 1


def _write_wide_tree(root: str, n_collections: int = 12, items_per: int = 4) -> str:
    """A catalog -> N collections -> M items tree with deliberate
    CROSS-LINKS (every collection also links the NEXT collection's
    first item, and the last collection links back to the first — a
    cycle), so first-discovery-keeps-least-path and the visited
    anti-join do real work beyond the 3-doc golden tree."""
    import json
    import os

    d = os.path.join(root, "wide")
    os.makedirs(d, exist_ok=True)

    def write(name, doc):
        p = os.path.join(d, name)
        with open(p, "w") as f:
            json.dump(doc, f)
        return p

    cat_links = [{"rel": "child", "href": f"./col{c}.json"} for c in range(n_collections)]
    root_path = write("catalog.json", {
        "type": "Catalog", "id": "cat", "stac_version": "1.0.0",
        "description": "wide", "links": cat_links,
    })
    for c in range(n_collections):
        links = [{"rel": "item", "href": f"./item{c}_{i}.json"} for i in range(items_per)]
        # cross-link: next collection's first item (cycle on the last)
        nxt = (c + 1) % n_collections
        links.append({"rel": "item", "href": f"./item{nxt}_0.json"})
        links.append({"rel": "child", "href": f"./col{(c + 1) % n_collections}.json"})
        write(f"col{c}.json", {
            "type": "Collection", "id": f"col{c}", "stac_version": "1.0.0",
            "description": "c", "links": links,
        })
        for i in range(items_per):
            write(f"item{c}_{i}.json", {
                "type": "Feature", "id": f"it{c}_{i}", "stac_version": "1.0.0",
                "properties": {}, "assets": {}, "links": [],
            })
    return root_path


def test_wide_cyclic_tree_modes_agree(spark, tmp_path):
    """driver / dataframe / auto(flip) modes must produce identical
    (url, discovery_ord) on a 61-doc cyclic tree with duplicate link
    targets — each URL once, DFS pre-order, least path wins."""
    from geostore_spark.pipeline import traversal as tmod

    root = _write_wide_tree(str(tmp_path))
    by_mode = {}
    for mode in ("driver", "dataframe"):
        rows = (
            tmod.traverse(spark, root, frontier_mode=mode)
            .orderBy("discovery_ord")
            .collect()
        )
        by_mode[mode] = [(r["url"], r["discovery_ord"]) for r in rows]
    assert by_mode["driver"] == by_mode["dataframe"]
    n = len(by_mode["driver"])
    assert n == 1 + 12 + 12 * 4  # every doc exactly once despite cycles
    assert [o for _, o in by_mode["driver"]] == list(range(n))
