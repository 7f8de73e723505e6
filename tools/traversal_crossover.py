"""Where the driver walk stops beating the DataFrame-frontier rounds.

Times ``traverse()`` in ``"driver"`` and ``"dataframe"`` mode on
generated catalogs (one catalog -> 20 collections -> items, documents
shaped like the benchmark generator's ``perfbench/stac_gen.py``), each
timed to a cached, materialised frame in one warm session. Openers:

- ``local``: plain paths through the default local opener;
- ``fb``: ``fb://`` URLs through ``FallbackOpener`` (the object-store
  seam ``tests/test_object_store.py`` drives), over a local directory,
  with ``--latency-ms`` slept per read to stand in for a remote GET.

Prints one JSON line per (opener, latency, docs, mode). Run from the
repo root, e.g.::

    python3 tools/traversal_crossover.py --docs 1000,10000 --latency-ms 0,5
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stac_gen import _catalog, _collection, _item  # noqa: E402

N_COLLECTIONS = 20


def write_catalog(d: str, n_docs: int, base: str) -> str:
    """A catalog of ``n_docs`` documents under ``d``; links are absolute
    under ``base`` (``d`` itself or an ``fb://staging`` prefix)."""
    n_items = n_docs - 1 - N_COLLECTIONS
    coll_links: list[list[dict]] = [[] for _ in range(N_COLLECTIONS)]
    for i in range(n_items):
        c = i % N_COLLECTIONS
        name = f"item{i:06d}.json"
        doc = _item(
            name,
            {"asset0": {"href": f"./a{i:06d}.bin", "file:checksum": "1220" + "0" * 64}},
            [
                {"rel": "self", "href": f"{base}/{name}"},
                {"rel": "parent", "href": f"./collection{c}.json"},
                {"rel": "root", "href": f"{base}/catalog.json"},
            ],
        )
        with open(os.path.join(d, name), "w") as f:
            json.dump(doc, f)
        coll_links[c].append({"rel": "item", "href": f"./{name}"})
    for c in range(N_COLLECTIONS):
        with open(os.path.join(d, f"collection{c}.json"), "w") as f:
            json.dump(_collection(c, coll_links[c]), f)
    with open(os.path.join(d, "catalog.json"), "w") as f:
        json.dump(
            _catalog([{"rel": "child", "href": f"./collection{c}.json"} for c in range(N_COLLECTIONS)]),
            f,
        )
    return f"{base}/catalog.json"


class DirOpener:
    """``fb://staging/<name>`` -> ``<root>/<name>``, sleeping ``delay_s``
    before each read. Picklable, so executor tasks can use it."""

    def __init__(self, root: str, delay_s: float):
        self.root = root
        self.delay_s = delay_s

    def __call__(self, url: str, mode: str = "rb"):
        if self.delay_s:
            time.sleep(self.delay_s)
        return open(os.path.join(self.root, url.rsplit("/", 1)[-1]), mode)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default="1000,10000,50000")
    ap.add_argument("--latency-ms", default="", help="fb:// latencies; empty = local only")
    ap.add_argument("--modes", default="driver,dataframe")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    from geostore_spark.pipeline import io as gio
    from geostore_spark.pipeline.object_store import FallbackOpener
    from geostore_spark.pipeline.traversal import traverse
    from geostore_spark.session import build_session

    spark = build_session()
    openers = [("local", 0.0)] + [
        ("fb", float(ms)) for ms in args.latency_ms.split(",") if ms != ""
    ]
    try:
        # warm the session on a small catalog in both modes
        with tempfile.TemporaryDirectory() as d:
            root = write_catalog(d, 100, d)
            for mode in args.modes.split(","):
                traverse(spark, root, frontier_mode=mode).count()
        for n_docs in (int(n) for n in args.docs.split(",")):
            with tempfile.TemporaryDirectory() as d:
                for opener, latency_ms in openers:
                    if opener == "local":
                        root = write_catalog(d, n_docs, d)
                    else:
                        root = write_catalog(d, n_docs, "fb://staging")
                        gio.register_scheme(
                            "fb",
                            FallbackOpener(DirOpener(d, latency_ms / 1000), "fb://durable", "ds"),
                        )
                    for mode in args.modes.split(","):
                        for _ in range(args.reps):
                            t0 = time.perf_counter()
                            df = traverse(spark, root, frontier_mode=mode).cache()
                            n = df.count()
                            elapsed = time.perf_counter() - t0
                            df.unpersist()
                            assert n == n_docs, (n, n_docs)
                            print(json.dumps({
                                "opener": opener, "latency_ms": latency_ms,
                                "docs": n_docs, "mode": mode, "s": round(elapsed, 3),
                            }), flush=True)
    finally:
        gio._OPENERS.pop("fb", None)
        spark.stop()


if __name__ == "__main__":
    main()
