"""Seeded STAC tree generator for the ingest workloads.

A ``Publisher`` owns one dataset's catalog and writes each version of it
into its own staging directory: a catalog, a few collections, items with
1-2 data assets each. The seed fixes the tree shape, the mix of
``./``-relative and absolute hrefs, the one revisited item link, the
asset bytes and sizes, and which assets change or disappear between
versions. Every version keeps the asset count steady: each removed asset
is replaced by a fresh one, so the GC sweep and the catalog merge do the
same amount of work on every re-import.

Unchanged assets are hardlinked from the previous version's staging
directory, so generating a version writes only the bytes that changed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np

STAC_VERSION = "1.0.0"
STAMP = "2021-01-01T00:00:00Z"


@dataclass(frozen=True)
class Shape:
    """Per-workload sizing; ranges are inclusive and drawn from the seed."""

    items: tuple[int, int]
    collections: tuple[int, int]
    asset_bytes: tuple[int, int]
    change_frac: float
    remove_frac: float


@dataclass
class Asset:
    serial: int
    size: int
    revision: int = 0

    @property
    def filename(self) -> str:
        return f"a{self.serial:06d}.bin"


@dataclass
class Item:
    name: str
    collection: int
    assets: dict[str, Asset] = field(default_factory=dict)


@dataclass(frozen=True)
class Version:
    """What one staged version holds, for the correctness checks."""

    root_url: str
    data: dict[str, tuple[int, str]]  # filename -> (size, sha256 hex)
    docs: int
    staged_bytes: int


def _write_json(path: str, doc: dict) -> int:
    payload = json.dumps(doc).encode()
    with open(path, "wb") as f:
        f.write(payload)
    return len(payload)


def _provider(role: str) -> dict:
    return {"name": f"Bench {role}", "roles": [role]}


def _catalog(links: list[dict]) -> dict:
    return {
        "type": "Catalog",
        "stac_version": STAC_VERSION,
        "id": "bench-catalog",
        "description": "benchmark catalog",
        "links": links,
    }


def _collection(idx: int, links: list[dict]) -> dict:
    return {
        "type": "Collection",
        "stac_version": STAC_VERSION,
        "id": f"bench-collection-{idx}",
        "description": "benchmark collection",
        "title": f"Bench_Collection_{idx}",
        "license": "CC-BY-4.0",
        "extent": {
            "spatial": {"bbox": [[-180, -90, 180, 90]]},
            "temporal": {"interval": [[STAMP, None]]},
        },
        "providers": [_provider("licensor"), _provider("producer")],
        "version": "1.0.0",
        "linz:asset_summaries": {
            "created": {"minimum": STAMP, "maximum": STAMP},
            "updated": {"minimum": STAMP, "maximum": STAMP},
        },
        "linz:geospatial_type": "grid",
        "linz:history": "Generated for the benchmark",
        "linz:lifecycle": "completed",
        "linz:providers": [_provider("custodian"), _provider("manager")],
        "linz:security_classification": "unclassified",
        "links": links,
    }


def _item(name: str, assets: dict, links: list[dict]) -> dict:
    return {
        "type": "Feature",
        "stac_version": STAC_VERSION,
        "id": name,
        "geometry": None,
        "properties": {"datetime": STAMP, "version": "1.0.0"},
        "assets": assets,
        "links": links,
    }


class Publisher:
    """Owns the evolving catalog of one dataset and stages its versions."""

    def __init__(self, seed: int, shape: Shape, stage_root: str) -> None:
        self.seed = seed
        self.shape = shape
        self.stage_root = stage_root
        self.rng = random.Random(seed)
        self.version = -1
        self._serial = 0
        self._digests: dict[tuple[str, int], str] = {}
        self.n_collections = self.rng.randint(*shape.collections)
        self.items = [
            Item(f"item{i:05d}", self.rng.randrange(self.n_collections))
            for i in range(self.rng.randint(*shape.items))
        ]
        for item in self.items:
            for k in range(self.rng.randint(1, 2)):
                self._add_asset(item, f"asset{k}")
        # one item is linked twice from its collection (relative + absolute)
        self.revisited = self.rng.choice(self.items).name

    def _add_asset(self, item: Item, key: str) -> None:
        self._serial += 1
        size = self.rng.randint(*self.shape.asset_bytes)
        item.assets[key] = Asset(self._serial, size)

    def _evolve(self) -> None:
        """Change and remove a seeded fraction of assets; each removed asset
        is replaced by a new one under a fresh name on the same item."""
        for item in self.items:
            for key in sorted(item.assets):
                draw = self.rng.random()
                if draw < self.shape.remove_frac:
                    del item.assets[key]
                    self._add_asset(item, key + "n")
                elif draw < self.shape.remove_frac + self.shape.change_frac:
                    item.assets[key].revision += 1

    def _payload(self, asset: Asset) -> bytes:
        gen = np.random.default_rng([self.seed, asset.serial, asset.revision])
        return gen.bytes(asset.size)

    def next_version(self) -> Version:
        """Stage the next version and return its manifest."""
        if self.version >= 0:
            self._evolve()
        self.version += 1
        prev = os.path.join(self.stage_root, f"v{self.version - 1}")
        root = os.path.join(self.stage_root, f"v{self.version}")
        coll_dirs = [os.path.join(root, f"coll{c}") for c in range(self.n_collections)]
        for d in coll_dirs:
            os.makedirs(d)
        catalog_path = os.path.join(root, "catalog.json")
        data: dict[str, tuple[int, str]] = {}
        staged = 0
        coll_links: list[list[dict]] = [[] for _ in coll_dirs]
        for item in self.items:
            cdir = coll_dirs[item.collection]
            item_path = os.path.join(cdir, f"{item.name}.json")
            assets_block = {}
            for key, asset in sorted(item.assets.items()):
                path = os.path.join(cdir, asset.filename)
                digest_key = (asset.filename, asset.revision)
                old = os.path.join(prev, f"coll{item.collection}", asset.filename)
                if digest_key in self._digests and os.path.exists(old):
                    os.link(old, path)
                else:
                    payload = self._payload(asset)
                    with open(path, "wb") as f:
                        f.write(payload)
                    self._digests[digest_key] = hashlib.sha256(payload).hexdigest()
                digest = self._digests[digest_key]
                data[asset.filename] = (asset.size, digest)
                staged += asset.size
                absolute = self.rng.random() < 0.5
                assets_block[key] = {
                    "href": path if absolute else f"./{asset.filename}",
                    "file:checksum": "1220" + digest,
                    "created": STAMP,
                    "updated": STAMP,
                }
            staged += _write_json(
                item_path,
                _item(
                    item.name,
                    assets_block,
                    [
                        {"rel": "self", "href": item_path},
                        {"rel": "parent", "href": f"./collection{item.collection}.json"},
                        {"rel": "root", "href": catalog_path},
                    ],
                ),
            )
            absolute = self.rng.random() < 0.5
            coll_links[item.collection].append(
                {"rel": "item", "href": item_path if absolute else f"./{item.name}.json"}
            )
            if item.name == self.revisited:
                coll_links[item.collection].append(
                    {"rel": "item", "href": f"./{item.name}.json" if absolute else item_path}
                )
        for c, cdir in enumerate(coll_dirs):
            path = os.path.join(cdir, f"collection{c}.json")
            links = [*coll_links[c], {"rel": "self", "href": path}]
            staged += _write_json(path, _collection(c, links))
        staged += _write_json(
            catalog_path,
            _catalog(
                [
                    {"rel": "child", "href": f"./coll{c}/collection{c}.json"}
                    for c in range(self.n_collections)
                ]
            ),
        )
        return Version(catalog_path, data, 1 + len(coll_dirs) + len(self.items), staged)
