"""STAC tree traversal (op V1): every metadata document reachable from a
root URL, each exactly once, in the reference's discovery order.

The reference (check_stac_metadata/utils.py:191-258) walks the tree with
one sequential recursion: start at the root metadata URL, visit a URL on
first arrival (``traversed_urls``, utils.py:92,256-258), then follow its
``links`` with rel ∈ {child, item} in document order, resolving
``./``-relative hrefs against the parent directory (utils.py:59-67). The
visit order is observable in the enumerated range keys (utils.py:165-189).

Two modes compute the same frame, and a third picks between them:

- ``"driver"`` is sequential. It runs the reference's walk on the
  driver: it reads each document once through ``pipeline.io.open_url``,
  one BFS level at a time, and has each level's links parsed by
  ``from_json`` on a local relation (a query per level and per 8 million
  characters of text), which runs no Spark job. The
  reference's recursion then replays as an iterative DFS over the
  followed links (an explicit stack, so a deep catalog cannot hit
  Python's recursion limit) and yields each document's link-index
  ``path`` and ``discovery_ord``. The result is one local frame built
  through Arrow, with ``doc`` parsed JVM-side by ``from_json`` as in
  every mode.
- ``"dataframe"`` is distributed. Spark has no recursive CTE, so each BFS
  round is a DataFrame job: executor tasks read the frontier's documents
  (``mapInPandas``), explode and resolve their links, and drop visited
  URLs with an anti-join, so driver state per round is one row count.
  The DFS pre-order is rebuilt by relaxing each document's link-index
  path to the lexicographic min-path fixpoint over the followed edges
  (``_exact_dfs_paths``) and ranking by path (``distributed_row_number``).
- ``"auto"`` (the default) starts the driver walk. When the links it has
  followed cross ``DF_FRONTIER_THRESHOLD``, it drops the partial walk and
  runs dataframe mode from the root.

Both modes follow exactly the links that ``from_json(raw, DOC_SCHEMA)``
exposes, because both parse with it, so their rows agree (pinned
against a literal model of the reference's recursion in
tests/test_traversal_random.py and tests/test_traversal_adversarial.py).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geostore_spark.logging_keys import LOG_MESSAGE_TRAVERSAL_COMPLETE, log_event
from geostore_spark.pipeline.io import open_url, opener_snapshot
from geostore_spark.pipeline.validation import (
    CHECK_FILE_NOT_FOUND,
    CHECK_STAGING_ACCESS,
)

MAX_ITERATIONS = 1000  # cycle-safety backstop; depth of a sane catalog ≪ this

DOC_SCHEMA = (
    "type string, id string, stac_version string, description string, "
    "title string, `linz:security_classification` string, "
    "links array<struct<href string, rel string>>, "
    "assets map<string, struct<href string, `file:checksum` string>>"
)

DOCUMENTS_SCHEMA = (
    "url string, raw string, fetch_kind string, fetch_error string, "
    "path array<int>, discovery_ord long"
)

FOLLOW_RELS = ("child", "item")

_ABSOLUTE_HREF = "^[a-z][a-z0-9+.-]*://"

# Auto-dispatch threshold: a catalog whose followed links stay at or
# under this is walked on the driver; one link more drops the partial
# walk and traverses it in DataFrame-frontier mode from the root. Set
# just under the measured crossover (tools/traversal_crossover.py,
# BASELINE.md "Driver walk against dataframe rounds"): on a 4-core host
# the walk wins up to about 60,000 documents with an in-memory opener
# (7.1 s against 7.8 s at 50,000; the local opener crosses later), and
# by 2x at 10,000 documents
# with a 5 ms per-read opener, because the rounds read each document
# more than once. A catalog just over the limit pays the dropped walk
# (about 7 s at 50,000 local documents) on top of the rounds.
DF_FRONTIER_THRESHOLD = 50_000

# Characters of document text sent to the JVM per link-parse query, so
# a wide level does not build one huge literal.
_PARSE_CHUNK_CHARS = 8_000_000

_LINKS_QUERY = (
    "SELECT transform(from_json(texts, 'array<string>', "
    "map('maxStringLen', '2147483647')), "
    f"raw -> from_json(raw, '{DOC_SCHEMA}').links) AS links "
    "FROM VALUES (:texts) AS t(texts)"
)


def _resolve_href(parent_url, href):
    """Resolve href against the parent document's directory — absolute
    hrefs (path or scheme) pass through; ``./x`` and bare-relative resolve
    to ``dirname(parent)/x`` (reference utils.py:59-67)."""
    parent_dir = F.regexp_replace(parent_url, "/[^/]+$", "")
    child = F.regexp_replace(href, r"^\./", "")
    return F.when(
        href.startswith("/") | href.rlike(_ABSOLUTE_HREF), href
    ).otherwise(F.concat(parent_dir, F.lit("/"), child))


def _resolve_href_local(parent_url: str, href: str) -> str:
    """``_resolve_href`` for one driver-side string (same regexes)."""
    if href.startswith("/") or re.match(_ABSOLUTE_HREF, href):
        return href
    return re.sub("/[^/]+$", "", parent_url) + "/" + re.sub(r"^\./", "", href)


def _fetch(url: str, openers=None) -> tuple[str | None, str | None, str | None]:
    """(raw, fetch_kind, fetch_error) of one metadata document, read
    through the pluggable opener seam (``pipeline/io.py``). A missing
    document becomes a (fetch_kind='file not found in staging or
    storage', fetch_error=…) row instead of an exception — the reference
    records the same FILE_NOT_FOUND / STAGING_ACCESS validation rows from
    its fetch exceptions (check_stac_metadata/utils.py:273-295) and
    aborts the walk; here the errored document simply contributes no
    links, which stops its branch the same way."""
    try:
        with open_url(url, "r", openers) as f:
            return f.read(), None, None
    except FileNotFoundError:
        return (
            None,
            CHECK_FILE_NOT_FOUND,
            f"Could not find metadata file '{url}' "
            "in staging bucket or in the Geostore.",
        )
    except OSError as e:
        return None, CHECK_STAGING_ACCESS, str(e)


def read_frontier_documents(frontier: DataFrame) -> DataFrame:
    """Executor-side read of one frontier round (url, path): each task
    ``_fetch``es its slice of URLs inside ``mapInPandas``, so the round's
    URL list never materializes on the driver. Openers are snapshotted
    at plan-build time and shipped in the closure (Python workers never
    see driver-side registry mutations), so a cluster deployment
    registers its object-store opener once. JSON parse stays JVM-side
    (``from_json``) on the returned frame."""
    openers = opener_snapshot()

    def read_batch(batches):
        for pdf in batches:
            fetched = [_fetch(u, openers) for u in pdf["url"]]
            yield pdf.assign(
                raw=[f[0] for f in fetched],
                fetch_kind=[f[1] for f in fetched],
                fetch_error=[f[2] for f in fetched],
            )

    return frontier.mapInPandas(
        read_batch,
        "url string, path array<int>, raw string, "
        "fetch_kind string, fetch_error string",
    ).withColumn("doc", F.from_json("raw", DOC_SCHEMA))


def documents_frame(spark: SparkSession, rows) -> DataFrame:
    """The traversal frame from driver-side rows of (url, raw, fetch_kind,
    fetch_error, path, discovery_ord): one local frame through Arrow,
    with ``doc`` parsed JVM-side by ``from_json`` like the distributed
    read. ``raw`` stays beside the parse because the duplicate-key
    check (V4) must see the text. Zero rows give the zero-document
    frame."""
    from geostore_spark.operators.util import local_rows_df

    return local_rows_df(spark, rows, DOCUMENTS_SCHEMA).select(
        "url",
        "raw",
        "fetch_kind",
        "fetch_error",
        F.from_json("raw", DOC_SCHEMA).alias("doc"),
        "path",
        "discovery_ord",
    )


def _chunks(texts: list[str], budget: int):
    """Consecutive runs of ``texts`` of at most ``budget`` characters
    each (a longer text forms a run of its own)."""
    chunk: list[str] = []
    size = 0
    for t in texts:
        if chunk and size + len(t) > budget:
            yield chunk
            chunk, size = [], 0
        chunk.append(t)
        size += len(t)
    if chunk:
        yield chunk


def _followed_links(spark: SparkSession, raws: list[str | None]):
    """For each raw text, the (link index, href) of every child/item
    link with an href, in document order — the links ``_round_links``
    follows, read by the same ``from_json(raw, DOC_SCHEMA)``. The texts
    travel to the JVM as one JSON array literal per chunk on a one-row
    ``VALUES`` relation, which the optimizer folds into a local
    relation, so the collect runs no Spark job. The outer parse lifts
    Jackson's string-length limit, which would otherwise null a whole
    chunk on one long document; each document's own parse keeps the
    defaults, as in dataframe mode."""
    texts = [r for r in raws if r is not None]
    parsed = []
    for chunk in _chunks(texts, _PARSE_CHUNK_CHARS):
        [row] = spark.sql(_LINKS_QUERY, args={"texts": json.dumps(chunk)}).collect()
        parsed.extend(row["links"])
    it = iter(parsed)
    return [
        []
        if raw is None
        else [
            (i, link["href"])
            for i, link in enumerate(next(it) or ())
            if link is not None
            and link["href"] is not None
            and link["rel"] in FOLLOW_RELS
        ]
        for raw in raws
    ]


def _walk(spark: SparkSession, root_url: str, max_links: int | None):
    """The reference's walk, on the driver. Documents are read one BFS
    level at a time, and each level's links are parsed in the JVM
    (``_followed_links``); the set of documents reached does not depend
    on visit order. The reference's recursion then runs as an iterative
    DFS over the followed links: pop a URL, skip it if already visited,
    and push its links in reverse so they pop in document order.
    Returns (rows in discovery order, number of BFS levels), or None
    once a level brings the followed links past ``max_links`` (before
    the next level is read)."""
    fetched: dict[str, tuple] = {}
    edges: dict[str, list[tuple[int, str]]] = {}
    level = [root_url]
    n_levels = n_links = 0
    while level:
        n_levels += 1
        for url in level:
            fetched[url] = _fetch(url)
        nxt: dict[str, None] = {}
        for url, links in zip(level, _followed_links(spark, [fetched[u][0] for u in level])):
            edges[url] = [(i, _resolve_href_local(url, href)) for i, href in links]
            n_links += len(links)
            nxt.update((c, None) for _, c in edges[url] if c not in fetched)
        if max_links is not None and n_links > max_links:
            return None
        level = list(nxt)

    rows = []
    visited: set[str] = set()
    stack: list[tuple[str, list[int]]] = [(root_url, [])]
    while stack:
        url, path = stack.pop()
        if url in visited:
            continue
        visited.add(url)
        rows.append((url, *fetched[url], path, len(rows)))
        for i, child in reversed(edges[url]):
            if child not in visited:
                stack.append((child, path + [i]))
    return rows, n_levels


def _round_links(docs: DataFrame) -> DataFrame:
    """(child_url, path) candidate links of one frontier's documents."""
    return (
        docs.select(
            "url",
            "path",
            F.posexplode_outer(F.col("doc.links")).alias("link_idx", "link"),
        )
        .filter(F.col("link.rel").isin(*FOLLOW_RELS) & F.col("link.href").isNotNull())
        .select(
            _resolve_href(F.col("url"), F.col("link.href")).alias("child_url"),
            F.concat("path", F.array("link_idx")).alias("path"),
        )
    )


def traverse(
    spark: SparkSession, root_url: str, frontier_mode: str = "auto"
) -> DataFrame:
    """Return every reachable metadata document with its DFS pre-order:
    (url, raw, fetch_kind, fetch_error, doc, path array<int>,
    discovery_ord long).

    ``frontier_mode``:

    - ``"driver"``: the sequential walk on the driver (``_walk``), one
      read per document, links parsed by ``from_json`` on local
      relations and no Spark job; the frame is built locally.
    - ``"dataframe"``: distributed BFS rounds (``_traverse_rounds``) —
      frontier, visited set and document reads live on executors, and
      the order comes from the min-path relaxation and a distributed
      row number.
    - ``"auto"`` (default): the driver walk while the links it follows
      stay at or under ``DF_FRONTIER_THRESHOLD``; past that, the partial
      walk is dropped and dataframe mode runs from the root.

    Every mode yields identical rows: same URLs, paths and discovery_ord.
    """
    if frontier_mode not in ("auto", "driver", "dataframe"):
        raise ValueError(f"unknown frontier_mode: {frontier_mode}")
    walked = None
    if frontier_mode != "dataframe":
        max_links = DF_FRONTIER_THRESHOLD if frontier_mode == "auto" else None
        walked = _walk(spark, root_url, max_links)
    if walked is None:
        return _traverse_rounds(spark, root_url)
    rows, n_levels = walked
    # n_rounds counts BFS levels, as dataframe mode's rounds do
    log_event(
        LOG_MESSAGE_TRAVERSAL_COMPLETE,
        root_url=root_url,
        n_urls=len(rows),
        n_rounds=n_levels,
    )
    return documents_frame(spark, rows)


def _traverse_rounds(spark: SparkSession, root_url: str) -> DataFrame:
    """Dataframe mode: one BFS round of Spark jobs per depth level.

    Frontier AND visited set are DataFrames: dedup is a window +
    anti-join, the document read happens executor-side
    (``read_frontier_documents``), and the only driver-side state per
    round is the frontier's row count. The reference's DFS pre-order is
    the lexicographic sort of the min-path fixpoint
    (``_exact_dfs_paths``), and the final global rank runs through the
    two-phase distributed ROW_NUMBER (range partition + broadcast
    offsets), never a single-partition window."""
    visited_df = spark.createDataFrame([], "url string")
    frontier_df = spark.createDataFrame(
        [(root_url, [])], "url string, path array<int>"
    )
    collected: list[DataFrame] = []
    n_urls = 0

    for _ in range(MAX_ITERATIONS):
        # O(1) driver state per round: one count, no URL list
        round_n = frontier_df.count()
        if round_n == 0:
            break
        n_urls += round_n
        visited_df = visited_df.unionByName(
            frontier_df.select("url")
        ).localCheckpoint(eager=False)
        docs = read_frontier_documents(frontier_df)
        collected.append(docs)
        # first discovery keeps the lexicographically-least path; dedup
        # + anti-join are executor-side, and the round's result is
        # checkpointed so the iterative lineage never re-derives
        # earlier rounds
        links = _round_links(docs)
        w = Window.partitionBy("child_url").orderBy("path")
        frontier_df = (
            links.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .join(visited_df, links["child_url"] == visited_df["url"], "left_anti")
            .select(F.col("child_url").alias("url"), "path")
            .localCheckpoint(eager=True)
        )

    log_event(
        LOG_MESSAGE_TRAVERSAL_COMPLETE,
        root_url=root_url,
        n_urls=n_urls,
        n_rounds=len(collected),
    )
    out = collected[0]
    for df in collected[1:]:
        out = out.unionByName(df)
    out = _exact_dfs_paths(out.localCheckpoint(eager=True), n_urls)
    from geostore_spark.operators.util import distributed_row_number

    ranked, _ = distributed_row_number(
        out, [], ["path"], rn_name="discovery_ord"
    )
    return ranked.withColumn("discovery_ord", F.col("discovery_ord") - 1)


def _exact_dfs_paths(out: DataFrame, n_urls: int) -> DataFrame:
    """Replace each document's round-of-first-discovery path with its
    DFS-tree path, by lexicographic min-path relaxation to fixpoint.

    The BFS loop keeps the least path seen PER ROUND, but a URL reached
    by a shallow, lexicographically-later path in round r is never
    revisited when round r+1 finds a deeper, lexicographically-earlier
    one — on non-tree link graphs (cross-links, cycles) that diverges
    from the reference's sequential DFS (utils.py:256-258 recurses at
    first arrival in link order). The DFS pre-order equals the sort of
    the unique fixpoint of p(root) = [] and p(v) = min over followed
    edges (u, i, v) of p(u) + [i] (shorter-prefix-first array order, so
    appending always grows a path and the relaxation is grounded); this
    computes that fixpoint with distributed joins over the visited
    edge set — no driver-side edge list, one join + one count on the
    checkpointed result per round — and is pinned against a literal
    sequential-DFS model on randomized cyclic graphs in
    tests/test_traversal_random.py. Trees converge immediately (0
    improving rounds), so the catalog fast path pays one relaxation
    round of fixed jobs. Final DFS-tree paths have length < n_urls, so
    n_urls + 1 rounds always suffice (each round propagates
    improvements one edge deeper); exhausting the bound is impossible
    rather than a silent wrong order, and raises if it ever happens.
    """
    p = out.select("url", "path").localCheckpoint(eager=True)
    edges = (
        out.select(
            "url", F.posexplode_outer(F.col("doc.links")).alias("i", "l")
        )
        .filter(F.col("l.rel").isin(*FOLLOW_RELS))
        .select(
            F.col("url").alias("src"),
            _resolve_href(F.col("url"), F.col("l.href")).alias("dst"),
            "i",
        )
        .join(
            p.select(F.col("url").alias("dst")), "dst", "left_semi"
        )  # only edges into visited docs can relax anything
        .localCheckpoint(eager=True)
    )
    for _ in range(n_urls + 1):
        cand = (
            p.join(edges, p["url"] == edges["src"])
            .select(
                F.col("dst").alias("url"),
                F.concat("path", F.array("i")).alias("cpath"),
            )
            .groupBy("url")
            .agg(F.min("cpath").alias("cpath"))
        )
        improves = F.col("cpath").isNotNull() & (F.col("cpath") < F.col("path"))
        p2 = (
            p.join(cand, "url", "left")
            .select(
                "url",
                F.when(improves, F.col("cpath")).otherwise(F.col("path")).alias(
                    "path"
                ),
                improves.alias("__improved"),
            )
            .localCheckpoint(eager=True)
        )
        improved = p2.filter(F.col("__improved")).count()  # reads the checkpoint
        p = p2.drop("__improved")
        if improved == 0:
            break
    else:
        raise RuntimeError(
            f"DFS path relaxation did not converge in {n_urls + 1} rounds "
            f"over {n_urls} documents — impossible for a grounded min-path "
            "fixpoint; traversal state is corrupt"
        )
    return out.drop("path").join(p, "url")
