"""Spatial join operators over bbox columns (STAC bounding boxes).

The reference's catalog carries a ``bbox: [minx, miny, maxx, maxy]`` per
item (reference stac_format.py bbox key); a spatial catalog has to answer
"which items intersect which query regions" at collection scale. A naive
bbox-intersects join is a cross product — O(N·M) comparisons that no
cluster survives. The scalable relational form is the classic
grid-bucketed spatial join (PBSM lineage): snap every box to the fixed
grid cells it overlaps, equi-join on the cell id, verify exact
intersection inside the bucket, and de-duplicate multi-cell pairs with
the *reference-point* rule — a pair is emitted only from the one cell
that contains the intersection's lower-left corner, so no distinct pass
over the pair stream is needed.

At 100 TB the cell id is an ingest-time partition key: the equi-join
shuffles both sides once on (cell_x, cell_y), skewed megacells can be
salted like any hot key, and the exact-intersects verify is a codegen'd
comparison — no UDF anywhere in the pipeline.

The demo queries derive deterministic boxes from integer keys of the
TPC-H-ish tables (exact integer-then-divide arithmetic, so the DuckDB
oracle reproduces every coordinate bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geostore_spark.functions.geo import (
    bbox_extent_agg,
    bbox_intersects,
    zorder_key,
    zorder_key_sql,
)
from geostore_spark.registry import register
from geostore_spark.sources.tables import load_table
from geostore_spark.operators.util import pin_branch_point

CELL_DEG = 2.0  # fixed grid pitch in degrees


def _c(b: Column, i: int) -> Column:
    return F.element_at(b, i + 1)


def _cell(v: Column) -> Column:
    return F.floor(v / F.lit(CELL_DEG))


def spatial_grid_join(
    left: DataFrame, right: DataFrame, l_id: str, r_id: str
) -> DataFrame:
    """All (left, right) id pairs whose ``bbox`` columns intersect.

    Both sides flatten the box to four scalar columns FIRST, then explode
    to (id, bounds..., cell_x, cell_y); the join is a pure equi-join on
    the cell pair plus a codegen'd scalar-comparison verify.
    Reference-point dedup: the pair survives only in the cell containing
    (max(minx), max(miny)) — a cell both boxes overlap by construction —
    so multi-cell pairs never need a distinct shuffle.

    Flattening before the explode matters: Catalyst infers a
    non-empty-sequence filter below each Generate and substitutes the
    generator's argument expression into it wholesale (no CSE), so
    sequence bounds built from ``element_at(bbox, …)`` re-evaluate the
    whole box expression ~8× per input row (measured 3.2 s → 1.9 s warm,
    14 s → 3 s cold, on the demo join after flattening).
    """

    def cover(df: DataFrame, id_col: str, p: str) -> DataFrame:
        b = F.col("bbox")
        return (
            df.select(
                F.col(id_col),
                _c(b, 0).alias(f"{p}x0"),
                _c(b, 1).alias(f"{p}y0"),
                _c(b, 2).alias(f"{p}x1"),
                _c(b, 3).alias(f"{p}y1"),
            )
            .withColumn(
                "cell_x",
                F.explode(F.sequence(_cell(F.col(f"{p}x0")), _cell(F.col(f"{p}x1")))),
            )
            .withColumn(
                "cell_y",
                F.explode(F.sequence(_cell(F.col(f"{p}y0")), _cell(F.col(f"{p}y1")))),
            )
        )

    lc = cover(left, l_id, "l")
    rc = cover(right, r_id, "r")
    intersects = (
        (F.col("lx0") <= F.col("rx1"))
        & (F.col("rx0") <= F.col("lx1"))
        & (F.col("ly0") <= F.col("ry1"))
        & (F.col("ry0") <= F.col("ly1"))
    )
    ref_x = _cell(F.greatest(F.col("lx0"), F.col("rx0")))
    ref_y = _cell(F.greatest(F.col("ly0"), F.col("ry0")))
    return (
        lc.join(rc, ["cell_x", "cell_y"])
        .filter(intersects)
        .filter((F.col("cell_x") == ref_x) & (F.col("cell_y") == ref_y))
        .select(l_id, r_id)
    )


# -- deterministic demo geometries ------------------------------------------
#
# Integer modular arithmetic then one divide: every coordinate is the same
# IEEE double in Spark and DuckDB, so join predicates and floors agree
# bit-for-bit.


def _item_bbox() -> Column:
    cx = (F.col("o_orderkey") % 3600) / F.lit(10.0) - F.lit(180.0)
    cy = (F.col("o_orderkey") * 7 % 1700) / F.lit(10.0) - F.lit(85.0)
    hw = ((F.col("o_orderkey") % 13) + 1) / F.lit(20.0)
    hh = ((F.col("o_orderkey") % 7) + 1) / F.lit(20.0)
    return F.array(cx - hw, cy - hh, cx + hw, cy + hh)


_ITEM_BBOX_SQL = """
    [ (o_orderkey % 3600) / 10.0 - 180.0 - ((o_orderkey % 13) + 1) / 20.0,
      (o_orderkey * 7 % 1700) / 10.0 - 85.0 - ((o_orderkey % 7) + 1) / 20.0,
      (o_orderkey % 3600) / 10.0 - 180.0 + ((o_orderkey % 13) + 1) / 20.0,
      (o_orderkey * 7 % 1700) / 10.0 - 85.0 + ((o_orderkey % 7) + 1) / 20.0 ]"""


def _zone_bbox() -> Column:
    cx = (F.col("c_custkey") * 7 % 3600) / F.lit(10.0) - F.lit(180.0)
    cy = (F.col("c_custkey") * 13 % 1700) / F.lit(10.0) - F.lit(85.0)
    half = ((F.col("c_custkey") % 11) + 5) / F.lit(10.0)
    return F.array(cx - half, cy - half, cx + half, cy + half)


_ZONE_BBOX_SQL = """
    [ (c_custkey * 7 % 3600) / 10.0 - 180.0 - ((c_custkey % 11) + 5) / 10.0,
      (c_custkey * 13 % 1700) / 10.0 - 85.0 - ((c_custkey % 11) + 5) / 10.0,
      (c_custkey * 7 % 3600) / 10.0 - 180.0 + ((c_custkey % 11) + 5) / 10.0,
      (c_custkey * 13 % 1700) / 10.0 - 85.0 + ((c_custkey % 11) + 5) / 10.0 ]"""


@register(
    "x_geo_grid_join",
    "Grid-bucketed bbox intersection join (PBSM shape): snap boxes to "
    "fixed 2° cells, equi-join on cell id, exact-intersects verify, "
    "reference-point dedup — never a cross product, never a distinct "
    "over the pair stream. Cell id is the partition key at scale.",
    f"""WITH items AS (
          SELECT o_orderkey AS item_id, {_ITEM_BBOX_SQL} AS bbox FROM orders
        ),
        zones AS (
          SELECT c_custkey AS zone_id, {_ZONE_BBOX_SQL} AS bbox FROM customer
        ),
        pairs AS (
          SELECT z.zone_id, i.item_id
          FROM items i JOIN zones z
            ON i.bbox[1] <= z.bbox[3] AND z.bbox[1] <= i.bbox[3]
           AND i.bbox[2] <= z.bbox[4] AND z.bbox[2] <= i.bbox[4]
        )
        SELECT zone_id, COUNT(*) AS n_items
        FROM pairs GROUP BY zone_id
        ORDER BY n_items DESC, zone_id LIMIT 100""",
)
def q_grid_join(spark: SparkSession, sf: str) -> DataFrame:
    items = load_table(spark, "orders", sf).select(
        F.col("o_orderkey").alias("item_id"), _item_bbox().alias("bbox")
    )
    zones = load_table(spark, "customer", sf).select(
        F.col("c_custkey").alias("zone_id"), _zone_bbox().alias("bbox")
    )
    return (
        spatial_grid_join(items, zones, "item_id", "zone_id")
        .groupBy("zone_id")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("n_items").desc(), "zone_id")
        .limit(100)
    )


@register(
    "x_geo_extent_rollup",
    "Collection extent rollup: per-group bbox union via min/max aggregates "
    "(the STAC collection summary extent) — partial-aggregates map-side "
    "like any min/max, one row per group on the wire.",
    f"""WITH items AS (
          SELECT o_orderstatus, {_ITEM_BBOX_SQL} AS bbox FROM orders
        )
        SELECT o_orderstatus,
               MIN(bbox[1]) AS extent_minx, MIN(bbox[2]) AS extent_miny,
               MAX(bbox[3]) AS extent_maxx, MAX(bbox[4]) AS extent_maxy,
               COUNT(*) AS n_items
        FROM items GROUP BY o_orderstatus ORDER BY o_orderstatus""",
)
def q_extent_rollup(spark: SparkSession, sf: str) -> DataFrame:
    items = load_table(spark, "orders", sf).select(
        "o_orderstatus", _item_bbox().alias("bbox")
    )
    return (
        items.groupBy("o_orderstatus")
        .agg(*bbox_extent_agg(F.col("bbox")), F.count(F.lit(1)).alias("n_items"))
        .orderBy("o_orderstatus")
    )


@register(
    "x_geo_zorder",
    "Morton (Z-order) clustering key from bbox centroid cells — the "
    "spatial write-layout primitive: sort/range-partition on this key at "
    "ingest and parquet row-group min/max stats turn bbox queries into "
    "file skipping. Pure integer bit interleave, codegen'd.",
    f"""WITH items AS (
          SELECT o_orderkey AS item_id, {_ITEM_BBOX_SQL} AS bbox FROM orders
        ),
        cells AS (
          SELECT item_id,
                 CAST(FLOOR(((bbox[1] + bbox[3]) / 2 + 180.0) * 64.0) AS BIGINT) AS cx,
                 CAST(FLOOR(((bbox[2] + bbox[4]) / 2 + 90.0) * 64.0) AS BIGINT) AS cy
          FROM items
        )
        SELECT item_id, {zorder_key_sql("cx", "cy")} AS zkey
        FROM cells ORDER BY zkey, item_id LIMIT 200""",
)
def q_zorder(spark: SparkSession, sf: str) -> DataFrame:
    items = load_table(spark, "orders", sf).select(
        F.col("o_orderkey").alias("item_id"), _item_bbox().alias("bbox")
    )
    cells = items.select(
        "item_id",
        F.floor(((_c(F.col("bbox"), 0) + _c(F.col("bbox"), 2)) / 2 + 180.0) * 64.0).alias("cx"),
        F.floor(((_c(F.col("bbox"), 1) + _c(F.col("bbox"), 3)) / 2 + 90.0) * 64.0).alias("cy"),
    )
    return (
        cells.select("item_id", zorder_key(F.col("cx"), F.col("cy")).alias("zkey"))
        .orderBy("zkey", "item_id")
        .limit(200)
    )


# -- grid-bounded k-nearest-neighbor ----------------------------------------

KNN_K = 5
KNN_QUERIES = 3
KNN_CELL = 2000  # hundredths of a degree (20°) — ring density >> k


@register(
    "x_geo_knn",
    "Grid-bounded spatial KNN: each query point probes its 3x3 cell "
    "neighborhood and exact-reranks candidates by integer squared "
    "euclidean distance (the spatial twin of the ANN cell-probe "
    "contract). The tiny query ring broadcasts; the point table joins "
    "on its ingest-time (cell_x, cell_y) partition key and NEVER "
    "shuffles — at scale the probe is partition pruning. All-integer "
    "coordinates and distances, so the oracle matches bit-for-bit.",
    f"""WITH p AS (
         SELECT c_custkey AS n_id,
                (c_custkey * 7919) % 36000 AS xi,
                (c_custkey * 104729) % 18000 AS yi
         FROM customer
       ),
       pc AS (
         SELECT n_id, xi, yi,
                CAST(FLOOR(CAST(xi AS DOUBLE) / {KNN_CELL}) AS BIGINT) AS cx,
                CAST(FLOOR(CAST(yi AS DOUBLE) / {KNN_CELL}) AS BIGINT) AS cy
         FROM p
       ),
       q AS (SELECT n_id AS q_id, xi AS qx, yi AS qy, cx AS qcx, qcy FROM
             (SELECT *, cy AS qcy FROM pc) WHERE n_id <= {KNN_QUERIES}),
       cand AS (
         SELECT q.q_id, p.n_id,
                (p.xi - q.qx) * (p.xi - q.qx)
                + (p.yi - q.qy) * (p.yi - q.qy) AS dist_q
         FROM q JOIN pc p
           ON p.cx BETWEEN q.qcx - 1 AND q.qcx + 1
          AND p.cy BETWEEN q.qcy - 1 AND q.qcy + 1
          AND p.n_id != q.q_id
       )
       SELECT q_id, n_id, dist_q
       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY dist_q, n_id) AS rn FROM cand)
       WHERE rn <= {KNN_K} ORDER BY q_id, n_id""",
)
def q_geo_knn(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, "customer", sf)
    pc = cust.select(
        F.col("c_custkey").alias("n_id"),
        ((F.col("c_custkey") * 7919) % 36000).alias("xi"),
        ((F.col("c_custkey") * 104729) % 18000).alias("yi"),
    ).select(
        "n_id",
        "xi",
        "yi",
        F.floor(F.col("xi").cast("double") / KNN_CELL).cast("bigint").alias("cx"),
        F.floor(F.col("yi").cast("double") / KNN_CELL).cast("bigint").alias("cy"),
    )
    q = pc.filter(F.col("n_id") <= KNN_QUERIES).select(
        F.col("n_id").alias("q_id"),
        F.col("xi").alias("qx"),
        F.col("yi").alias("qy"),
        F.col("cx").alias("qcx"),
        F.col("cy").alias("qcy"),
    )
    cand = F.broadcast(q).join(
        pc,
        (F.col("cx").between(F.col("qcx") - 1, F.col("qcx") + 1))
        & (F.col("cy").between(F.col("qcy") - 1, F.col("qcy") + 1))
        & (F.col("n_id") != F.col("q_id")),
    )
    dist = (F.col("xi") - F.col("qx")) * (F.col("xi") - F.col("qx")) + (
        F.col("yi") - F.col("qy")
    ) * (F.col("yi") - F.col("qy"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy("dist_q", "n_id")
    return (
        cand.select("q_id", "n_id", dist.alias("dist_q"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .select("q_id", "n_id", "dist_q")
        .orderBy("q_id", "n_id")
    )


# -- grid density rollup ------------------------------------------------------

DENSITY_CELL = 2000  # same pitch as the KNN grid
DENSITY_TOP = 20


@register(
    "x_geo_density",
    "Spatial density heatmap: point counts per grid cell, top cells "
    "first — the tile-server / hotspot-detection rollup. One partially "
    "aggregated shuffle on the (ingest-time) cell key; top-k is a "
    "TakeOrdered merge. Integer cells from integer point coords, exact "
    "everywhere.",
    f"""WITH p AS (
         SELECT c_custkey AS n_id,
                (c_custkey * 7919) % 36000 AS xi,
                (c_custkey * 104729) % 18000 AS yi
         FROM customer
       )
       SELECT CAST(FLOOR(CAST(xi AS DOUBLE) / {DENSITY_CELL}) AS BIGINT) AS cx,
              CAST(FLOOR(CAST(yi AS DOUBLE) / {DENSITY_CELL}) AS BIGINT) AS cy,
              COUNT(*) AS n_points,
              MIN(n_id) AS min_id
       FROM p GROUP BY cx, cy
       ORDER BY n_points DESC, cx, cy LIMIT {DENSITY_TOP}""",
)
def q_geo_density(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, "customer", sf)
    xi = (F.col("c_custkey") * 7919) % 36000
    yi = (F.col("c_custkey") * 104729) % 18000
    return (
        cust.select(
            F.col("c_custkey").alias("n_id"), xi.alias("xi"), yi.alias("yi")
        )
        .groupBy(
            F.floor(F.col("xi").cast("double") / DENSITY_CELL).cast("bigint").alias("cx"),
            F.floor(F.col("yi").cast("double") / DENSITY_CELL).cast("bigint").alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"), F.min("n_id").alias("min_id"))
        .orderBy(F.col("n_points").desc(), "cx", "cy")
        .limit(DENSITY_TOP)
    )


# -- hotspot stencil (Getis-Ord-lite) -----------------------------------------

HOTSPOT_TOP = 20


@register(
    "x_geo_hotspot",
    "Hotspot detection via a 3x3 stencil over the density grid "
    "(Getis-Ord G*-lite): each occupied cell's ring sum — its own count "
    "plus the 8 neighbors — and the ring's share of all points, exact "
    "integers throughout. The stencil is an offset-explode + equi-join "
    "against the (aggregate-sized, broadcast) cell table, the "
    "neighborhood pattern raster analytics uses instead of a point "
    "self-join; the fact table shuffles once into cells and never "
    "again.",
    f"""WITH p AS (
         SELECT c_custkey AS n_id,
                (c_custkey * 7919) % 36000 AS xi,
                (c_custkey * 104729) % 18000 AS yi
         FROM customer
       ),
       cells AS (
         SELECT CAST(FLOOR(CAST(xi AS DOUBLE) / {DENSITY_CELL}) AS BIGINT) AS cx,
                CAST(FLOOR(CAST(yi AS DOUBLE) / {DENSITY_CELL}) AS BIGINT) AS cy,
                COUNT(*) AS n
         FROM p GROUP BY cx, cy
       ),
       tot AS (SELECT CAST(SUM(n) AS BIGINT) AS s FROM cells),
       off AS (
         SELECT a.dx, b.dy
         FROM (SELECT unnest([-1, 0, 1]) AS dx) a,
              (SELECT unnest([-1, 0, 1]) AS dy) b
       ),
       ring AS (
         SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, SUM(c.n) AS ring_sum
         FROM cells c, off o
         GROUP BY 1, 2
       )
       SELECT c.cx, c.cy, CAST(c.n AS BIGINT) AS n_points,
              CAST(r.ring_sum AS BIGINT) AS ring_sum,
              CAST((r.ring_sum * 1000000) // t.s AS BIGINT) AS share_q6
       FROM cells c JOIN ring r ON c.cx = r.cx AND c.cy = r.cy, tot t
       ORDER BY ring_sum DESC, c.cx, c.cy LIMIT {HOTSPOT_TOP}""",
)
def q_geo_hotspot(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, "customer", sf)
    xi = (F.col("c_custkey") * 7919) % 36000
    yi = (F.col("c_custkey") * 104729) % 18000
    cells = (
        cust.select(xi.alias("xi"), yi.alias("yi"))
        .groupBy(
            F.floor(F.col("xi").cast("double") / DENSITY_CELL)
            .cast("bigint")
            .alias("cx"),
            F.floor(F.col("yi").cast("double") / DENSITY_CELL)
            .cast("bigint")
            .alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        # the cell table feeds the stencil scatter, the center join AND
        # the total — materialize the fact shuffle once
        .transform(pin_branch_point)
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1), "
        "dx -> transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    ring = (
        cells.select("cx", "cy", "n", offsets.alias("o"))
        .select(
            (F.col("cx") + F.col("o.dx")).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
            "n",
        )
        .groupBy("cx", "cy")
        .agg(F.sum("n").alias("ring_sum"))
    )
    tot = cells.agg(F.sum("n").cast("bigint").alias("s"))
    return (
        cells.join(ring, ["cx", "cy"])
        .crossJoin(F.broadcast(tot))
        .select(
            "cx",
            "cy",
            F.col("n").cast("bigint").alias("n_points"),
            F.col("ring_sum").cast("bigint").alias("ring_sum"),
            F.expr("ring_sum * 1000000 div s").cast("bigint").alias("share_q6"),
        )
        .orderBy(F.col("ring_sum").desc(), "cx", "cy")
        .limit(HOTSPOT_TOP)
    )
