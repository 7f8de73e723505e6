"""Canonical query plans — the SURVEY.md §2 operator inventory.

Each entry is one operator class from the reference (linz/geostore),
re-expressed as a declarative DataFrame plan (Catalyst owns the physical
strategy) plus the equivalent ANSI SQL the DuckDB oracle runs. Column names
are aliased identically on both sides (the driver hash compares by sorted
column name).

Scale notes applied throughout:
- equality / prefix / range filters are plain ``filter`` calls so they push
  down to the parquet scan (PushedFilters);
- small-dimension joins (region, nation) carry an explicit
  ``F.broadcast`` hint — at 100 TB the fact side never shuffles for these;
- big-big joins (orders x lineitem) are left to AQE (sort-merge with skew
  splitting) — no hint is the right hint;
- aggregates use built-in functions only (whole-stage codegen, map-side
  partial aggregation for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geostore_spark.registry import REGISTRY as CANONICAL_QUERIES  # back-compat alias
from geostore_spark.registry import register as _register
from geostore_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# §2.1 Scans / sources / sinks
# ---------------------------------------------------------------------------


@_register(
    "s1_prefix_scan",
    "Full scan with prefix predicate — list_datasets "
    "(reference geostore/datasets/list.py:10-25).",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_name LIKE 'Customer#%00001%' ORDER BY c_custkey""",
)
def s1(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "customer", sf)
        .filter(F.col("c_name").like("Customer#%00001%"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@_register(
    "s2_point_lookup",
    "Point lookup by key — get_dataset_single "
    "(reference geostore/datasets/get.py:28-59). Pushes an equality filter "
    "to the scan; at scale this is partition pruning.",
    "SELECT * FROM orders WHERE o_orderkey = 7",
)
def s2(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, "orders", sf).filter(F.col("o_orderkey") == 7)


@_register(
    "s3_index_equality",
    "Secondary-index equality lookup — title GSI query "
    "(reference geostore/datasets/get.py:61-87, datasets_model.py:31-43). "
    "Spark has no GSI; a pushed equality filter is the same semantics.",
    "SELECT n_nationkey, n_name FROM nation WHERE n_name = 'JAPAN'",
)
def s3(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "nation", sf)
        .filter(F.col("n_name") == "JAPAN")
        .select("n_nationkey", "n_name")
    )


@_register(
    "s4_range_prefix",
    "Range-key prefix query — assets of one type for one version "
    "(reference geostore/import_dataset/task.py:134-146, "
    "content_iterator/task.py:62-69).",
    "SELECT COUNT(*) AS n FROM lineitem WHERE l_orderkey = 1 AND l_linenumber >= 1",
)
def s4(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "lineitem", sf)
        .filter((F.col("l_orderkey") == 1) & (F.col("l_linenumber") >= 1))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "s5_json_source",
    "S3 JSON document source — parse a field out of raw JSON text "
    "(reference geostore/pystac_io_methods.py:24-31, "
    "check_stac_metadata/utils.py:260-271).",
    """SELECT regexp_extract(props, '"plan": *"([a-z]+)"', 1) AS plan, COUNT(*) AS n
       FROM events GROUP BY plan ORDER BY n DESC, plan""",
)
def s5(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "events", sf)
        .select(F.regexp_extract("props", '"plan": *"([a-z]+)"', 1).alias("plan"))
        .groupBy("plan")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "plan")
    )


@_register(
    "s7_csv_manifest",
    "CSV manifest sink projection — S3 Batch manifest rows "
    "(reference geostore/import_dataset/task.py:128-160).",
    """SELECT CAST(r_regionkey AS STRING) || ',' || r_name AS manifest_row
       FROM region ORDER BY r_regionkey""",
)
def s7(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "region", sf)
        .orderBy("r_regionkey")
        .select(
            F.concat(F.col("r_regionkey").cast("string"), F.lit(","), F.col("r_name")).alias(
                "manifest_row"
            )
        )
    )


@_register(
    "s8_dual_location_fallback",
    "Dual-location fallback reader — staging-then-storage resolution as a "
    "left join + coalesce; hit flag column "
    "(reference geostore/s3_utils.py:30-57).",
    """SELECT o.o_orderkey, COALESCE(l.l_extendedprice, o.o_totalprice) AS price,
              l.l_orderkey IS NOT NULL AS in_staging
       FROM orders o LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber = 1) l
         ON o.o_orderkey = l.l_orderkey
       ORDER BY o.o_orderkey LIMIT 100""",
)
def s8(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    staging = load_table(spark, "lineitem", sf).filter(F.col("l_linenumber") == 1)
    return (
        orders.join(staging, orders.o_orderkey == staging.l_orderkey, "left")
        .select(
            "o_orderkey",
            F.coalesce("l_extendedprice", "o_totalprice").alias("price"),
            F.col("l_orderkey").isNotNull().alias("in_staging"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@_register(
    "p1_project_rename",
    "Projection + rename, key-prefix strip — as_dict() "
    "(reference geostore/datasets_model.py:61-70).",
    """SELECT o_orderkey, regexp_extract(o_orderpriority, '-(.*)$', 1) AS priority_word
       FROM orders ORDER BY o_orderkey LIMIT 50""",
)
def p1(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf)
        .select(
            "o_orderkey",
            F.regexp_extract("o_orderpriority", "-(.*)$", 1).alias("priority_word"),
        )
        .orderBy("o_orderkey")
        .limit(50)
    )


@_register(
    "p2_null_flag_predicate",
    "Nullable-flag predicate (attribute presence is meaningful) — "
    "replaced_in_new_version.exists() "
    "(reference geostore/dataset_versions/create.py:100-105).",
    """SELECT COUNT(*) AS n FROM events
       WHERE props IS NOT NULL AND event_type = 'purchase'""",
)
def p2(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "events", sf)
        .filter(F.col("props").isNotNull() & (F.col("event_type") == "purchase"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "p3_boolean_filter",
    "Boolean equality filter — manifest restricted to exists_in_staging "
    "(reference geostore/import_dataset/task.py:142-145).",
    "SELECT COUNT(*) AS n FROM lineitem WHERE l_returnflag = 'R' AND l_discount > 0.05",
)
def p3(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "lineitem", sf)
        .filter((F.col("l_returnflag") == "R") & (F.col("l_discount") > 0.05))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "p4_compound_filter",
    "Filename equality within version+type — garbage-collector probe "
    "(reference geostore/step_function.py:216-232).",
    """SELECT l_orderkey, l_linenumber FROM lineitem
       WHERE l_partkey = 5 AND l_linenumber = 1 ORDER BY l_orderkey""",
)
def p4(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "lineitem", sf)
        .filter((F.col("l_partkey") == 5) & (F.col("l_linenumber") == 1))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey")
    )


@_register(
    "p5_isin_guard",
    "URL-scheme / root-type guards as isin predicates "
    "(reference geostore/check_stac_metadata/utils.py:70-75,136-155).",
    """SELECT event_id FROM events
       WHERE event_type IN ('signup','purchase') AND event_id % 1000 = 0
       ORDER BY event_id""",
)
def p5(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "events", sf)
        .filter(F.col("event_type").isin("signup", "purchase") & (F.col("event_id") % 1000 == 0))
        .select("event_id")
        .orderBy("event_id")
    )


@_register(
    "p6_regex_validation",
    "Regex validation of titles — TITLE_PATTERN jsonschema pattern "
    "(reference geostore/dataset_properties.py:3-4, datasets/create.py:19-33).",
    """SELECT COUNT(*) AS n FROM part
       WHERE length(regexp_extract(p_name, '^[a-z ]+$', 0)) > 0""",
)
def p6(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "part", sf)
        .filter(F.length(F.regexp_extract("p_name", "^[a-z ]+$", 0)) > 0)
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@_register(
    "j1_semi_join_exists",
    "Existence check as left-semi join — duplicate-title guard "
    "(reference geostore/datasets/create.py:35-38).",
    """SELECT c_custkey FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
       ORDER BY c_custkey LIMIT 100""",
)
def j1(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, "customer", sf)
    big_orders = load_table(spark, "orders", sf).filter(F.col("o_totalprice") > 300000)
    return (
        customer.join(big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(100)
    )


@_register(
    "j2_anti_join_not_exists",
    "Emptiness check as left-anti join — delete requires no objects "
    "(reference geostore/datasets/delete.py:53-63).",
    """SELECT c_custkey FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       ORDER BY c_custkey LIMIT 100""",
)
def j2(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, "customer", sf)
    orders = load_table(spark, "orders", sf)
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(100)
    )


@_register(
    "j3_broadcast_lookup",
    "Per-row lookup join of a small dim — status detail assembly "
    "(reference geostore/step_function.py:144-188). Explicit broadcast: the "
    "dimension never exceeds driver memory, the fact side never shuffles.",
    """SELECT n.n_name, r.r_name FROM nation n
       JOIN region r ON n.n_regionkey = r.r_regionkey ORDER BY n.n_name""",
)
def j3(spark: SparkSession, sf: str) -> DataFrame:
    nation = load_table(spark, "nation", sf)
    region = load_table(spark, "region", sf)
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_name", "r_name")
        .orderBy("n_name")
    )


@_register(
    "j4_update_via_join",
    "Update-via-join — garbage collector marks replaced filenames "
    "(reference geostore/step_function.py:216-232); expressed as the marked "
    "projection (the MERGE write path lives in pipeline/versions.py).",
    """SELECT o.o_orderkey, CASE WHEN l.l_orderkey IS NOT NULL THEN 1 ELSE 0 END AS replaced
       FROM orders o LEFT JOIN
         (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag='R') l
         ON o.o_orderkey = l.l_orderkey
       ORDER BY o.o_orderkey LIMIT 100""",
)
def j4(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    returned = (
        load_table(spark, "lineitem", sf)
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left")
        .select(
            "o_orderkey",
            F.when(F.col("l_orderkey").isNotNull(), 1).otherwise(0).alias("replaced"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


@_register(
    "j5_multiway_join",
    "Multi-way equi-join chain — end-to-end status assembly "
    "(reference geostore/step_function.py:72-122). region/nation broadcast; "
    "customer x orders left to AQE.",
    """SELECT r_name, n_name, COUNT(o_orderkey) AS orders
       FROM region JOIN nation ON n_regionkey = r_regionkey
       JOIN customer ON c_nationkey = n_nationkey
       JOIN orders ON o_custkey = c_custkey
       GROUP BY r_name, n_name ORDER BY r_name, n_name""",
)
def j5(spark: SparkSession, sf: str) -> DataFrame:
    region = load_table(spark, "region", sf)
    nation = load_table(spark, "nation", sf)
    customer = load_table(spark, "customer", sf)
    orders = load_table(spark, "orders", sf)
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("o_orderkey").alias("orders"))
        .orderBy("r_name", "n_name")
    )


@_register(
    "j6_latest_version",
    "As-of / latest-version-per-key semantics — current_dataset_version "
    "pointer (reference geostore/update_root_catalog/task.py:115-119, "
    "dataset_versions/create.py:99).",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM
       (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) t
       WHERE rn = 1 ORDER BY o_custkey LIMIT 100""",
)
def j6(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        load_table(spark, "orders", sf)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
        .limit(100)
    )


@_register(
    "j7_topk_revenue",
    "TPC-H Q3 shape: selective dimension filter -> two-level equi-join "
    "chain -> grouped revenue -> top-k. The segment filter prunes the "
    "customer side before the join (pushed to the scan); orders x "
    "lineitem is the big-big join left to AQE sort-merge with skew "
    "splitting; top-10 is a TakeOrdered merge, never a global sort.",
    """SELECT l_orderkey,
              ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
              o_orderdate
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1997-01-01'
         AND l_shipdate > TIMESTAMP '1997-01-01'
       GROUP BY l_orderkey, o_orderdate
       ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)
def j7(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, "customer", sf).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, "orders", sf).filter(
        F.col("o_orderdate") < "1997-01-01"
    )
    lineitem = load_table(spark, "lineitem", sf).filter(
        F.col("l_shipdate") > "1997-01-01"
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@_register(
    "j8_large_orders",
    "TPC-H Q18 shape: aggregate-then-semi-join — orders whose lineitem "
    "quantity total exceeds a threshold, joined back to order/customer "
    "detail. The HAVING filter collapses the aggregated side to a tiny "
    "key set, broadcast back onto orders (at any scale the post-filter "
    "side is small by construction; the only big shuffle is the "
    "map-side-partial quantity rollup).",
    """SELECT c_name, o_orderkey, o_totalprice, sum_qty
       FROM (SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING SUM(l_quantity) > 150) big
       JOIN orders ON o_orderkey = big.l_orderkey
       JOIN customer ON c_custkey = o_custkey
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)
def j8(spark: SparkSession, sf: str) -> DataFrame:
    lineitem = load_table(spark, "lineitem", sf)
    orders = load_table(spark, "orders", sf)
    customer = load_table(spark, "customer", sf)
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@_register(
    "j9_above_avg_anti",
    "TPC-H Q22 shape: scalar-subquery threshold (global average balance) "
    "+ anti-join (customers with no completed order) + per-nation rollup. "
    "The 1-row average broadcasts (BroadcastNestedLoopJoin over a scalar "
    "is free); the anti-join's build side is the distinct completed-order "
    "customer set; the rollup sums are exact decimals.",
    """SELECT c_nationkey, COUNT(*) AS n_cust,
              ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE), 2)
                AS sum_bal
       FROM customer c
       WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderstatus = 'F')
       GROUP BY c_nationkey ORDER BY c_nationkey""",
)
def j9(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, "customer", sf)
    orders = load_table(spark, "orders", sf)
    avg_bal = customer.agg(F.avg("c_acctbal").alias("avg_bal"))
    completed = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .distinct()
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            completed,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double"), 2
            ).alias("sum_bal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@_register(
    "a1_filtered_count",
    "Filtered count — content_iterator DATA-asset count "
    "(reference geostore/content_iterator/task.py:62-69).",
    "SELECT COUNT(*) AS n FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-01-01'",
)
def a1(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "lineitem", sf)
        .filter(F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "a2_existence_aggregate",
    "Existence aggregate — validation summary success ⇔ zero FAILED rows "
    "(reference geostore/validation_summary/task.py:40-50).",
    """SELECT o_custkey, COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) = 0 AS all_ok
       FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 100""",
)
def a2(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf)
        .groupBy("o_custkey")
        .agg((F.count(F.when(F.col("o_orderstatus") == "F", 1)) == 0).alias("all_ok"))
        .orderBy("o_custkey")
        .limit(100)
    )


@_register(
    "a3_group_collect_extrema",
    "Group-then-collect errors (portable proxy: group extrema + count) "
    "(reference geostore/step_function.py:144-163).",
    """SELECT l_orderkey, MIN(l_linenumber) AS first_line, MAX(l_linenumber) AS last_line,
              COUNT(*) AS n_lines
       FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 100""",
)
def a3(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "lineitem", sf)
        .groupBy("l_orderkey")
        .agg(
            F.min("l_linenumber").alias("first_line"),
            F.max("l_linenumber").alias("last_line"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_orderkey")
        .limit(100)
    )


@_register(
    "a4_minmax_summary",
    "Min/max summary ranges — linz:asset_summaries created/updated "
    "(reference geostore/stac_format.py:15,18,40).",
    """SELECT l_orderkey, MIN(l_shipdate) AS created_min, MAX(l_shipdate) AS updated_max
       FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 100""",
)
def a4(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "lineitem", sf)
        .groupBy("l_orderkey")
        .agg(
            F.min("l_shipdate").alias("created_min"),
            F.max("l_shipdate").alias("updated_max"),
        )
        .orderBy("l_orderkey")
        .limit(100)
    )


@_register(
    "a5_status_rollup",
    "Failure-count status rollup / TPC-H-Q1-shaped aggregate "
    "(reference geostore/step_function.py:178-188). Flagship query.",
    """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
              AVG(l_extendedprice) AS avg_price, COUNT(*) AS n
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
)
def a5(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "lineitem", sf)
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "a6_distinct_set",
    "Distinct-traversal set — traversed_urls dedup "
    "(reference geostore/check_stac_metadata/utils.py:92,256-258).",
    "SELECT COUNT(DISTINCT l_partkey) AS n_parts FROM lineitem",
)
def a6(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, "lineitem", sf).agg(
        F.count_distinct(F.col("l_partkey")).alias("n_parts")
    )


# ---------------------------------------------------------------------------
# §2.5 Window functions
# ---------------------------------------------------------------------------


@_register(
    "w1_enumeration",
    "Sequential enumeration in partition order — asset range keys from "
    "enumerate() (reference geostore/check_stac_metadata/utils.py:165-189).",
    """SELECT l_orderkey, l_linenumber,
              ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                 ORDER BY l_extendedprice DESC, l_linenumber) AS price_rank
       FROM lineitem WHERE l_orderkey <= 100 ORDER BY l_orderkey, price_rank""",
)
def w1(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    return (
        load_table(spark, "lineitem", sf)
        .filter(F.col("l_orderkey") <= 100)
        .select("l_orderkey", "l_linenumber", F.row_number().over(w).alias("price_rank"))
        .orderBy("l_orderkey", "price_rank")
    )


@_register(
    "w2_max_by",
    "Latest-version pick — semver sort-take-first as max_by "
    "(reference geostore/check_stac_metadata/stac_validators.py:37-44).",
    """SELECT c_nationkey, MAX_BY(c_name, c_acctbal) AS richest
       FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
)
def w2(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "customer", sf)
        .groupBy("c_nationkey")
        .agg(F.max_by("c_name", "c_acctbal").alias("richest"))
        .orderBy("c_nationkey")
    )


@_register(
    "w3_batch_windows",
    "Batch offset windows — content_iterator 10k-item windows "
    "(reference geostore/content_iterator/task.py:48-85).",
    """SELECT CAST(FLOOR((l_orderkey-1)/1000) AS INT) AS bucket, COUNT(*) AS n
       FROM lineitem GROUP BY bucket ORDER BY bucket""",
)
def w3(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "lineitem", sf)
        .select(F.floor((F.col("l_orderkey") - 1) / 1000).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# §2.6 Sorts / limits / set ops
# ---------------------------------------------------------------------------


@_register(
    "o1_limit_probe",
    "Limit-1 existence probe (reference geostore/validation_summary/"
    "task.py:48, datasets/delete.py:54-58). Catalyst plans CollectLimit — "
    "no full sort materialization.",
    """SELECT o_orderkey FROM orders WHERE o_totalprice > 500000
       ORDER BY o_orderkey LIMIT 1""",
)
def o1(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf)
        .filter(F.col("o_totalprice") > 500000)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(1)
    )


@_register(
    "o2_topk",
    "Ordered top-k — reverse semver sort take-head "
    "(reference geostore/check_stac_metadata/stac_validators.py:44). "
    "Catalyst plans TakeOrderedAndProject (per-partition heap, no full sort).",
    """SELECT p_partkey, p_retailprice FROM part
       ORDER BY p_retailprice DESC, p_partkey LIMIT 10""",
)
def o2(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "part", sf)
        .select("p_partkey", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc(), "p_partkey")
        .limit(10)
    )


@_register(
    "o3_set_difference",
    "Set difference — self-link removal / EXCEPT "
    "(reference geostore/import_metadata_file/task.py:66-67).",
    """SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders
       ORDER BY c_custkey LIMIT 100""",
)
def o3(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, "customer", sf).select("c_custkey")
    orders = load_table(spark, "orders", sf).select("o_custkey")
    return customer.subtract(orders).orderBy("c_custkey").limit(100)


@_register(
    "o4_union_discriminator",
    "Union of asset groups with discriminator column "
    "(reference geostore/processing_assets_model.py:14-17).",
    """SELECT 'cust' AS kind, c_custkey AS k FROM customer
       UNION ALL SELECT 'supp', s_suppkey FROM supplier
       ORDER BY kind, k LIMIT 200""",
)
def o4(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, "customer", sf).select(
        F.lit("cust").alias("kind"), F.col("c_custkey").alias("k")
    )
    supp = load_table(spark, "supplier", sf).select(
        F.lit("supp").alias("kind"), F.col("s_suppkey").alias("k")
    )
    return cust.unionAll(supp).orderBy("kind", "k").limit(200)


@_register(
    "o5_intersect",
    "INTERSECT set op — keys present in both inputs (the dual of O3's "
    "EXCEPT). Compiles to a LeftSemi over pre-aggregated distinct sides; "
    "at scale both sides shuffle once on the key.",
    """SELECT c_custkey AS k FROM customer
       INTERSECT SELECT o_custkey FROM orders
       ORDER BY k LIMIT 100""",
)
def o5(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, "customer", sf).select(F.col("c_custkey").alias("k"))
    ords = load_table(spark, "orders", sf).select(F.col("o_custkey").alias("k"))
    return cust.intersect(ords).orderBy("k").limit(100)


# ---------------------------------------------------------------------------
# §2.7 Scalar functions
# ---------------------------------------------------------------------------


@_register(
    "f1_key_decompose",
    "Key decomposition — sk split into check/url "
    "(reference geostore/step_function.py:153, datasets_model.py:68-70).",
    """SELECT regexp_extract(o_orderpriority, '^([0-9]+)-', 1) AS prio_num, COUNT(*) AS n
       FROM orders GROUP BY prio_num ORDER BY prio_num""",
)
def f1(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf)
        .select(F.regexp_extract("o_orderpriority", "^([0-9]+)-", 1).alias("prio_num"))
        .groupBy("prio_num")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prio_num")
    )


@_register(
    "f2_basename",
    "basename from URL (reference geostore/check_stac_metadata/"
    "utils.py:60-67,174,187).",
    """SELECT regexp_extract(source, '([^/]+)$', 1) AS base, COUNT(*) AS n
       FROM documents GROUP BY base ORDER BY base LIMIT 50""",
)
def f2(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "documents", sf)
        .select(F.regexp_extract("source", "([^/]+)$", 1).alias("base"))
        .groupBy("base")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("base")
        .limit(50)
    )


@_register(
    "f3_url_parse",
    "URL parse into bucket/key (reference geostore/s3_utils.py:19-21).",
    """SELECT regexp_extract('s3://bucket/a/b.json', '^s3://([^/]+)', 1) AS bucket,
              regexp_extract('s3://bucket/a/b.json', '^s3://[^/]+/(.*)$', 1) AS key""",
)
def f3(spark: SparkSession, sf: str) -> DataFrame:
    url = F.lit("s3://bucket/a/b.json")
    return spark.range(1).select(
        F.regexp_extract(url, "^s3://([^/]+)", 1).alias("bucket"),
        F.regexp_extract(url, "^s3://[^/]+/(.*)$", 1).alias("key"),
    )


@_register(
    "f4_key_format",
    "String concat/format of composite keys — DATASET#id#VERSION#ver "
    "(reference geostore/step_function.py:191-194).",
    """SELECT concat_ws('#','DATASET', CAST(o_orderkey AS STRING),'VERSION', o_orderstatus) AS hk
       FROM orders ORDER BY o_orderkey LIMIT 20""",
)
def f4(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf)
        .orderBy("o_orderkey")
        .limit(20)
        .select(
            F.concat_ws(
                "#",
                F.lit("DATASET"),
                F.col("o_orderkey").cast("string"),
                F.lit("VERSION"),
                F.col("o_orderstatus"),
            ).alias("hk")
        )
    )


@_register(
    "f5_timestamp_parts",
    "Timestamp format/parse — ULID datetime formatting "
    "(reference geostore/datasets_model.py:18-28).",
    """SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, COUNT(*) AS n
       FROM orders GROUP BY y, m ORDER BY y, m""",
)
def f5(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf)
        .select(F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m"))
        .groupBy("y", "m")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("y", "m")
    )


@_register(
    "f6_hex_digest",
    "Hex digest casing — multihash hex handling "
    "(reference geostore/check_files_checksums/utils.py:92,110,123).",
    "SELECT upper(md5(r_name)) AS h FROM region ORDER BY r_regionkey",
)
def f6(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "region", sf)
        .orderBy("r_regionkey")
        .select(F.upper(F.md5(F.col("r_name").cast("binary"))).alias("h"))
    )


@_register(
    "f7_hashing",
    "Content hashing — multihash digest family "
    "(reference geostore/check_files_checksums/utils.py:27-31).",
    "SELECT p_partkey, md5(p_name) AS h FROM part ORDER BY p_partkey LIMIT 100",
)
def f7(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "part", sf)
        .select("p_partkey", F.md5(F.col("p_name").cast("binary")).alias("h"))
        .orderBy("p_partkey")
        .limit(100)
    )


@_register(
    "f8_json_field",
    "JSON field decode — event payload loads "
    "(reference geostore/import_dataset/task.py:153-159).",
    """SELECT regexp_extract(props, '"device": *"([a-z]+)"', 1) AS device,
              ROUND(AVG(value), 6) AS avg_v
       FROM events GROUP BY device ORDER BY device""",
)
def f8(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "events", sf)
        .select(
            F.regexp_extract("props", '"device": *"([a-z]+)"', 1).alias("device"),
            "value",
        )
        .groupBy("device")
        .agg(F.round(F.avg("value"), 6).alias("avg_v"))
        .orderBy("device")
    )


@_register(
    "f9_href_rewrite",
    "href → basename rewrite across links/assets "
    "(reference geostore/import_metadata_file/task.py:61-73).",
    """SELECT regexp_replace(source, '^.*/', '') AS href_basename, COUNT(*) AS n
       FROM documents GROUP BY href_basename ORDER BY href_basename LIMIT 50""",
)
def f9(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "documents", sf)
        .select(F.regexp_replace("source", "^.*/", "").alias("href_basename"))
        .groupBy("href_basename")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("href_basename")
        .limit(50)
    )


@_register(
    "f10_truncate",
    "Truncation to char limit — Slack 3000-char body "
    "(reference geostore/notify_status_update/task.py:137-141).",
    """SELECT substring(text, 1, 40) AS head, n_chars FROM documents
       ORDER BY doc_id LIMIT 20""",
)
def f10(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, "documents", sf)
        .orderBy("doc_id")
        .limit(20)
        .select(F.substring("text", 1, 40).alias("head"), "n_chars")
    )


@_register(
    "f11_title_case",
    "Status-string title-case — status.title() "
    "(reference geostore/step_function.py:122).",
    """SELECT upper(substring(o_orderstatus,1,1)) || lower(substring(o_orderstatus,2)) AS s,
              COUNT(*) AS n
       FROM orders GROUP BY s ORDER BY s""",
)
def f11(spark: SparkSession, sf: str) -> DataFrame:
    status = F.col("o_orderstatus")
    title_cased = F.concat(
        F.upper(F.substring(status, 1, 1)),
        F.lower(status.substr(F.lit(2), F.length(status))),
    )
    return (
        load_table(spark, "orders", sf)
        .select(title_cased.alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("s")
    )


# ---------------------------------------------------------------------------
# §2.4 extensions — free in Spark, absent in the reference (SURVEY §2.4:
# "No grouping-sets/cube/rollup, no approximate aggregates in the reference;
# they come free in Spark and are exposed by the engine")
# ---------------------------------------------------------------------------


@_register(
    "a7_grouping_sets",
    "Multi-level rollup in one pass — GROUPING SETS ((flag,status),(flag),()) "
    "over lineitem; one scan feeds every level (extension; no reference op).",
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
              COALESCE(l_linestatus, 'ALL') AS status,
              COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
       ORDER BY flag, status""",
)
def a7(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf)
    li.createOrReplaceTempView("_a7_lineitem")
    return spark.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
                  COALESCE(l_linestatus, 'ALL') AS status,
                  COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
           FROM _a7_lineitem
           GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
           ORDER BY flag, status"""
    )


@_register(
    "a8_approx_distinct",
    "Approximate distinct counting (HyperLogLog) per group — the sketch "
    "aggregate for 100 TB cardinality work. Engines use different HLL "
    "variants so the raw estimates differ from DuckDB's; instead the plan "
    "emits the exact distinct count plus a Spark-side 3-sigma bound check "
    "on its own HLL estimate (rsd=0.02), and the oracle reproduces the "
    "exact side asserting TRUE — an out-of-bounds sketch becomes a real "
    "hash mismatch rather than a permanent rows-only row.",
    """SELECT l_returnflag,
              COUNT(DISTINCT l_partkey) AS exact_parts,
              TRUE AS within_3sigma
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def a8(spark: SparkSession, sf: str) -> DataFrame:
    # The HLL and the exact side run as SEPARATE aggregates joined on the
    # 3-row group table: mixing countDistinct with another aggregate in
    # one agg() makes Catalyst plan an Expand (2x the scan) and carry the
    # rsd=0.02 HLL buffer (~4 KB) through the per-(flag, partkey) partial
    # groups — gigabytes of aggregation state at sf1+, measured 12-27 s
    # with GC thrash. Split, the HLL keeps map-side sketch-mergeable
    # partials with exactly 3 buffers, and the exact side is a two-phase
    # distinct (map-side dedup on (flag, partkey), then a count) — two
    # cheap shuffles instead of one pathological one.
    li = load_table(spark, "lineitem", sf).select("l_returnflag", "l_partkey")
    hll = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts")
    )
    exact = (
        li.distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    return (
        exact.join(F.broadcast(hll), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 3 * 0.02 * F.col("exact_parts")
            ).alias("within_3sigma"),
        )
        .orderBy("l_returnflag")
    )


# Local-kernel dispatch threshold for a9_quantiles, on the ORDERS
# parquet-metadata row count (the rfm pattern, analytics.py). Below it
# the quantile SELECTION runs as ONE numpy task: the scan stays
# parallel, a 1-partition exchange funnels the (status, price) pairs,
# and a per-group np.sort picks the six cut rows — collapsing the
# distributed plan's ~5 fixed stage floors (range exchange, local
# window, offset broadcast, target join, final agg) for a 6-row
# answer. Above it the two-phase distributed rank keeps parallelism
# ∝ data. MEASURED crossover (tier-vs-tier interleaved medians, 5
# reps each, this host): local wins 0.43 vs 1.16 s at 150 k orders
# and 1.59 vs 2.69 s at 1.5 M; the distributed rank wins 4.31 vs
# 5.41 s at 4.5 M and 8.19 vs 18.2 s at 15 M — the crossover sits
# between 1.5 M and 4.5 M, so 3 M is the cut. Tiers are bit-identical
# (same integer cut positions, same lo + frac*(hi-lo) float
# interpolation, rounding applied Spark-side in both): pinned by
# tests/test_plans.py::test_a9_tiers_agree.
A9_LOCAL_THRESHOLD = 3_000_000


def _a9_local(q: DataFrame) -> DataFrame:
    import numpy as np
    import pandas as pd

    def run(batches):
        frames = [p for p in batches if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        out = []
        for status, grp in pdf.groupby("o_orderstatus", sort=False):
            vals = np.sort(grp["o_totalprice"].to_numpy(np.float64))
            n = len(vals)
            row = [status]
            for k in (1, 2, 3):
                t = k * (n - 1)
                lo = t // 4
                frac = (t % 4) / 4.0
                v_lo = vals[lo]
                v_hi = vals[lo + 1] if lo + 1 < n else v_lo
                row.append(v_lo + frac * (v_hi - v_lo))
            out.append(row)
        yield pd.DataFrame(
            out, columns=["o_orderstatus", "_q25", "_q50", "_q75"]
        )

    raw = q.repartition(1).mapInPandas(
        run, "o_orderstatus string, _q25 double, _q50 double, _q75 double"
    )
    return raw.select(
        "o_orderstatus",
        *(F.round(F.col(f"_q{p}"), 4).alias(f"q{p}") for p in (25, 50, 75)),
    ).orderBy("o_orderstatus")


@_register(
    "a9_quantiles",
    "Exact continuous quantiles per group (percentile ≡ DuckDB "
    "quantile_cont, both linear-interpolating) — the distribution-summary "
    "aggregate (extension; no reference op). Two-level dispatch on the "
    "parquet-metadata row count: one vectorized sort-selection task "
    "below the measured break-even, the two-phase distributed rank "
    "above it; tiers bit-identical.",
    """SELECT o_orderstatus,
              ROUND(quantile_cont(o_totalprice, 0.25), 4) AS q25,
              ROUND(quantile_cont(o_totalprice, 0.50), 4) AS q50,
              ROUND(quantile_cont(o_totalprice, 0.75), 4) AS q75
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
)
def a9(spark: SparkSession, sf: str) -> DataFrame:
    # Exact quantiles as a distributed order-statistic SELECTION, not
    # Spark's `percentile` map aggregate: that aggregate carries a
    # value->count OpenHashMap through every partial-agg buffer, and
    # with near-unique o_totalprice the maps are ~|group| entries each
    # — measured 30 s at sf1 (DuckDB 0.19 s) and O(data) aggregation
    # state at 100 TB. Instead: two-phase distributed rank (range
    # shuffle + local window + broadcast prefix offsets, parallelism
    # ∝ data), integer-exact cut positions pos = 1 + q(n-1) with
    # q = k/4 kept as (quotient, remainder) of k(n-1) DIV 4 — no
    # doubles until the final interpolation, which uses the same
    # lo + frac*(hi - lo) formula as DuckDB's quantile_cont. Only the
    # <= 6 rows sitting AT a cut position survive the rank filter, so
    # the final aggregate is constant-size per group.
    from geostore_spark.operators.dedup import _count_rows_cheap
    from geostore_spark.operators.util import choose_tier, distributed_row_number

    o = load_table(spark, "orders", sf).select("o_orderstatus", "o_totalprice")
    n_orders = _count_rows_cheap(o)
    tiers = [("local_kernel", A9_LOCAL_THRESHOLD), ("distributed_rank", None)]
    if choose_tier("a9_quantiles", tiers, n_orders=n_orders) == "local_kernel":
        return _a9_local(o)
    ranked, counts = distributed_row_number(
        o, ["o_orderstatus"], ["o_totalprice"], "rn",
        row_count=n_orders,
    )
    targets = counts.select("o_orderstatus", *(
        c
        for k, q in ((1, "25"), (2, "50"), (3, "75"))
        for c in (
            (F.lit(1) + F.expr(f"({k} * (_n - 1)) DIV 4")).alias(f"lo{q}"),
            (F.expr(f"({k} * (_n - 1)) % 4") / F.lit(4.0)).alias(f"frac{q}"),
        )
    ))
    hits = ranked.join(F.broadcast(targets), "o_orderstatus").filter(
        (F.col("rn") == F.col("lo25")) | (F.col("rn") == F.col("lo25") + 1)
        | (F.col("rn") == F.col("lo50")) | (F.col("rn") == F.col("lo50") + 1)
        | (F.col("rn") == F.col("lo75")) | (F.col("rn") == F.col("lo75") + 1)
    )

    def _cut(q: str):
        v_lo = F.max(
            F.when(F.col("rn") == F.col(f"lo{q}"), F.col("o_totalprice"))
        )
        v_hi = F.max(
            F.when(F.col("rn") == F.col(f"lo{q}") + 1, F.col("o_totalprice"))
        )
        frac = F.max(F.col(f"frac{q}"))
        # frac = 0 -> pure lo row (coalesce guards the absent hi row at
        # the top of the range, where lo = n and lo + 1 never matches)
        return F.round(
            v_lo + frac * (F.coalesce(v_hi, v_lo) - v_lo), 4
        ).alias(f"q{q}")

    return (
        hits.groupBy("o_orderstatus")
        .agg(_cut("25"), _cut("50"), _cut("75"))
        .orderBy("o_orderstatus")
    )


@_register(
    "a10_pivot_crosstab",
    "PIVOT / crosstab — order counts by priority with status pivoted to "
    "columns (the reporting-layer reshape). Spark's pivot compiles to "
    "one partially-aggregated shuffle with a CASE-per-column projection "
    "— identical to the portable conditional-aggregation SQL, so there "
    "is no second pass per pivoted column.",
    """SELECT o_orderpriority,
              CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_f,
              CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_o,
              CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_p
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
)
def a10(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


@_register(
    "o6_except_all",
    "EXCEPT ALL set op — bag difference preserving multiplicity (O3's "
    "EXCEPT collapses duplicates; reconciliation diffs need the bag "
    "form). Compiles to a count-annotated anti-semantics join; one "
    "keyed shuffle per side.",
    """SELECT l_suppkey AS k FROM lineitem WHERE l_linenumber <= 2
       EXCEPT ALL SELECT l_suppkey FROM lineitem WHERE l_linenumber = 1
       ORDER BY k LIMIT 100""",
)
def o6(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf)
    a = li.filter(F.col("l_linenumber") <= 2).select(F.col("l_suppkey").alias("k"))
    b = li.filter(F.col("l_linenumber") == 1).select(F.col("l_suppkey").alias("k"))
    return a.exceptAll(b).orderBy("k").limit(100)


@_register(
    "x_join_full_outer",
    "FULL OUTER reconciliation join — the audit shape that finds BOTH "
    "sides' orphans in one pass (customers who order but never appear "
    "in the event stream, event users with no purchase history, and "
    "the matched middle). One co-partitioned shuffle per side on the "
    "join key; the COALESCE key recovery and null-flag classification "
    "are per-row expressions. At scale this replaces two anti-joins + "
    "an inner join (three shuffles) with one.",
    """WITH o AS (
         SELECT o_custkey AS k, COUNT(*) AS n_orders FROM orders
         GROUP BY o_custkey
       ),
       e AS (
         SELECT user_id AS k, COUNT(*) AS n_events FROM events
         GROUP BY user_id
       )
       SELECT COALESCE(o.k, e.k) AS k,
              COALESCE(o.n_orders, 0) AS n_orders,
              COALESCE(e.n_events, 0) AS n_events,
              CASE WHEN o.k IS NULL THEN 'events_only'
                   WHEN e.k IS NULL THEN 'orders_only'
                   ELSE 'both' END AS side
       FROM o FULL OUTER JOIN e ON o.k = e.k
       ORDER BY k LIMIT 300""",
)
def x_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    events = load_table(spark, "events", sf)
    o = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    e = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    oa, ea = o.alias("o"), e.alias("e")
    side = (
        F.when(F.col("o.k").isNull(), F.lit("events_only"))
        .when(F.col("e.k").isNull(), F.lit("orders_only"))
        .otherwise(F.lit("both"))
    )
    return (
        oa.join(ea, F.col("o.k") == F.col("e.k"), "full_outer")
        .select(
            F.coalesce(F.col("o.k"), F.col("e.k")).alias("k"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            side.alias("side"),
        )
        .orderBy("k")
        .limit(300)
    )


@_register(
    "x_unpivot_melt",
    "UNPIVOT/melt — wide part attributes to long (attribute, value) "
    "rows, the dual of a10's PIVOT and the reshape every "
    "feature-store export runs. Spark's stack() expression expands "
    "per-row with zero shuffle; the only exchange is the final "
    "per-attribute rollup.",
    """WITH m AS (
         SELECT p_partkey, 'retail_cents' AS attr,
                CAST(round(p_retailprice * 100) AS BIGINT) AS val
         FROM part
         UNION ALL
         SELECT p_partkey, 'size', CAST(p_size AS BIGINT) FROM part
       )
       SELECT attr, COUNT(*) AS n,
              MIN(val) AS min_val, MAX(val) AS max_val,
              CAST(SUM(val) AS BIGINT) AS sum_val
       FROM m GROUP BY attr ORDER BY attr""",
)
def x_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, "part", sf)
    m = part.selectExpr(
        "p_partkey",
        "stack(2, 'retail_cents', cast(round(p_retailprice * 100) as bigint),"
        " 'size', cast(p_size as bigint)) as (attr, val)",
    )
    return (
        m.groupBy("attr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.sum("val").cast("bigint").alias("sum_val"),
        )
        .orderBy("attr")
    )


@_register(
    "x_posexplode_ordinality",
    "Ordered UDTF expansion — posexplode with ordinality over the "
    "embedding arrays (the WITH ORDINALITY lateral join of ANSI SQL): "
    "element position survives the expansion, so downstream joins can "
    "reference 'dimension 3 of vector 7'. Zero-shuffle Generate node "
    "fused into the scan stage; the rollup keyed on position is the "
    "only exchange.",
    """WITH x AS (
         SELECT vec_id, t.i - 1 AS pos,
                CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS q
         FROM embeddings
              CROSS JOIN (SELECT unnest(range(1, 9)) AS i) t
       )
       SELECT pos, COUNT(*) AS n,
              CAST(SUM(q) AS BIGINT) AS sum_q,
              MIN(q) AS min_q, MAX(q) AS max_q
       FROM x GROUP BY pos ORDER BY pos""",
)
def x_posexplode(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf)
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).filter(F.col("pos") < 8)
    return (
        x.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("x").cast("double") * 1000, 0).cast("bigint"))
            .cast("bigint")
            .alias("sum_q"),
            F.min(F.round(F.col("x").cast("double") * 1000, 0).cast("bigint")).alias(
                "min_q"
            ),
            F.max(F.round(F.col("x").cast("double") * 1000, 0).cast("bigint")).alias(
                "max_q"
            ),
        )
        .orderBy("pos")
    )


@_register(
    "x_q6_discount_revenue",
    "TPC-H Q6-shaped forecast: revenue delta from discount changes — "
    "three tight range predicates + one SUM, the canonical "
    "predicate-pushdown showcase (all three filters reach the parquet "
    "scan as PushedFilters; row groups outside the shipdate year are "
    "never decompressed). The sum is exact decimal; one "
    "partially-aggregated reduce to a single row.",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              ROUND(CAST(SUM(CAST(l_extendedprice * l_discount
                                  AS DECIMAL(28, 6))) AS DOUBLE), 4) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
)
def x_q6(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf)
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(28,6)"
                    )
                ).cast("double"),
                4,
            ).alias("revenue"),
        )
    )


@_register(
    "x_shipping_lag",
    "Order-to-ship lag distribution per priority — the operational "
    "SLA rollup (does priority actually predict shipping speed?). "
    "The orders x lineitem join is the big-big shape left to AQE "
    "(sort-merge + skew split); lag buckets are per-row integer "
    "day-diffs; the rollup partially aggregates on ≤5 x 6 keys.",
    """WITH j AS (
         SELECT o.o_orderpriority AS prio,
                date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       ),
       b AS (
         SELECT prio,
                CASE WHEN lag_days < 0 THEN 'pre'
                     WHEN lag_days <= 7 THEN 'w1'
                     WHEN lag_days <= 30 THEN 'm1'
                     WHEN lag_days <= 90 THEN 'q1'
                     ELSE 'late' END AS bucket,
                lag_days
         FROM j
       )
       SELECT prio, bucket, COUNT(*) AS n,
              CAST(MIN(lag_days) AS BIGINT) AS min_lag,
              CAST(MAX(lag_days) AS BIGINT) AS max_lag,
              CAST(SUM(lag_days) AS BIGINT) AS sum_lag
       FROM b GROUP BY prio, bucket ORDER BY prio, bucket""",
)
def x_shipping_lag(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    li = load_table(spark, "lineitem", sf)
    j = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "lag_days"
        ),
    )
    bucket = (
        F.when(F.col("lag_days") < 0, "pre")
        .when(F.col("lag_days") <= 7, "w1")
        .when(F.col("lag_days") <= 30, "m1")
        .when(F.col("lag_days") <= 90, "q1")
        .otherwise("late")
    )
    return (
        j.select("prio", bucket.alias("bucket"), "lag_days")
        .groupBy("prio", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lag_days").cast("bigint").alias("min_lag"),
            F.max("lag_days").cast("bigint").alias("max_lag"),
            F.sum("lag_days").cast("bigint").alias("sum_lag"),
        )
        .orderBy("prio", "bucket")
    )


@_register(
    "j10_null_safe_join",
    "Null-safe equi-join semantics (IS NOT DISTINCT FROM / <=>): NULL "
    "keys match each other instead of silently dropping — the join "
    "contract reconciliation and CDF-style whole-row comparisons need "
    "(a plain equality join loses every NULL-keyed row on both sides). "
    "Keys synthesize NULLs deterministically from event ids; the join "
    "itself stays a hash join because null-safe equality is still an "
    "equi-predicate to Catalyst.",
    """WITH l AS (
         SELECT CASE WHEN event_id % 10 = 0 THEN NULL
                     ELSE user_id % 100 END AS k,
                COUNT(*) AS n_left
         FROM events WHERE event_type = 'click' GROUP BY k
       ),
       r AS (
         SELECT CASE WHEN event_id % 10 = 0 THEN NULL
                     ELSE user_id % 100 END AS k,
                COUNT(*) AS n_right
         FROM events WHERE event_type = 'purchase' GROUP BY k
       )
       SELECT l.k AS k, l.n_left, r.n_right
       FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
       ORDER BY k NULLS FIRST""",
)
def j10(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, "events", sf)
    key = F.when(F.col("event_id") % 10 == 0, F.lit(None)).otherwise(
        F.col("user_id") % 100
    )
    left = (
        ev.filter(F.col("event_type") == "click")
        .select(key.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_left"))
        .alias("l")
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .select(key.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_right"))
        .alias("r")
    )
    return (
        left.join(right, F.col("l.k").eqNullSafe(F.col("r.k")))
        .select(F.col("l.k").alias("k"), "n_left", "n_right")
        .orderBy(F.col("k").asc_nulls_first())
    )
