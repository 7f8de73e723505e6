"""Statistical profiling operators — distribution-level data quality.

Z-score outlier profiling and equi-width histograms are the standard
first-pass checks a training-data pipeline runs over numeric telemetry
(the reference validates *structure* via JSON Schema —
geostore/check_stac_metadata/utils.py — but has no numeric profiling).

Cross-engine exactness: every aggregate feeding a float expression is an
exact decimal or integer sum (associative, so partial aggregation and
shuffle order cannot change it); the float math (mean, std, z, bucket
width) happens per-row on those exact inputs, where IEEE doubles are
bit-identical across engines. Group stats join back via broadcast — a
handful of rows against the full fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geostore_spark.registry import register
from geostore_spark.sources.tables import load_table
from geostore_spark.operators.util import (
    choose_tier,
    limb_sum_aggs,
    limb_total_expr,
    pin_branch_point,
    quantize,
)

N_BUCKETS = 20


@register(
    "x_stats_zscore",
    "Per-group z-score outlier profile over events.value: mean/std from "
    "exact decimal sums, |z|>3 outlier counts, z extrema. Two map-side "
    "partial aggregations + one broadcast join of 5 group rows back onto "
    "the fact side.",
    """WITH g AS (
         SELECT event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
                CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS s2
         FROM events GROUP BY event_type
       ),
       m AS (
         SELECT event_type, n, s1 / n AS mean,
                sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS std
         FROM g
       )
       SELECT e.event_type, m.n, m.mean, m.std,
              CAST(SUM(CASE WHEN abs((e.value - m.mean) / nullif(m.std, 0)) > 3
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
              MIN((e.value - m.mean) / nullif(m.std, 0)) AS z_min,
              MAX((e.value - m.mean) / nullif(m.std, 0)) AS z_max
       FROM events e JOIN m USING (event_type)
       GROUP BY e.event_type, m.n, m.mean, m.std
       ORDER BY e.event_type""",
)
def stats_zscore(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, "events", sf)
    # events.value carries exactly 2 decimals, so CAST(value AS
    # DECIMAL(28,6)) == cents/100 and CAST(value*value AS DECIMAL(28,6))
    # == tenth-milli-units/10^4 exactly (the double product sits within
    # 1e-10 of the 4-decimal rational, far inside the 5e-7 rounding
    # window). Both accumulate on the codegen long fast path — cents as
    # a plain BIGINT sum, the square split-limb for headroom — instead
    # of per-value BigDecimal buffers (cov_matrix/gini lever); the
    # exact totals reassemble in DECIMAL on the 5 group rows, and the
    # decimal division keeps the double cast a single rounding of the
    # exact rational (bit-equal to the oracle's decimal-sum cast).
    q = ev.selectExpr(
        "event_type",
        "cast(floor(value * 100 + 0.5) as bigint) as c1",
        "cast(floor(value * value * 10000 + 0.5) as bigint) as c2",
    )
    g = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c1").alias("sc1"),
        *limb_sum_aggs("c2", "2"),
    ).selectExpr(
        "event_type",
        "n",
        "cast(cast(sc1 as decimal(38,0)) / 100 as double) as s1",
        limb_total_expr("2", "sq"),
    ).selectExpr(
        "event_type",
        "n",
        "s1",
        "cast(sq / 10000 as double) as s2",
    )
    mean = F.col("s1") / F.col("n")
    std = F.sqrt(F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0)))
    m = g.select("event_type", "n", mean.alias("mean"), std.alias("std"))
    z = (F.col("value") - F.col("mean")) / F.nullif(F.col("std"), F.lit(0.0))
    return (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n", "mean", "std")
        .agg(
            F.sum(F.when(F.abs(z) > 3, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.min(z).alias("z_min"),
            F.max(z).alias("z_max"),
        )
        .orderBy("event_type")
    )


@register(
    "x_stats_histogram",
    "Equi-width histogram (20 buckets) of lineitem.l_extendedprice: "
    "min/max bounds broadcast as a 1-row dimension, bucket index is a "
    "per-row floor on exact inputs, counts are one partially-aggregated "
    "shuffle of at most 20 keys per partition.",
    f"""WITH b AS (
         SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
         FROM lineitem
       )
       SELECT least(CAST(floor((l_extendedprice - mn)
                                / nullif((mx - mn) / {N_BUCKETS}, 0)) AS BIGINT),
                    {N_BUCKETS - 1}) AS bucket,
              COUNT(*) AS cnt,
              mn + least(CAST(floor((l_extendedprice - mn)
                                     / nullif((mx - mn) / {N_BUCKETS}, 0)) AS BIGINT),
                         {N_BUCKETS - 1}) * (mx - mn) / {N_BUCKETS} AS bucket_lo
       FROM lineitem CROSS JOIN b
       GROUP BY bucket, bucket_lo
       ORDER BY bucket""",
)
def stats_histogram(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf)
    bounds = li.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    width = F.nullif((F.col("mx") - F.col("mn")) / N_BUCKETS, F.lit(0.0))
    bucket = F.least(
        F.floor((F.col("l_extendedprice") - F.col("mn")) / width).cast("bigint"),
        F.lit(N_BUCKETS - 1),
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            bucket.alias("bucket"),
            (
                F.col("mn")
                + bucket * (F.col("mx") - F.col("mn")) / N_BUCKETS
            ).alias("bucket_lo"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("bucket", "cnt", "bucket_lo")
        .orderBy("bucket")
    )


# -- integer-exact correlation / regression profiling -----------------------

CORR_SCALE = 1000  # value quantization for exact integer moments


@register(
    "x_stats_corr",
    "Pearson correlation + OLS slope of events.value against hour-of-day "
    "per event_type, from integer-exact second moments: value quantizes "
    "to round(v*1000), all six sums (n, Sx, Sy, Sxx, Syy, Sxy) aggregate "
    "as exact BIGINTs (associative — shuffle order can't change them), "
    "and the float r/beta math happens per group row on those exact "
    "inputs. One map-side-partial shuffle; no second pass over the data "
    "(vs the naive mean-then-residual two-pass formulation).",
    f"""WITH q AS (
         SELECT event_type,
                CAST(round(value * {CORR_SCALE}) AS BIGINT) AS x,
                CAST(hour(ts) AS BIGINT) AS y
         FROM events
       ),
       s AS (
         SELECT event_type, COUNT(*) AS n,
                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
                CAST(SUM(x*y) AS BIGINT) AS sxy
         FROM q GROUP BY event_type
       )
       SELECT event_type, n,
              (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                / (sqrt(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
                   * sqrt(CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)) AS r,
              (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                / (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy) AS beta_vs_hour
       FROM s ORDER BY event_type""",
)
def stats_corr(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, "events", sf)
    x = quantize(F.col("value"), CORR_SCALE)
    y = F.hour("ts").cast("bigint")
    q = ev.select("event_type", x.alias("x"), y.alias("y"))
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov_n = n_d * F.col("sxy") - sx_d * F.col("sy")
    var_x = n_d * F.col("sxx") - sx_d * F.col("sx")
    var_y = n_d * F.col("syy") - sy_d * F.col("sy")
    return (
        s.select(
            "event_type",
            "n",
            (cov_n / (F.sqrt(var_x) * F.sqrt(var_y))).alias("r"),
            (cov_n / var_y).alias("beta_vs_hour"),
        )
        .orderBy("event_type")
    )


@register(
    "x_stats_profile",
    "One-pass table profile of lineitem — the scan-statistics collection "
    "that feeds cost-based optimization (row count, per-column null "
    "counts, extrema, exact NDVs, exact decimal sum). Multiple exact "
    "COUNT(DISTINCT)s compile to one Expand-based aggregate: a single "
    "shuffle carries all distinct streams, partially aggregated "
    "map-side — not one pass per column.",
    """SELECT COUNT(*) AS n_rows,
              COUNT(*) - COUNT(l_returnflag) AS nulls_returnflag,
              COUNT(DISTINCT l_returnflag) AS ndv_returnflag,
              COUNT(DISTINCT l_linestatus) AS ndv_linestatus,
              COUNT(DISTINCT l_suppkey) AS ndv_suppkey,
              MIN(l_shipdate) AS min_shipdate, MAX(l_shipdate) AS max_shipdate,
              MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(28, 6))) AS DOUBLE)
                AS sum_price
       FROM lineitem""",
)
def stats_profile(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf)
    # the exact price sum accumulates as cents BIGINT limbs riding the
    # same Expand pass as the distincts (price carries exactly 2
    # decimals, so CAST(price AS DECIMAL(28,6)) == cents/100) — plain
    # long adds instead of a per-value BigDecimal buffer
    # (cov_matrix/gini lever); decimal reassembly + division on the one
    # aggregated row keeps the double cast a single rounding.
    q = li.select(
        "l_returnflag",
        "l_linestatus",
        "l_suppkey",
        "l_shipdate",
        "l_quantity",
        F.expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").alias(
            "_cents"
        ),
    )
    return q.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("l_returnflag")).alias("nulls_returnflag"),
        F.count_distinct("l_returnflag").alias("ndv_returnflag"),
        F.count_distinct("l_linestatus").alias("ndv_linestatus"),
        F.count_distinct("l_suppkey").alias("ndv_suppkey"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        *limb_sum_aggs("_cents", "c"),
    ).selectExpr(
        "n_rows",
        "nulls_returnflag",
        "ndv_returnflag",
        "ndv_linestatus",
        "ndv_suppkey",
        "min_shipdate",
        "max_shipdate",
        "min_qty",
        "max_qty",
        f"cast({limb_total_expr('c')} / 100 as double) as sum_price",
    )


# -- winsorization ----------------------------------------------------------


@register(
    "x_stats_winsorize",
    "Per-group winsorization (outlier clamping at exact p05/p95): the "
    "robust-mean preprocessing step quality pipelines run before "
    "aggregating noisy metrics. Exact interpolated percentiles per group "
    "(percentile ≡ DuckDB quantile_cont, parity proven by a9_quantiles) "
    "collapse to a group-count-sized dimension broadcast back onto the "
    "fact side; the clipped sum is an exact decimal, so partial "
    "aggregation stays associative-exact.",
    """WITH q AS (
         SELECT event_type,
                quantile_cont(value, 0.05) AS q05,
                quantile_cont(value, 0.95) AS q95
         FROM events GROUP BY event_type
       ),
       j AS (
         SELECT e.event_type, e.value, q.q05, q.q95,
                LEAST(GREATEST(e.value, q.q05), q.q95) AS clip
         FROM events e JOIN q ON e.event_type = q.event_type
       )
       SELECT event_type, COUNT(*) AS n,
              ROUND(MAX(q05), 4) AS q05, ROUND(MAX(q95), 4) AS q95,
              CAST(SUM(CASE WHEN value < q05 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_low,
              CAST(SUM(CASE WHEN value > q95 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_high,
              ROUND(CAST(SUM(CAST(clip AS DECIMAL(28,6))) AS DOUBLE)
                    / COUNT(*), 4) AS wmean
       FROM j GROUP BY event_type ORDER BY event_type""",
)
def stats_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, "events", sf)
    q = (
        ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.05D, 0.95D))").alias("qs"))
        .select(
            "event_type",
            F.col("qs")[0].alias("q05"),
            F.col("qs")[1].alias("q95"),
        )
    )
    clip = F.least(F.greatest(F.col("value"), F.col("q05")), F.col("q95"))
    # CAST(clip AS DECIMAL(28,6)) accumulated as (integer part, half-up
    # micro-unit fraction) BIGINT pairs instead of per-value BigDecimal
    # buffers (cov_matrix/gini lever): clip - floor(clip) is exact for
    # non-negative doubles (Sterbenz), and floor(f*1e6 + 0.5) is the
    # cast's HALF_UP at the 6th decimal. Caveat (r11 advisor): clip can
    # be a quantile-INTERPOLATED double, so f*1e6 + 0.5 is not exact
    # arithmetic there — a value whose decimal expansion sits within one
    # ulp of a .5 tie at the 6th decimal could in principle round
    # differently from the BigDecimal cast. The equivalence is therefore
    # EMPIRICAL, not proven: verified value-identical vs the DuckDB
    # oracle at every audited SF (0.001/0.01/0.1/1), and the final wmean
    # rounds at 1e-4 while the decomposition differs at most 1e-6.
    return (
        ev.join(F.broadcast(q), "event_type")
        .withColumn("clip", clip)
        .selectExpr(
            "event_type",
            "value",
            "q05",
            "q95",
            "cast(floor(clip) as bigint) as ck",
            "cast(floor((clip - floor(clip)) * 1e6 + 0.5) as bigint) as cf",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("q05"), 4).alias("q05"),
            F.round(F.max("q95"), 4).alias("q95"),
            F.sum((F.col("value") < F.col("q05")).cast("bigint")).alias("n_low"),
            F.sum((F.col("value") > F.col("q95")).cast("bigint")).alias("n_high"),
            F.sum("ck").alias("sck"),
            F.sum("cf").alias("scf"),
        )
        .selectExpr(
            "event_type",
            "n",
            "q05",
            "q95",
            "n_low",
            "n_high",
            "round(cast((cast(sck as decimal(38,0)) * 1000000 + scf)"
            " / 1000000 as double) / n, 4) as wmean",
        )
        .orderBy("event_type")
    )


# -- robust (MAD) outlier detection -----------------------------------------

MAD_K = 1.4826  # normal-consistency constant
MAD_SIGMA = 3.0


@register(
    "x_stats_mad_outliers",
    "Robust outlier detection via median absolute deviation — the "
    "breakdown-resistant complement to x_stats_zscore (one wild value "
    "cannot move the median the way it moves a mean). Two exact-median "
    "passes (percentile ≡ quantile_cont, parity proven by a9_quantiles), "
    "each collapsing to a group-count-sized broadcast dimension; the "
    "fact side shuffles only for its own aggregations.",
    f"""WITH m1 AS (
         SELECT event_type, quantile_cont(value, 0.5) AS med
         FROM events GROUP BY event_type
       ),
       d AS (
         SELECT e.event_type, e.value, m1.med,
                ABS(e.value - m1.med) AS ad
         FROM events e JOIN m1 ON e.event_type = m1.event_type
       ),
       m2 AS (
         SELECT event_type, quantile_cont(ad, 0.5) AS mad
         FROM d GROUP BY event_type
       )
       SELECT d.event_type, COUNT(*) AS n,
              ROUND(MAX(d.med), 4) AS med, ROUND(MAX(m2.mad), 4) AS mad,
              CAST(SUM(CASE WHEN d.ad > {MAD_SIGMA} * {MAD_K} * m2.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       FROM d JOIN m2 ON d.event_type = m2.event_type
       GROUP BY d.event_type ORDER BY d.event_type""",
)
def stats_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, "events", sf)
    m1 = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    d = ev.join(F.broadcast(m1), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    m2 = d.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5D)").alias("mad")
    )
    return (
        d.join(F.broadcast(m2), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 4).alias("med"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                (F.col("ad") > MAD_SIGMA * MAD_K * F.col("mad")).cast("bigint")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# -- chi-squared independence test ------------------------------------------


@register(
    "x_stats_chi2",
    "Chi-squared independence test between event_type and device (the "
    "segmentation-sanity check before trusting a per-segment metric). "
    "Contingency cells, row/column marginals and the total are all "
    "exact-integer aggregates of ONE pass; expected counts and the "
    "statistic are derived per cell from broadcast marginal dimensions, "
    "so the plan is cell-count-sized after the single fact shuffle.",
    """WITH obs AS (
         SELECT event_type,
                regexp_extract(props, '"device": *"([a-z]+)"', 1) AS device,
                COUNT(*) AS o
         FROM events GROUP BY event_type, device
       ),
       rm AS (SELECT event_type, SUM(o) AS rn FROM obs GROUP BY event_type),
       cm AS (SELECT device, SUM(o) AS cn FROM obs GROUP BY device),
       tot AS (SELECT SUM(o) AS n FROM obs)
       SELECT CAST(COUNT(DISTINCT obs.event_type) AS BIGINT) AS n_rows,
              CAST(COUNT(DISTINCT obs.device) AS BIGINT) AS n_cols,
              CAST(MAX(tot.n) AS BIGINT) AS n,
              ROUND(SUM(
                POWER(obs.o - CAST(rm.rn * cm.cn AS DOUBLE) / tot.n, 2)
                / (CAST(rm.rn * cm.cn AS DOUBLE) / tot.n)), 4) AS chi2
       FROM obs JOIN rm ON obs.event_type = rm.event_type
                JOIN cm ON obs.device = cm.device
                CROSS JOIN tot""",
)
def stats_chi2(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf)
    # The contingency table is TYPE-bounded (|event_type| x |device|,
    # dozens of cells at any data size), so after the one fact shuffle
    # it is coalesced to a single partition and the row/column/grand
    # marginals become window sums over SinglePartition — zero further
    # exchanges and no re-aggregation branches (the r10 shape built
    # rm/cm/tot as three broadcast branches, each re-running the fact
    # aggregate subtree; sf0.1 interleaved medians 0.76 s -> 0.45 s).
    obs = (
        ev.select(
            "event_type",
            F.regexp_extract("props", '"device": *"([a-z]+)"', 1).alias("device"),
        )
        .groupBy("event_type", "device")
        .agg(F.count(F.lit(1)).alias("o"))
        .coalesce(1)
    )
    cells = (
        obs.withColumn("rn", F.sum("o").over(Window.partitionBy("event_type")))
        .withColumn("cn", F.sum("o").over(Window.partitionBy("device")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    e = (F.col("rn") * F.col("cn")).cast("double") / F.col("n")
    return cells.agg(
        F.count_distinct("event_type").cast("bigint").alias("n_rows"),
        F.count_distinct("device").cast("bigint").alias("n_cols"),
        F.max("n").cast("bigint").alias("n"),
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 4).alias("chi2"),
    )


# -- Gini concentration index ------------------------------------------------


@register(
    "x_stats_gini",
    "Gini concentration index of order value per customer segment — the "
    "inequality/concentration profile (how top-heavy is spend?). "
    "Rank-weighted form over a total order (value, then key for exact "
    "determinism): G = 2*SUM(i*x_i)/(n*SUM(x)) - (n+1)/n. The rank is a "
    "two-phase distributed ROW_NUMBER (range-partition -> local rank + "
    "broadcast prefix offsets, see util.distributed_row_number): with 5 "
    "segments a plain global window is a 5-task ceiling holding whole "
    "segments in memory; the two-phase form keeps parallelism "
    "proportional to data. Sums are exact decimals, the final ratio two "
    "exact aggregates.",
    """WITH r AS (
         SELECT c_mktsegment AS segment, o_totalprice AS x,
                ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                   ORDER BY o_totalprice, o_orderkey) AS i
         FROM orders JOIN customer ON o_custkey = c_custkey
       )
       SELECT segment, COUNT(*) AS n,
              ROUND(2.0 * CAST(SUM(CAST(i * x AS DECIMAL(28,6))) AS DOUBLE)
                    / (COUNT(*) * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE))
                    - (COUNT(*) + 1.0) / COUNT(*), 4) AS gini
       FROM r GROUP BY segment ORDER BY segment""",
)
def stats_gini(spark: SparkSession, sf: str) -> DataFrame:
    from geostore_spark.operators.util import distributed_row_number

    orders = load_table(spark, "orders", sf)
    customer = load_table(spark, "customer", sf)
    j = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("x"), "o_orderkey")
    from geostore_spark.operators.dedup import _count_rows_cheap

    r, _ = distributed_row_number(
        j, ["segment"], ["x", "o_orderkey"], rn_name="i",
        # cheap metadata BOUND (join is FK-1:1, so rows == orders rows):
        # under the threshold the plain per-segment window is optimal
        row_count=_count_rows_cheap(orders),
    )
    # The oracle sums CAST(i*x AS DECIMAL(28,6)) — i.e. the DOUBLE
    # product rounded half-up at 6 decimals. Spark's decimal sum runs on
    # per-value BigDecimal buffers (the cov_matrix finding); the same
    # exact total accumulates on the codegen long fast path by summing
    # the product's integer part as three 21-bit limbs plus the rounded
    # micro-unit fraction (floor(p) and p-floor(p) are exact in double;
    # +0.5-floor is half-up for these non-negative values). Limb sums
    # stay in-range past 1e12 rows; the exact total reassembles in
    # DECIMAL on the 5 aggregated rows. r11 sf1 interleaved medians:
    # 4.06 -> 3.23 s (the decimal buffers were ~2/3 of the non-rank
    # wall; the split-limb form times identical to raw double sums).
    r2 = r.selectExpr(
        "segment",
        "cast(floor(cast(i as double) * x) as bigint) as k",
        "cast(floor((cast(i as double) * x - floor(cast(i as double) * x))"
        " * 1e6 + 0.5) as bigint) as fr",
        "cast(floor(x) as bigint) as xk",
        "cast(floor((x - floor(x)) * 1e6 + 0.5) as bigint) as xfr",
    ).selectExpr(
        "segment",
        f"k div {2**42} as kh",
        f"(k div {2**21}) % {2**21} as km",
        f"k % {2**21} as kl",
        "fr",
        "xk",
        "xfr",
    )
    agg = r2.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("kh").alias("skh"),
        F.sum("km").alias("skm"),
        F.sum("kl").alias("skl"),
        F.sum("fr").alias("sfr"),
        F.sum("xk").alias("sxk"),
        F.sum("xfr").alias("sxfr"),
    ).selectExpr(
        "segment",
        "n",
        # micro-units (1e-6) of the exact decimal(28,6) sums
        f"cast((cast(skh as decimal(38,0)) * {2**42}"
        f" + cast(skm as decimal(38,0)) * {2**21} + skl) as decimal(38,0))"
        " * 1000000 + sfr as ixu",
        "cast(sxk as decimal(38,0)) * 1000000 + sxfr as xu",
    )
    n_d = F.col("n").cast("double")
    sum_ix = F.col("ixu").cast("double") / F.lit(1e6)
    sum_x = F.col("xu").cast("double") / F.lit(1e6)
    gini = F.round(2.0 * sum_ix / (n_d * sum_x) - (n_d + 1.0) / n_d, 4)
    return agg.select("segment", "n", gini.alias("gini")).orderBy("segment")


# -- Benford first-digit screening ------------------------------------------


@register(
    "x_stats_benford",
    "Benford first-significant-digit screening of order totals — the "
    "classic bulk-data fraud/synthetic-data tell. Digit extraction is a "
    "pure codegen string head; one 9-key partially-aggregated shuffle; "
    "the observed-vs-Benford log10 deviation is exact arithmetic over "
    "the counts.",
    """WITH d AS (
         SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 1)
                     AS BIGINT) AS digit
         FROM orders WHERE o_totalprice >= 1
       ),
       c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
       t AS (SELECT SUM(n) AS total FROM c)
       SELECT digit, n,
              ROUND(CAST(n AS DOUBLE) / t.total, 4) AS observed,
              ROUND(log10(1.0 + 1.0 / digit), 4) AS benford
       FROM c CROSS JOIN t ORDER BY digit""",
)
def stats_benford(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    # explicit FLOOR on both sides: DuckDB's double->BIGINT cast rounds
    # half-even while Spark's truncates — floor makes them agree
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    from pyspark.sql import Window

    # 9 possible digits: coalesce the cell table to one partition and
    # take the total as a window sum — no re-aggregation branch and no
    # broadcast (same r11 lever as chi2/mutual_info)
    c = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1)
    )
    return (
        c.withColumn("total", F.sum("n").over(Window.partitionBy()))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 4).alias("observed"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 4).alias("benford"),
        )
        .orderBy("digit")
    )


# -- two-sample Kolmogorov-Smirnov ------------------------------------------

KS_TYPE_A = "click"
KS_TYPE_B = "purchase"


@register(
    "x_stats_ks_test",
    "Two-sample Kolmogorov-Smirnov statistic between the click and "
    "purchase value distributions — the distribution-drift gate every "
    "corpus-mix / AB pipeline runs. D = max |F_a(x) - F_b(x)| needs a "
    "running CDF over globally sorted values, which a naive "
    "unpartitioned window serializes onto ONE task; here the prefix "
    "sums are two-phase (range-partition by value -> per-slice local "
    "cumsums + a broadcast slice-offset table), so the sort parallelism "
    "tracks data. The statistic is computed in exact integers "
    "(max |ca*Nb - cb*Na|) and only the final ratio is floating.",
    f"""WITH g AS (
         SELECT value,
                SUM(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS a,
                SUM(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS b
         FROM events
         WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
         GROUP BY value
       ),
       c AS (
         SELECT SUM(a) OVER (ORDER BY value) AS ca,
                SUM(b) OVER (ORDER BY value) AS cb
         FROM g
       ),
       t AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM g)
       SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
              CAST(MAX(abs(c.ca * t.nb - c.cb * t.na)) AS BIGINT) AS d_num,
              ROUND(CAST(MAX(abs(c.ca * t.nb - c.cb * t.na)) AS DOUBLE)
                    / (t.na * t.nb), 6) AS ks
       FROM c CROSS JOIN t GROUP BY t.na, t.nb""",
)
def stats_ks_test(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf).filter(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("event_type") == KS_TYPE_B, 1).otherwise(0)).alias("b"),
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # pinned: the local-cumsum and slice-total branches must see ONE
    # materialized range partitioning (see util.distributed_prefix_sum)
    ranged = (
        g.repartitionByRange(n_parts, "value")
        .withColumn("_pid", F.spark_partition_id())
        .transform(pin_branch_point)
    )
    # phase 1: local cumsums within each range slice (parallelism = slices)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn("ca_l", F.sum("a").over(w_local)).withColumn(
        "cb_l", F.sum("b").over(w_local)
    )
    # phase 2: per-slice totals -> prefix offsets; the offset table is
    # slice-count-sized, so its global window and the broadcast are trivial
    parts = ranged.groupBy("_pid").agg(
        F.sum("a").alias("sa"), F.sum("b").alias("sb")
    )
    w_off = (
        Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = parts.select(
        "_pid",
        F.coalesce(F.sum("sa").over(w_off), F.lit(0)).alias("off_a"),
        F.coalesce(F.sum("sb").over(w_off), F.lit(0)).alias("off_b"),
    )
    totals = parts.agg(
        F.sum("sa").cast("bigint").alias("na"),
        F.sum("sb").cast("bigint").alias("nb"),
    )
    d = F.abs(
        (F.col("ca_l") + F.col("off_a")) * F.col("nb")
        - (F.col("cb_l") + F.col("off_b")) * F.col("na")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .join(F.broadcast(totals))
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.max(d).cast("bigint").alias("d_num"),
            F.round(
                F.max(d).cast("double") / (F.max("na") * F.max("nb")), 6
            ).alias("ks"),
        )
    )


# -- Welch's t-test ----------------------------------------------------------


@register(
    "x_stats_ttest",
    "Welch's unequal-variance t-test on document token counts between "
    "even- and odd-numbered corpus sources — the did-the-mix-shift "
    "check run before accepting a new crawl batch. One partially "
    "aggregated shuffle over 2 group keys: exact decimal sums/sumsqs "
    "per group, then t and the Welch-Satterthwaite dof are a constant "
    "amount of driver-free float math on the 2-row aggregate.",
    """WITH d AS (
         SELECT CAST(substr(source, 4) AS INT) % 2 AS grp,
                CAST(len(string_split(text, ' ')) AS DOUBLE) AS x
         FROM documents
       ),
       s AS (
         SELECT grp, COUNT(*) AS n,
                CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx
         FROM d GROUP BY grp
       ),
       w AS (
         SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n0,
                MAX(CASE WHEN grp = 1 THEN n END) AS n1,
                MAX(CASE WHEN grp = 0 THEN sx / n END) AS m0,
                MAX(CASE WHEN grp = 1 THEN sx / n END) AS m1,
                MAX(CASE WHEN grp = 0 THEN (sxx - sx * sx / n) / (n - 1) END) AS v0,
                MAX(CASE WHEN grp = 1 THEN (sxx - sx * sx / n) / (n - 1) END) AS v1
         FROM s
       )
       SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
              ROUND(m0, 4) AS mean0, ROUND(m1, 4) AS mean1,
              ROUND((m0 - m1) / sqrt(v0 / n0 + v1 / n1), 4) AS t,
              ROUND(pow(v0 / n0 + v1 / n1, 2)
                    / (pow(v0 / n0, 2) / (n0 - 1)
                       + pow(v1 / n1, 2) / (n1 - 1)), 2) AS dof
       FROM w""",
)
def stats_ttest(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, "documents", sf)
    # NOTE (r11): the split-limb accumulation lever was built and
    # A/B'd here (integer token counts make the decimal sums exact
    # integer sums) — a WASH at sf1 (0.79 vs 0.80 s medians): this
    # query's wall is the split() projection, not the two-group
    # aggregate's buffers. Old form kept to avoid unmeasured churn.
    d = docs.select(
        (F.substring("source", 4, 10).cast("int") % 2).alias("grp"),
        F.size(F.split(F.col("text"), " ")).cast("double").alias("x"),
    )
    s = d.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxx"),
    )
    w = s.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("sx") / F.col("n"))).alias("m0"),
        F.max(F.when(F.col("grp") == 1, F.col("sx") / F.col("n"))).alias("m1"),
        F.max(
            F.when(
                F.col("grp") == 0,
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1),
            )
        ).alias("v0"),
        F.max(
            F.when(
                F.col("grp") == 1,
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1),
            )
        ).alias("v1"),
    )
    se2 = F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    return w.select(
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.round("m0", 4).alias("mean0"),
        F.round("m1", 4).alias("mean1"),
        F.round((F.col("m0") - F.col("m1")) / F.sqrt(se2), 4).alias("t"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v0") / F.col("n0"), 2) / (F.col("n0") - 1)
                + F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
            ),
            2,
        ).alias("dof"),
    )


# -- population stability index (distribution drift) -------------------------

PSI_BUCKETS = 10
PSI_SPLIT_DAY = 16  # days 1-15 = reference window, 16-30 = current window


@register(
    "x_stats_psi_drift",
    "Population Stability Index per event_type between the first- and "
    "second-half event windows — the drift score model-monitoring "
    "pipelines alert on (PSI > 0.2 = shifted). Values bucket into "
    f"{PSI_BUCKETS} fixed-width bins; both windows aggregate in ONE "
    "partially-aggregated pass over (type, bucket) cells (conditional "
    "sums, no second scan), marginals ride the same rollup, and the "
    "final Sum (p-q)*ln(p/q) is constant work per type row.",
    f"""WITH c AS (
         SELECT event_type,
                least(CAST(floor(value / (100.0 / {PSI_BUCKETS})) AS INT),
                      {PSI_BUCKETS - 1}) AS bucket,
                SUM(CASE WHEN day(ts) < {PSI_SPLIT_DAY} THEN 1 ELSE 0 END) AS r,
                SUM(CASE WHEN day(ts) >= {PSI_SPLIT_DAY} THEN 1 ELSE 0 END) AS cur
         FROM events GROUP BY 1, 2
       ),
       t AS (
         SELECT event_type, SUM(r) AS nr, SUM(cur) AS nc FROM c GROUP BY 1
       )
       SELECT c.event_type,
              CAST(t.nr AS BIGINT) AS n_ref, CAST(t.nc AS BIGINT) AS n_cur,
              ROUND(SUM(CASE WHEN c.r > 0 AND c.cur > 0
                             THEN (CAST(c.r AS DOUBLE) / t.nr
                                   - CAST(c.cur AS DOUBLE) / t.nc)
                                  * ln((CAST(c.r AS DOUBLE) / t.nr)
                                       / (CAST(c.cur AS DOUBLE) / t.nc))
                             ELSE 0 END), 6) AS psi,
              CAST(SUM(CASE WHEN c.r = 0 OR c.cur = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_degenerate_buckets
       FROM c JOIN t USING (event_type)
       GROUP BY c.event_type, t.nr, t.nc
       ORDER BY c.event_type""",
)
def stats_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, "events", sf)
    bucket = F.least(
        F.floor(F.col("value") / (100.0 / PSI_BUCKETS)).cast("int"),
        F.lit(PSI_BUCKETS - 1),
    )
    is_ref = F.dayofmonth("ts") < PSI_SPLIT_DAY
    cells = ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.sum(is_ref.cast("long")).alias("r"),
        F.sum((~is_ref).cast("long")).alias("cur"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("r").alias("nr"), F.sum("cur").alias("nc")
    )
    p = F.col("r").cast("double") / F.col("nr")
    q = F.col("cur").cast("double") / F.col("nc")
    term = F.when(
        (F.col("r") > 0) & (F.col("cur") > 0), (p - q) * F.log(p / q)
    ).otherwise(F.lit(0.0))
    return (
        cells.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "nr", "nc")
        .agg(
            F.round(F.sum(term), 6).alias("psi"),
            F.sum(((F.col("r") == 0) | (F.col("cur") == 0)).cast("long"))
            .alias("n_degenerate_buckets"),
        )
        .select(
            "event_type",
            F.col("nr").cast("bigint").alias("n_ref"),
            F.col("nc").cast("bigint").alias("n_cur"),
            "psi",
            F.col("n_degenerate_buckets").cast("bigint").alias("n_degenerate_buckets"),
        )
        .orderBy("event_type")
    )


# -- mutual information ------------------------------------------------------

MI_SCALE = 1_000_000_000  # nano-nats: per-cell contribs quantize to exact ints


@register(
    "x_stats_mutual_info",
    "Pointwise mutual information table between event_type and the "
    "payload k-decile — the feature-dependence screen run before "
    "selecting categorical features (and the dedup signal for "
    "correlated metadata columns). One shuffle to exact joint counts; "
    "marginals derive FROM the cell counts (tiny re-aggregation, no "
    "second pass over events) and join back via broadcast. Every float "
    "(pmi, contribution) is computed per-cell from exact BIGINT counts "
    "— no cross-cell float accumulation, so shuffle order is "
    "irrelevant; the scaled nano-nat contribution column sums to total "
    "MI exactly in integer space downstream.",
    f"""WITH q AS (
         SELECT event_type AS x,
                CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS INTEGER)
                  // 10 AS y
         FROM events
       ),
       cell AS (SELECT x, y, COUNT(*) AS n_xy FROM q GROUP BY x, y),
       mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cell GROUP BY x),
       my AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cell GROUP BY y),
       tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cell)
       SELECT cell.x AS event_type, cell.y AS k_decile, cell.n_xy,
              ln(CAST(cell.n_xy AS DOUBLE) * tot.n
                 / (CAST(mx.n_x AS DOUBLE) * my.n_y)) AS pmi,
              CAST(round(
                (CAST(cell.n_xy AS DOUBLE) / tot.n)
                * ln(CAST(cell.n_xy AS DOUBLE) * tot.n
                     / (CAST(mx.n_x AS DOUBLE) * my.n_y)) * {MI_SCALE}
              ) AS BIGINT) AS contrib_nanonats
       FROM cell JOIN mx ON cell.x = mx.x
                 JOIN my ON cell.y = my.y
                 CROSS JOIN tot
       ORDER BY event_type, k_decile""",
)
def stats_mutual_info(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, "events", sf)
    q = ev.select(
        F.col("event_type").alias("x"),
        (
            F.regexp_extract("props", '"k": *([0-9]+)', 1).cast("int") / 10
        ).cast("int").alias("y"),
    )
    from pyspark.sql import Window

    # The |X|x|Y| cell table is type-bounded (≤50 rows at any data
    # size): coalesce it to one partition and derive the marginals and
    # grand total as window sums over SinglePartition — one fact
    # shuffle, zero branch re-aggregations, no checkpoint pin (the r10
    # shape localCheckpointed the cells and built mx/my/tot as three
    # broadcast branches; sf0.1 interleaved medians 0.53 s -> 0.30 s)
    cell = (
        q.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy")).coalesce(1)
    )
    j = (
        cell.withColumn(
            "n_x", F.sum("n_xy").over(Window.partitionBy("x")).cast("bigint")
        )
        .withColumn(
            "n_y", F.sum("n_xy").over(Window.partitionBy("y")).cast("bigint")
        )
        .withColumn(
            "n", F.sum("n_xy").over(Window.partitionBy()).cast("bigint")
        )
    )
    n_xy_d = F.col("n_xy").cast("double")
    pmi = F.log(n_xy_d * F.col("n") / (F.col("n_x").cast("double") * F.col("n_y")))
    return j.select(
        F.col("x").alias("event_type"),
        F.col("y").alias("k_decile"),
        "n_xy",
        pmi.alias("pmi"),
        F.round((n_xy_d / F.col("n")) * pmi * MI_SCALE, 0)
        .cast("bigint")
        .alias("contrib_nanonats"),
    ).orderBy("event_type", "k_decile")


# -- covariance matrix -------------------------------------------------------

COV_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
COV_SCALE = 100  # all four columns quantize exactly to 1/100 units


@register(
    "x_stats_cov_matrix",
    "Pairwise covariance matrix of four lineitem measures in ONE pass "
    "— the feature-correlation screen before PCA/whitening. All 4 "
    "first moments accumulate as exact BIGINTs; the 10 distinct "
    "second moments (price-squared sums overflow 64 bits already at "
    "sf0.1) accumulate as THREE 21-bit-limb BIGINT sums each — every "
    "pairwise product fits int64, so p = hi*2^42 + mid*2^21 + lo and "
    "each limb sums on the codegen long fast path (no BigDecimal "
    "buffers; limb sums stay in-range past 1e12 rows), reassembled "
    "exactly in DECIMAL on the single aggregated row — all in one "
    "partially-aggregated reduce (no per-pair passes, no two-pass "
    "mean-then-residual); the 10 "
    "covariance floats are per-cell functions of those exact sums. "
    "Output is the upper triangle as rows — the layout a "
    "broadcast-join consumer wants.",
    f"""WITH q AS (
         SELECT CAST(round(l_quantity * {COV_SCALE}) AS BIGINT) AS x0,
                CAST(round(l_extendedprice * {COV_SCALE}) AS BIGINT) AS x1,
                CAST(round(l_discount * {COV_SCALE}) AS BIGINT) AS x2,
                CAST(round(l_tax * {COV_SCALE}) AS BIGINT) AS x3
         FROM lineitem
       ),
       s AS (
         SELECT COUNT(*) AS n,
                SUM(x0) AS s0, SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3,
                SUM(CAST(x0 AS HUGEINT)*x0) AS s00,
                SUM(CAST(x0 AS HUGEINT)*x1) AS s01,
                SUM(CAST(x0 AS HUGEINT)*x2) AS s02,
                SUM(CAST(x0 AS HUGEINT)*x3) AS s03,
                SUM(CAST(x1 AS HUGEINT)*x1) AS s11,
                SUM(CAST(x1 AS HUGEINT)*x2) AS s12,
                SUM(CAST(x1 AS HUGEINT)*x3) AS s13,
                SUM(CAST(x2 AS HUGEINT)*x2) AS s22,
                SUM(CAST(x2 AS HUGEINT)*x3) AS s23,
                SUM(CAST(x3 AS HUGEINT)*x3) AS s33
         FROM q
       ),
       cells(i, j, sij, si, sj) AS (
         SELECT 0, 0, (SELECT s00 FROM s), (SELECT s0 FROM s), (SELECT s0 FROM s)
         UNION ALL SELECT 0, 1, (SELECT s01 FROM s), (SELECT s0 FROM s), (SELECT s1 FROM s)
         UNION ALL SELECT 0, 2, (SELECT s02 FROM s), (SELECT s0 FROM s), (SELECT s2 FROM s)
         UNION ALL SELECT 0, 3, (SELECT s03 FROM s), (SELECT s0 FROM s), (SELECT s3 FROM s)
         UNION ALL SELECT 1, 1, (SELECT s11 FROM s), (SELECT s1 FROM s), (SELECT s1 FROM s)
         UNION ALL SELECT 1, 2, (SELECT s12 FROM s), (SELECT s1 FROM s), (SELECT s2 FROM s)
         UNION ALL SELECT 1, 3, (SELECT s13 FROM s), (SELECT s1 FROM s), (SELECT s3 FROM s)
         UNION ALL SELECT 2, 2, (SELECT s22 FROM s), (SELECT s2 FROM s), (SELECT s2 FROM s)
         UNION ALL SELECT 2, 3, (SELECT s23 FROM s), (SELECT s2 FROM s), (SELECT s3 FROM s)
         UNION ALL SELECT 3, 3, (SELECT s33 FROM s), (SELECT s3 FROM s), (SELECT s3 FROM s)
       )
       SELECT cells.i, cells.j,
              (CAST(sij AS DOUBLE) - CAST(si AS DOUBLE) * sj / (SELECT n FROM s))
                / ((SELECT n FROM s) - 1) / ({COV_SCALE} * {COV_SCALE})
                AS cov
       FROM cells ORDER BY i, j""",
)
def stats_cov_matrix(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf)
    # floor(v + 0.5), not F.round: Spark's round on DoubleType goes
    # through a per-value java.math.BigDecimal; for the non-negative
    # measures here floor(v*100 + 0.5) IS round-half-up (identical to
    # the oracle's round()) and stays in codegen arithmetic — measured
    # sf1 interleaved medians 1.29 s -> 0.76 s on this query alone.
    xs = [
        F.floor(F.col(c) * COV_SCALE + F.lit(0.5)).cast("bigint").alias(f"x{i}")
        for i, c in enumerate(COV_COLS)
    ]
    q = li.select(*xs)
    pairs = [(i, j) for i in range(4) for j in range(i, 4)]
    # products materialized ONCE per pair (explicit CSE projection —
    # the three limb sums below each reference p{i}{j})
    q = q.selectExpr(
        *[f"x{i}" for i in range(4)],
        *[f"x{i} * x{j} as p{i}{j}" for i, j in pairs],
    )
    # Second moments as SPLIT-LIMB int64 sums, not DECIMAL(38,0)
    # accumulators: Spark's sum over >18-digit decimals runs on
    # BigDecimal buffers (off the compact-long fast path), which was
    # ~90% of this query's wall (r10 judge). Every pairwise product
    # fits int64 (price-cents² < 2^47) and is non-negative, so split
    # it into three 21-bit limbs — p = hi*2^42 + mid*2^21 + lo — and
    # sum each limb as a plain BIGINT through codegen. Limb sums stay
    # in-range past 1e12 rows (mid/lo < 2^21 ⇒ sums < 2^21·n; hi ≤ 27
    # for the largest product), matching the old decimal headroom; the
    # exact 128-bit-class totals are reassembled in DECIMAL on the
    # single aggregated row, so the final doubles equal the oracle's
    # HUGEINT-cast bitwise.
    s = q.selectExpr(
        "count(1) as n",
        *[f"sum(x{i}) as s{i}" for i in range(4)],
        *[
            e
            for i, j in pairs
            for e in (
                f"sum(p{i}{j} div {2**42}) as h{i}{j}",
                f"sum(p{i}{j} div {2**21} % {2**21}) as m{i}{j}",
                f"sum(p{i}{j} % {2**21}) as l{i}{j}",
            )
        ],
    ).selectExpr(
        "n",
        *[f"s{i}" for i in range(4)],
        *[
            f"cast(h{i}{j} as decimal(20,0)) * {2**42}"
            f" + cast(m{i}{j} as decimal(20,0)) * {2**21}"
            f" + l{i}{j} as s{i}{j}"
            for i, j in pairs
        ],
    )
    n_d = F.col("n").cast("double")
    cells = [
        F.struct(
            F.lit(i).alias("i"),
            F.lit(j).alias("j"),
            (
                (
                    F.col(f"s{i}{j}").cast("double")
                    - F.col(f"s{i}").cast("double") * F.col(f"s{j}") / n_d
                )
                / (n_d - 1)
                / (COV_SCALE * COV_SCALE)
            ).alias("cov"),
        )
        for i, j in pairs
    ]
    return (
        s.select(F.explode(F.array(*cells)).alias("c"))
        .select("c.i", "c.j", "c.cov")
        .orderBy("i", "j")
    )


# -- higher moments: skewness / kurtosis -------------------------------------

MOM_SCALE = 100  # l_quantity quantizes exactly to 1/100 units


@register(
    "x_stats_skew_kurtosis",
    "Per-group skewness and excess kurtosis of lineitem quantity from "
    "raw moments — the distribution-shape screen that catches "
    "truncated or synthetic numeric columns (a clamped distribution "
    "shows in the fourth moment long before a mean/σ check moves). "
    "One partially-aggregated shuffle carries n and four raw power "
    "sums (exact: centi-unit BIGINTs for Σx, Σx², 128-bit for Σx³, "
    "Σx⁴ — x⁴ sums overflow 64 bits at ~1e10 rows); the central-moment "
    "algebra runs per group row on those exact inputs with explicit "
    "formulas, identical on both engines (no library skewness() with "
    "engine-specific bias correction).",
    f"""WITH q AS (
         SELECT l_returnflag AS flag,
                CAST(round(l_quantity * {MOM_SCALE}) AS BIGINT) AS x
         FROM lineitem
       ),
       s AS (
         SELECT flag, COUNT(*) AS n,
                SUM(x) AS s1,
                SUM(CAST(x AS HUGEINT) * x) AS s2,
                SUM(CAST(x AS HUGEINT) * x * x) AS s3,
                SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
         FROM q GROUP BY flag
       ),
       m AS (
         SELECT flag, n,
                CAST(s1 AS DOUBLE) / n AS m1,
                CAST(s2 AS DOUBLE) / n AS r2,
                CAST(s3 AS DOUBLE) / n AS r3,
                CAST(s4 AS DOUBLE) / n AS r4
         FROM s
       )
       SELECT flag, n,
              (r2 - m1 * m1) / ({MOM_SCALE} * {MOM_SCALE}.0) AS variance,
              (r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1)
                / pow(r2 - m1 * m1, 1.5) AS skewness,
              (r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1)
                / pow(r2 - m1 * m1, 2) - 3 AS excess_kurtosis
       FROM m ORDER BY flag""",
)
def stats_skew_kurtosis(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf)
    x = quantize(F.col("l_quantity"), MOM_SCALE)
    q = li.select(F.col("l_returnflag").alias("flag"), x.alias("x"))
    # Powers materialized once (explicit CSE projection), then summed
    # as SPLIT-LIMB int64s instead of DECIMAL accumulators (the
    # cov_matrix/gini lever): x <= 5100 centi-units so x^4 < 2^50 fits
    # int64 exactly, and the exact 128-bit-class totals reassemble in
    # DECIMAL on the 3 group rows — bit-equal to the oracle's HUGEINT
    # sums, without a per-value BigDecimal on the hot path.
    q = q.selectExpr(
        "flag", "x", "x * x as p2", "x * x * x as p3", "x * x * x * x as p4"
    )
    s = q.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        *limb_sum_aggs("p2", "2"),
        *limb_sum_aggs("p3", "3"),
        *limb_sum_aggs("p4", "4"),
    ).selectExpr(
        "flag",
        "n",
        "s1",
        limb_total_expr("2", "s2"),
        limb_total_expr("3", "s3"),
        limb_total_expr("4", "s4"),
    )
    n_d = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n_d
    r2 = F.col("s2").cast("double") / n_d
    r3 = F.col("s3").cast("double") / n_d
    r4 = F.col("s4").cast("double") / n_d
    var_q = r2 - m1 * m1
    return (
        s.select(
            "flag",
            "n",
            (var_q / float(MOM_SCALE * MOM_SCALE)).alias("variance"),
            ((r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1) / F.pow(var_q, 1.5)).alias(
                "skewness"
            ),
            (
                (r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1)
                / F.pow(var_q, 2.0)
                - 3
            ).alias("excess_kurtosis"),
        )
        .orderBy("flag")
    )


# -- Q-Q decile comparison ---------------------------------------------------

QQ_A, QQ_B = "1-URGENT", "5-LOW"
QQ_DECILES = tuple(i / 10 for i in range(1, 10))


@register(
    "x_stats_qq_deciles",
    "Quantile-quantile comparison of two cohorts' price distributions "
    "at each decile — the distribution-equality check behind A/B "
    "sanity gates and stratified-sampling validation (a Q-Q line far "
    "from y=x means the cohorts are NOT exchangeable even when means "
    "agree). Each cohort's nine exact interpolated deciles "
    "(percentile ≡ quantile_cont, parity proven by a9) come from one "
    "partially-aggregated pass; the two 9-row profiles join on decile "
    "index — comparison cost is decile-count-sized regardless of data "
    "volume.",
    f"""WITH a AS (
         SELECT unnest(range(1, 10)) AS d,
                unnest(quantile_cont(o_totalprice,
                       {list(QQ_DECILES)})) AS qa
         FROM orders WHERE o_orderpriority = '{QQ_A}'
       ),
       b AS (
         SELECT unnest(range(1, 10)) AS d,
                unnest(quantile_cont(o_totalprice,
                       {list(QQ_DECILES)})) AS qb
         FROM orders WHERE o_orderpriority = '{QQ_B}'
       )
       SELECT CAST(a.d AS INT) AS decile,
              ROUND(a.qa, 4) AS q_urgent, ROUND(b.qb, 4) AS q_low,
              ROUND(a.qa - b.qb, 4) AS diff
       FROM a JOIN b ON a.d = b.d ORDER BY decile""",
)
def stats_qq_deciles(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)

    def profile(prio: str, out: str) -> DataFrame:
        return (
            orders.filter(F.col("o_orderpriority") == prio)
            .agg(
                F.percentile("o_totalprice", F.lit(list(QQ_DECILES))).alias("qs")
            )
            .select(F.posexplode("qs").alias("d0", out))
            .select((F.col("d0") + 1).alias("d"), out)
        )

    a = profile(QQ_A, "qa")
    b = profile(QQ_B, "qb")
    return (
        a.join(b, "d")
        .select(
            F.col("d").cast("int").alias("decile"),
            F.round("qa", 4).alias("q_urgent"),
            F.round("qb", 4).alias("q_low"),
            F.round(F.col("qa") - F.col("qb"), 4).alias("diff"),
        )
        .orderBy("decile")
    )


# -- lag-1 autocorrelation ---------------------------------------------------


@register(
    "x_stats_autocorr",
    "Lag-1 autocorrelation of the daily event-count series per "
    "event_type — the 'is today predictive of tomorrow' diagnostic "
    "that separates bursty from stationary streams (and the "
    "sanity check before fitting any AR model). One shuffle to daily "
    "counts, a LAG window per type pairs consecutive days, and the "
    "correlation reduces via the integer-exact moment pattern (daily "
    "counts are exact BIGINTs; one float expression per type row).",
    """WITH d AS (
         SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
         FROM events GROUP BY event_type, day
       ),
       lagd AS (
         SELECT event_type, x,
                LAG(x) OVER (PARTITION BY event_type ORDER BY day) AS prev
         FROM d
       ),
       pairs AS (SELECT event_type, x, prev FROM lagd WHERE prev IS NOT NULL),
       s AS (
         SELECT event_type, COUNT(*) AS n,
                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(prev) AS BIGINT) AS sy,
                CAST(SUM(x * x) AS BIGINT) AS sxx,
                CAST(SUM(prev * prev) AS BIGINT) AS syy,
                CAST(SUM(x * prev) AS BIGINT) AS sxy
         FROM pairs GROUP BY event_type
       )
       SELECT event_type, n,
              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                AS r_lag1
       FROM s ORDER BY event_type""",
)
def stats_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf)
    d = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = (
        d.withColumn("prev", F.lag("x").over(w))
        .filter(F.col("prev").isNotNull())
        .select("event_type", "x", "prev")
    )
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("prev").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("prev") * F.col("prev")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("prev")).cast("bigint").alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")) * F.sqrt(
        n_d * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    )
    return s.select("event_type", "n", (num / den).alias("r_lag1")).orderBy(
        "event_type"
    )


# -- Wilson lower-bound ranking ----------------------------------------------

WILSON_Z = 1.96  # 95% interval


@register(
    "x_stats_wilson_rank",
    "Return-rate ranking by Wilson score lower bound per brand — THE "
    "correct way to rank proportions with unequal sample sizes (a "
    "brand with 2/3 returns must not outrank one with 150/400; the "
    "lower confidence bound penalizes small n). One partial-agg "
    "shuffle to per-brand (returns, total) exact counts via a "
    "broadcast part join; the Wilson algebra is one float expression "
    "per brand row; ranking is a TakeOrdered on the quantized bound.",
    f"""WITH j AS (
         SELECT p.p_brand,
                CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       ),
       s AS (
         SELECT p_brand, CAST(SUM(ret) AS BIGINT) AS n_ret,
                COUNT(*) AS n
         FROM j GROUP BY p_brand
       ),
       w AS (
         SELECT p_brand, n_ret, n,
                CAST(n_ret AS DOUBLE) / n AS p_hat,
                (CAST(n_ret AS DOUBLE) / n + {WILSON_Z} * {WILSON_Z} / (2 * n)
                 - {WILSON_Z} * sqrt((CAST(n_ret AS DOUBLE) / n
                     * (1 - CAST(n_ret AS DOUBLE) / n)
                     + {WILSON_Z} * {WILSON_Z} / (4 * n)) / n))
                / (1 + {WILSON_Z} * {WILSON_Z} / n) AS wilson_lb
         FROM s
       )
       SELECT p_brand, n_ret, n, p_hat, wilson_lb,
              CAST(round(wilson_lb * 1000000) AS BIGINT) AS lb_q
       FROM w ORDER BY lb_q DESC, p_brand LIMIT 15""",
)
def stats_wilson_rank(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf)
    part = load_table(spark, "part", sf)
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        "p_brand", (F.col("l_returnflag") == "R").cast("int").alias("ret")
    )
    s = j.groupBy("p_brand").agg(
        F.sum("ret").cast("bigint").alias("n_ret"),
        F.count(F.lit(1)).alias("n"),
    )
    n_d = F.col("n").cast("double")
    p_hat = F.col("n_ret").cast("double") / n_d
    z2 = WILSON_Z * WILSON_Z
    lb = (
        p_hat
        + z2 / (2 * n_d)
        - WILSON_Z * F.sqrt((p_hat * (1 - p_hat) + z2 / (4 * n_d)) / n_d)
    ) / (1 + z2 / n_d)
    return (
        s.select(
            "p_brand",
            "n_ret",
            "n",
            p_hat.alias("p_hat"),
            lb.alias("wilson_lb"),
            F.round(lb * 1_000_000, 0).cast("bigint").alias("lb_q"),
        )
        .orderBy(F.desc("lb_q"), "p_brand")
        .limit(15)
    )


# -- per-column categorical entropy profile ----------------------------------

ENTROPY_COLS = ("o_orderstatus", "o_orderpriority")


@register(
    "x_stats_column_entropy",
    "Per-column Shannon entropy of the categorical order attributes — "
    "the profiling signal that flags near-constant columns (entropy "
    "≈ 0: drop or index) and high-cardinality keys (entropy ≈ ln "
    "NDV). One Expand-based pass groups every (column, value) pair; "
    "per-value -p ln p terms quantize to nano-nats and sum exactly, "
    "so the per-column entropy is layout-independent.",
    """WITH u AS (
         SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
         UNION ALL
         SELECT 'o_orderpriority', o_orderpriority FROM orders
       ),
       c AS (SELECT col, val, COUNT(*) AS n FROM u GROUP BY col, val),
       t AS (SELECT col, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY col),
       q AS (
         SELECT c.col,
                CAST(round(-(CAST(c.n AS DOUBLE) / t.tot)
                           * ln(CAST(c.n AS DOUBLE) / t.tot)
                           * 1000000000) AS BIGINT) AS h_q
         FROM c JOIN t ON c.col = t.col
       )
       SELECT col, COUNT(*) AS n_values,
              CAST(SUM(h_q) AS DOUBLE) / 1000000000 AS entropy_nats
       FROM q GROUP BY col ORDER BY col""",
)
def stats_column_entropy(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    u = None
    for c in ENTROPY_COLS:
        part = orders.select(F.lit(c).alias("col"), F.col(c).alias("val"))
        u = part if u is None else u.unionAll(part)
    cnt = u.groupBy("col", "val").agg(F.count(F.lit(1)).alias("n"))
    cnt = cnt.transform(pin_branch_point)
    tot = cnt.groupBy("col").agg(F.sum("n").cast("bigint").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    q = cnt.join(F.broadcast(tot), "col").select(
        "col",
        F.round(-p * F.log(p) * 1_000_000_000, 0).cast("bigint").alias("h_q"),
    )
    return (
        q.groupBy("col")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            (F.sum("h_q").cast("double") / 1_000_000_000).alias("entropy_nats"),
        )
        .orderBy("col")
    )


# -- Herfindahl-Hirschman concentration index --------------------------------


@register(
    "x_stats_hhi",
    "Herfindahl-Hirschman concentration of supplier revenue within "
    "each nation — the antitrust-style market-concentration scalar "
    "(HHI = Σ share², 1/n for perfect competition, 1.0 for monopoly; "
    "complements Gini, which measures inequality, not dominance). "
    "One shuffle to per-(nation, supplier) exact-cent revenue; nation "
    "totals re-aggregate that table (broadcast back); per-supplier "
    "share² terms quantize to nano-units and sum exactly.",
    """WITH r AS (
         SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
                CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS cents
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY nation, supp
       ),
       t AS (SELECT nation, CAST(SUM(cents) AS BIGINT) AS tot FROM r GROUP BY nation),
       q AS (
         SELECT r.nation,
                CAST(round(pow(CAST(r.cents AS DOUBLE) / t.tot, 2)
                           * 1000000000) AS BIGINT) AS h_q
         FROM r JOIN t ON r.nation = t.nation
       )
       SELECT nation, COUNT(*) AS n_suppliers,
              CAST(SUM(h_q) AS DOUBLE) / 1000000000 AS hhi
       FROM q GROUP BY nation ORDER BY nation""",
)
def stats_hhi(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf)
    sup = load_table(spark, "supplier", sf)
    r = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("nation"), F.col("l_suppkey").alias("supp")
        )
        .agg(
            F.sum(quantize(F.col("l_extendedprice"), 100))
            .cast("bigint")
            .alias("cents")
        )
    )
    r = r.transform(pin_branch_point)
    t = r.groupBy("nation").agg(F.sum("cents").cast("bigint").alias("tot"))
    h_q = F.round(
        F.pow(F.col("cents").cast("double") / F.col("tot"), 2.0) * 1_000_000_000,
        0,
    ).cast("bigint")
    return (
        r.join(F.broadcast(t), "nation")
        .select("nation", h_q.alias("h_q"))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.sum("h_q").cast("double") / 1_000_000_000).alias("hhi"),
        )
        .orderBy("nation")
    )


# -- sketch-audit: approximate quantiles vs exact ranks ----------------------

AQ_ACCURACY = 1000  # GK sketch: rank error <= n / accuracy
AQ_QS = (0.25, 0.5, 0.9)


@register(
    "x_stats_approx_quantile_audit",
    "Sketch audit for approximate quantiles (the a8 discipline applied "
    "to percentile sketches): Spark computes Greenwald-Khanna "
    "approx_percentile(o_totalprice) at accuracy=1000, then measures "
    "each estimate's EXACT rank in the data and asserts it within the "
    "sketch's guaranteed +-n/accuracy rank window. The oracle "
    "reproduces the exact side (total count) asserting TRUE, so an "
    "out-of-contract sketch becomes a hash mismatch, not an invisible "
    "approximation. One pass for the sketch, one broadcast-probe pass "
    "for the rank check - both sketch-mergeable at 100 TB.",
    f"""SELECT q, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS within_bound
       FROM orders, (SELECT unnest(ARRAY{list(AQ_QS)}) AS q)
       GROUP BY q ORDER BY q""",
)
def q_approx_quantile_audit(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    qs = list(AQ_QS)
    sketch = orders.agg(
        F.percentile_approx("o_totalprice", qs, AQ_ACCURACY).alias("vs"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.posexplode("vs").alias("i", "v"),
        "n",
    ).select(
        F.element_at(F.array(*[F.lit(q) for q in qs]), F.col("i") + 1).alias("q"),
        "v",
        "n",
    )
    # exact rank INTERVAL of each estimate: a heavily duplicated value at
    # the quantile occupies ranks [count(< v)+1, count(<= v)], and the GK
    # contract is honored if ANY of those ranks falls in the guaranteed
    # +-n/accuracy window — checking only the max rank (count(<= v))
    # would flip within_bound on legitimate ties. One aggregated probe
    # pass over orders against the broadcast (3-row) sketch computes
    # both endpoints — never a sort.
    ranks = (
        orders.crossJoin(F.broadcast(sketch))
        .groupBy("q", "v", "n")
        .agg(
            F.count(F.when(F.col("o_totalprice") <= F.col("v"), 1)).alias("r_le"),
            F.count(F.when(F.col("o_totalprice") < F.col("v"), 1)).alias("r_lt"),
        )
    )
    bound = F.col("n") / AQ_ACCURACY + 1
    # interval [r_lt+1, r_le] intersects window [q*n - bound, q*n + bound]
    within = (F.col("r_lt") + 1 <= F.col("q") * F.col("n") + bound) & (
        F.col("r_le") >= F.col("q") * F.col("n") - bound
    )
    return ranks.select(
        "q", F.col("n").cast("bigint").alias("n"), within.alias("within_bound")
    ).orderBy("q")


# -- per-group OLS trend -----------------------------------------------------

LINREG_X0 = 1992  # year offset keeps every OLS sum below 2^53 (exact double)


@register(
    "x_stats_linreg",
    "Per-segment OLS revenue trend: slope and intercept of yearly order "
    "value (dollars) against order year, per order priority — the "
    "trend-line primitive behind drift dashboards. Exact by "
    "construction: x is the year offset (0..6), y floors to whole "
    "dollars, so every moment sum (Sx, Sy, Sxy, Sxx) is an int64 whose "
    "closed-form combinations stay under 2^53 — the slope/intercept "
    "divisions are single IEEE ops on exactly-represented integers, "
    "deterministic in any engine. One partially-aggregated shuffle on "
    "the group key; at sf >= 1 the same plan swaps the int64 moments "
    "for DECIMAL(38,0) without changing shape.",
    f"""WITH p AS (
         SELECT o_orderpriority AS priority,
                CAST(year(o_orderdate) - {LINREG_X0} AS BIGINT) AS x,
                CAST(FLOOR(o_totalprice) AS BIGINT) AS y
         FROM orders
       ),
       m AS (
         SELECT priority, COUNT(*) AS n,
                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                CAST(SUM(x * y) AS BIGINT) AS sxy,
                CAST(SUM(x * x) AS BIGINT) AS sxx
         FROM p GROUP BY priority
       )
       SELECT priority, n,
              ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                    / (n * sxx - sx * sx), 6) AS slope,
              ROUND((sy - (CAST(n * sxy - sx * sy AS DOUBLE)
                           / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
       FROM m ORDER BY priority""",
)
def q_linreg(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    p = orders.select(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") - LINREG_X0).cast("bigint").alias("x"),
        F.floor("o_totalprice").cast("bigint").alias("y"),
    )
    m = p.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den
    return m.select(
        "priority",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    ).orderBy("priority")


# -- Wald-Wolfowitz runs test --------------------------------------------------


@register(
    "x_stats_runs_test",
    "Wald-Wolfowitz runs test on the daily revenue up/down sequence per "
    "order priority — the randomness screen that catches autocorrelated "
    "or regime-switching series a mean/variance profile misses. Runs "
    "count via one LAG window over the daily rollup; the 2-sigma "
    "verdict is the exact integer cross-multiplication "
    "((R-1)n - 2*n1*n2)^2 (n-1) > 8 n1 n2 (2 n1 n2 - n) of the "
    "normal-approximation test, so no float mean/variance ever forms "
    "(all terms < 2^62 at any fixture scale).",
    """WITH d AS (
         SELECT o_orderpriority AS priority, o_orderdate AS day,
                CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders GROUP BY priority, day
       ),
       s1 AS (
         SELECT priority, day,
                CASE WHEN LAG(cents) OVER w IS NULL THEN NULL
                     WHEN cents > LAG(cents) OVER w THEN 1 ELSE 0 END AS dir
         FROM d
         WINDOW w AS (PARTITION BY priority ORDER BY day)
       ),
       s AS (
         SELECT priority, dir,
                LAG(dir) OVER (PARTITION BY priority ORDER BY day) AS prev_dir
         FROM s1
       ),
       m AS (
         SELECT priority,
                CAST(COUNT(dir) AS BIGINT) AS n,
                CAST(SUM(dir) AS BIGINT) AS n1,
                CAST(COUNT(dir) - SUM(dir) AS BIGINT) AS n2,
                CAST(1 + SUM(CASE WHEN dir IS NOT NULL AND prev_dir IS NOT NULL
                                   AND dir != prev_dir THEN 1 ELSE 0 END)
                     AS BIGINT) AS runs
         FROM s GROUP BY priority
       )
       SELECT priority, n, n1, n2, runs,
              (((runs - 1) * n - 2 * n1 * n2) * ((runs - 1) * n - 2 * n1 * n2)
                 * (n - 1)) > (8 * n1 * n2 * (2 * n1 * n2 - n))
                AS nonrandom_2sigma
       FROM m ORDER BY priority""",
)
def q_runs_test(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, "orders", sf)
    d = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("priority").orderBy("day")
    dir_col = F.when(F.lag("cents").over(w).isNull(), F.lit(None)).otherwise(
        F.when(F.col("cents") > F.lag("cents").over(w), 1).otherwise(0)
    )
    s = d.select("priority", "day", dir_col.alias("dir")).select(
        "priority", "dir", F.lag("dir").over(w.orderBy("day")).alias("prev_dir")
    )
    m = s.groupBy("priority").agg(
        F.count("dir").cast("bigint").alias("n"),
        F.sum("dir").cast("bigint").alias("n1"),
        (F.count("dir") - F.sum("dir")).cast("bigint").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("dir").isNotNull()
                    & F.col("prev_dir").isNotNull()
                    & (F.col("dir") != F.col("prev_dir")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
    )
    lhs_root = (F.col("runs") - 1) * F.col("n") - 2 * F.col("n1") * F.col("n2")
    verdict = (lhs_root * lhs_root * (F.col("n") - 1)) > (
        8 * F.col("n1") * F.col("n2") * (2 * F.col("n1") * F.col("n2") - F.col("n"))
    )
    return m.select(
        "priority", "n", "n1", "n2", "runs", verdict.alias("nonrandom_2sigma")
    ).orderBy("priority")


# -- deterministic bootstrap CI ----------------------------------------------

BOOT_R = 16  # replicas; half-sampling subsample bootstrap per replica


@register(
    "x_stats_bootstrap_ci",
    "Deterministic bootstrap confidence interval for the mean order "
    "value per priority: R=16 half-sample replicas (row in replica r "
    "iff the Lehmer/MINSTD mix (orderkey*48271 + r*16807) mod "
    "(2^31 - 1) is even - pure integer arithmetic both engines "
    "evaluate identically and ~10x cheaper per row than a digest "
    "string-build, exact at 100-TB key ranges since k*48271 < 2^63), "
    "replicate means in integer cents, and "
    "the spread statistics (min/max/variance numerator R*Sum(m^2) - "
    "(Sum m)^2) in exact int64 - the error bar a pipeline puts on "
    "every data statistic before comparing two corpus snapshots. "
    "Execution: the R-way replica expansion happens INSIDE the scan "
    "stage (explode over a 16-element literal, no shuffle), map-side "
    "combine collapses it to 5 priorities x 16 replicas = 80 partial "
    "rows, and everything after the first aggregate is 80-row "
    "arithmetic at any SF - the cost is an R-times wider scan, never "
    "an R-times shuffle.",
    f"""WITH x AS (
         SELECT o_orderpriority AS priority, r,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders, (SELECT unnest(range(0, {BOOT_R})) AS r)
         WHERE ((o_orderkey * 48271 + r * 16807) % 2147483647) % 2 = 0
       ),
       m AS (
         SELECT priority, r,
                CAST(SUM(cents) AS BIGINT) // COUNT(*) AS m_cents
         FROM x GROUP BY priority, r
       )
       SELECT priority,
              CAST(COUNT(*) AS BIGINT) AS n_replicas,
              CAST(SUM(m_cents) // COUNT(*) AS BIGINT) AS mean_cents,
              CAST(MIN(m_cents) AS BIGINT) AS lo_cents,
              CAST(MAX(m_cents) AS BIGINT) AS hi_cents,
              CAST(COUNT(*) * SUM(m_cents * m_cents)
                   - SUM(m_cents) * SUM(m_cents) AS BIGINT) AS var_num
       FROM m GROUP BY priority ORDER BY priority""",
)
def q_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    member = (
        (F.col("o_orderkey") * 48271 + F.col("r") * 16807) % 2147483647
    ) % 2 == 0
    x = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            "o_orderkey",
            quantize(F.col("o_totalprice"), 100).alias("cents"),
        )
        .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(BOOT_R - 1))))
        .filter(member)
    )
    m = x.groupBy("priority", "r").agg(
        F.expr("sum(cents) div count(*)").cast("bigint").alias("m_cents")
    )
    return (
        m.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
            F.expr("sum(m_cents) div count(*)").cast("bigint").alias("mean_cents"),
            F.min("m_cents").cast("bigint").alias("lo_cents"),
            F.max("m_cents").cast("bigint").alias("hi_cents"),
            (
                F.count(F.lit(1)) * F.sum(F.col("m_cents") * F.col("m_cents"))
                - F.sum("m_cents") * F.sum("m_cents")
            )
            .cast("bigint")
            .alias("var_num"),
        )
        .orderBy("priority")
    )


# -- Kendall tau-b rank correlation ------------------------------------------


def shared_daily_orders(spark: SparkSession, sf: str) -> DataFrame:
    """(day, x = order count, y = exact revenue cents) daily rollup over
    orders, computed ONCE per session × SF and eagerly localCheckpointed
    — the association triad's shared scaffolding (Kendall tau-b and
    Spearman rank the SAME rollup; before round 6 each consumer re-ran
    the fact scan + day shuffle). Day-bounded at any SF (3650 rows for
    a decade), so pinning it costs kilobytes of block storage."""
    from geostore_spark.operators.util import session_checkpoint

    def build() -> DataFrame:
        orders = load_table(spark, "orders", sf)
        return orders.groupBy(
            F.col("o_orderdate").cast("date").alias("day")
        ).agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(quantize(F.col("o_totalprice"), 100))
            .cast("bigint")
            .alias("y"),
        )

    return session_checkpoint(spark, ("daily_orders_xy", sf), build)


@register(
    "x_stats_kendall_tau",
    "Kendall tau-b rank correlation between daily order volume and "
    "daily revenue — the robust monotone-association check (Pearson "
    "corr exists at x_stats_corr; tau-b is its outlier-immune twin "
    "with exact tie handling). Concordant/discordant/tie counts are "
    "EXACT integers from an ordered pair join over the daily rollup — "
    "the rollup is bounded by distinct days at any SF (3650 rows for "
    "a decade), so the broadcast self-join is aggregate-sized and the "
    "one float op (the final tau ratio, correctly-rounded sqrt) is "
    "identical on both engines. Fact rows shuffle ONCE into the "
    "rollup; everything after is rollup-sized.",
    """WITH d AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                COUNT(*) AS x,
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS y
         FROM orders GROUP BY day
       ),
       p AS (
         SELECT CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                              OR (a.x > b.x AND a.y > b.y)
                         THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                              OR (a.x > b.x AND a.y < b.y)
                         THEN 1 ELSE 0 END) AS BIGINT) AS nd,
                CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT)
                  AS n1,
                CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
                  AS n2,
                CAST(COUNT(*) AS BIGINT) AS n0
         FROM d a JOIN d b ON a.day < b.day
       )
       SELECT nc, nd, n1, n2, n0,
              ROUND(CAST(nc - nd AS DOUBLE)
                    / sqrt(CAST((n0 - n1) AS DOUBLE) * (n0 - n2)), 6)
                AS tau_b
       FROM p""",
)
def stats_kendall_tau(spark: SparkSession, sf: str) -> DataFrame:
    # session-shared, checkpointed: feeds both sides of the pair join
    # here AND the rank windows in x_stats_spearman
    d = shared_daily_orders(spark, sf)
    a, b = d.alias("a"), d.alias("b")
    conc = (
        ((F.col("a.x") < F.col("b.x")) & (F.col("a.y") < F.col("b.y")))
        | ((F.col("a.x") > F.col("b.x")) & (F.col("a.y") > F.col("b.y")))
    )
    disc = (
        ((F.col("a.x") < F.col("b.x")) & (F.col("a.y") > F.col("b.y")))
        | ((F.col("a.x") > F.col("b.x")) & (F.col("a.y") < F.col("b.y")))
    )
    p = (
        a.join(F.broadcast(b), F.col("a.day") < F.col("b.day"))
        .agg(
            F.sum(conc.cast("long")).cast("bigint").alias("nc"),
            F.sum(disc.cast("long")).cast("bigint").alias("nd"),
            F.sum((F.col("a.x") == F.col("b.x")).cast("long"))
            .cast("bigint")
            .alias("n1"),
            F.sum((F.col("a.y") == F.col("b.y")).cast("long"))
            .cast("bigint")
            .alias("n2"),
            F.count(F.lit(1)).cast("bigint").alias("n0"),
        )
    )
    tau = F.round(
        (F.col("nc") - F.col("nd")).cast("double")
        / F.sqrt((F.col("n0") - F.col("n1")).cast("double") * (F.col("n0") - F.col("n2"))),
        6,
    )
    return p.select("nc", "nd", "n1", "n2", "n0", tau.alias("tau_b"))


# -- Mann-Whitney U (Wilcoxon rank-sum) --------------------------------------

MW_GROUP_A = "1-URGENT"
MW_GROUP_B = "5-LOW"
# DECIMAL(38,0) cross-multiplication bound: the largest term is
# (2U - n1*n2)^2 * 3n(n-1) <= (n^2/4)^2 * 3n^2 = 3n^6/16, which fits
# 38 digits iff n <= ~2.8e6; the guard keeps a provable margin. Past
# it BOTH engines emit NULL via the same CASE (unguarded, Spark would
# silently NULL on decimal overflow while DuckDB raises).
MW_EXACT_MAX_N = 2_000_000


@register(
    "x_stats_mann_whitney",
    "Mann-Whitney U (Wilcoxon rank-sum) between URGENT and LOW "
    "priority order values — the nonparametric twin of x_stats_ttest "
    "(no normality assumption; detects any location shift). Ranks "
    "with exact tie midpoints: doubled average rank of a tied value "
    "is the INTEGER 2*(count below) + count(tied) + 1, accumulated "
    "over the (cents -> counts) rollup with the two-phase distributed "
    "prefix sum (range partition + broadcast slice offsets — never a "
    "1-task global window). The 2-sigma verdict with the full tie "
    "correction is evaluated in DECIMAL(38,0) cross-multiplication; "
    "the worst term is bounded by 3n^6/16, so the decimals provably "
    "fit width 38 for n <= 2M combined — past that bound the verdict "
    "is emitted NULL by an explicit CASE on BOTH engines (without the "
    "guard Spark would silently NULL on overflow while DuckDB "
    "errors); a deployment needing the verdict at larger n compares "
    "in int256. Fact rows shuffle once into the value rollup; every "
    "later stage is rollup- or scalar-sized.",
    f"""WITH v AS (
         SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                COUNT(*) AS cnt,
                CAST(SUM(CASE WHEN o_orderpriority = '{MW_GROUP_A}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS na
         FROM orders
         WHERE o_orderpriority IN ('{MW_GROUP_A}', '{MW_GROUP_B}')
         GROUP BY cents
       ),
       c AS (
         SELECT cents, cnt, na,
                SUM(cnt) OVER (ORDER BY cents) - cnt AS below
         FROM v
       ),
       m AS (
         SELECT CAST(SUM(na) AS BIGINT) AS n1,
                CAST(SUM(cnt - na) AS BIGINT) AS n2,
                CAST(SUM(na * (2 * below + cnt + 1)) AS BIGINT) AS r1_2x,
                CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
         FROM c
       )
       SELECT n1, n2,
              CAST(r1_2x - n1 * (n1 + 1) AS BIGINT) AS u1_2x,
              tie_term,
              CASE WHEN n1 + n2 <= {MW_EXACT_MAX_N} THEN
                (CAST(r1_2x - n1 * (n1 + 1) - n1 * n2 AS DECIMAL(38, 0))
                   * CAST(r1_2x - n1 * (n1 + 1) - n1 * n2 AS DECIMAL(38, 0))
                   * CAST(3 * (n1 + n2) * (n1 + n2 - 1) AS DECIMAL(38, 0)))
                > (CAST(4 * n1 AS DECIMAL(38, 0)) * CAST(n2 AS DECIMAL(38, 0))
                   * CAST((n1 + n2) * ((n1 + n2) * (n1 + n2) - 1) - tie_term
                          AS DECIMAL(38, 0)))
              END AS shift_2sigma
       FROM m""",
)
def stats_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    from geostore_spark.operators.util import distributed_prefix_sum

    orders = load_table(spark, "orders", sf)
    v = (
        orders.filter(F.col("o_orderpriority").isin(MW_GROUP_A, MW_GROUP_B))
        .groupBy(
            quantize(F.col("o_totalprice"), 100)
            .alias("cents")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum((F.col("o_orderpriority") == MW_GROUP_A).cast("long"))
            .cast("bigint")
            .alias("na"),
        )
    )
    from geostore_spark.operators.dedup import _count_rows_cheap

    # value-level rows <= orders rows: a cheap metadata bound for the
    # helper's local-window dispatch
    c = distributed_prefix_sum(
        v, [], ["cents"], "cnt", out_name="cum",
        row_count=_count_rows_cheap(orders),
    )
    c = c.withColumn("below", F.col("cum") - F.col("cnt"))
    m = c.agg(
        F.sum("na").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("na")).cast("bigint").alias("n2"),
        F.sum(F.col("na") * (2 * F.col("below") + F.col("cnt") + 1))
        .cast("bigint")
        .alias("r1_2x"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_term"),
    )
    u1_2x = (F.col("r1_2x") - F.col("n1") * (F.col("n1") + 1)).cast("bigint")
    n = F.col("n1") + F.col("n2")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    lhs = (
        dec(u1_2x - F.col("n1") * F.col("n2"))
        * dec(u1_2x - F.col("n1") * F.col("n2"))
        * dec(3 * n * (n - 1))
    )
    rhs = (
        dec(4 * F.col("n1"))
        * dec(F.col("n2"))
        * dec(n * (n * n - 1) - F.col("tie_term"))
    )
    verdict = F.when(n <= MW_EXACT_MAX_N, lhs > rhs)
    return m.select(
        "n1", "n2", u1_2x.alias("u1_2x"), "tie_term",
        verdict.alias("shift_2sigma"),
    )


# -- Spearman rank correlation -----------------------------------------------


@register(
    "x_stats_spearman",
    "Spearman rank correlation between daily order volume and revenue "
    "— completes the association triad (x_stats_corr Pearson on "
    "values; x_stats_kendall_tau pair-concordance; Spearman = Pearson "
    "on ranks, robust to monotone-nonlinear relations). Ties use "
    "exact midpoint ranks via the DOUBLED-rank integer trick "
    "(2*avg_rank = 2*rank_min + cnt_tied - 1), so every moment the "
    "Pearson form needs is an exact int64 over the day-bounded rollup "
    "(<= 3650 rows for a decade: the rank windows run over the "
    "ROLLUP, explicitly rollup-sized at any SF — fact rows shuffle "
    "once). Only the final ratio is floating, identical on both "
    "engines.",
    """WITH d AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                COUNT(*) AS x,
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS y
         FROM orders GROUP BY day
       ),
       r AS (
         SELECT 2 * RANK() OVER (ORDER BY x)
                  + COUNT(*) OVER (PARTITION BY x) - 1 AS rx2,
                2 * RANK() OVER (ORDER BY y)
                  + COUNT(*) OVER (PARTITION BY y) - 1 AS ry2
         FROM d
       ),
       m AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(rx2) AS BIGINT) AS sx,
                CAST(SUM(ry2) AS BIGINT) AS sy,
                CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy,
                CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
                CAST(SUM(ry2 * ry2) AS BIGINT) AS syy
         FROM r
       )
       SELECT n, sx, sy, sxy, sxx, syy,
              ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                           * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                AS rho
       FROM m""",
)
def stats_spearman(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = shared_daily_orders(spark, sf)

    def rank2(col: str):
        # doubled midpoint rank: 2*rank_min + n_tied - 1, all integer;
        # the windows run over the day-bounded ROLLUP (never fact rows)
        return (
            2 * F.rank().over(Window.orderBy(col))
            + F.count(F.lit(1)).over(Window.partitionBy(col))
            - 1
        ).cast("bigint")

    r = d.select(rank2("x").alias("rx2"), rank2("y").alias("ry2"))
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx"),
        F.sum("ry2").cast("bigint").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"),
    )
    rho = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        ),
        6,
    )
    return m.select("n", "sx", "sy", "sxy", "sxx", "syy", rho.alias("rho"))


# -- Theil-Sen robust slope ----------------------------------------------------

TS_BUCKETS = 8192
# histogram selection keeps the winner bucket executor-light; a bucket
# this big means the slopes are pathologically concentrated and the
# exact two-phase rank is the honest fallback
TS_WINNER_MAX = 200_000


@register(
    "x_stats_theil_sen",
    "Theil-Sen robust trend: the MEDIAN pairwise slope of daily revenue "
    "against daily order volume — the estimator drift dashboards use "
    "when OLS (x_stats_linreg) is poisoned by outlier days (up to 29% "
    "contamination tolerated). Pairs come from the session-shared daily "
    "rollup (day-bounded at ANY SF: the date range is fixed, so the "
    "pair table is rollup-squared, never fact-squared — fact rows "
    "shuffle once into the rollup). The median is a deterministic "
    "SELECTION, not an interpolation — ordered by (slope, day_a, "
    "day_b), so both engines pick ONE pair whose IEEE-double slope is "
    "computed identically. The k-th element is found by HISTOGRAM "
    "SELECTION, never a sort: one stats pass (count/min/max), one "
    "8192-bucket count pass (map-side combined; <= 8192 rows "
    "collected), then only the winner bucket's ~n/8192 rows leave the "
    "executors for the final local pick — the pair stream itself is "
    "never range-shuffled or ranked (measured 2.9 s -> ~1 s vs the "
    "two-phase rank at sf0.1; a numpy full-selection kernel was "
    "2-3x slower still — Arrow handoff). Degenerate slope "
    "concentrations (winner bucket > 200k rows, or zero width) fall "
    "back to the two-phase distributed ROW_NUMBER path.",
    """WITH d AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                COUNT(*) AS x,
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS y
         FROM orders GROUP BY day
       ),
       p AS (
         SELECT a.day AS da, b.day AS db,
                CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
         FROM d a JOIN d b ON a.day < b.day AND a.x != b.x
       ),
       r AS (
         SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, da, db) AS i,
                COUNT(*) OVER () AS n
         FROM p
       )
       SELECT CAST(n AS BIGINT) AS n_pairs,
              ROUND(slope, 6) AS median_slope_cents_per_order
       FROM r WHERE i = (n + 1) // 2""",
)
def stats_theil_sen(spark: SparkSession, sf: str) -> DataFrame:
    d = shared_daily_orders(spark, sf)
    a, b = d.alias("a"), d.alias("b")
    p = a.join(
        F.broadcast(b),
        (F.col("a.day") < F.col("b.day")) & (F.col("a.x") != F.col("b.x")),
    ).select(
        F.col("a.day").alias("da"),
        F.col("b.day").alias("db"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x"))
        ).alias("slope"),
    )
    # pair stream is consumed by 2-3 cheap scans — pin it once (70 MB
    # of (date, date, float8) blocks at a decade of days)
    p = p.transform(pin_branch_point)
    stats = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("slope").alias("lo"),
        F.max("slope").alias("hi"),
    ).collect()[0]
    n, lo, hi = int(stats["n"]), stats["lo"], stats["hi"]
    k = (n + 1) // 2  # 1-based lower-median rank under (slope, da, db)
    if n > 0 and hi > lo:
        width = (hi - lo) / TS_BUCKETS
        bucket = F.least(
            F.lit(TS_BUCKETS - 1),
            F.floor((F.col("slope") - F.lit(lo)) / F.lit(width)).cast("int"),
        )
        hist = sorted(
            (int(r["b"]), int(r["c"]))
            for r in p.groupBy(bucket.alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        below, winner = 0, hist[-1][0]
        for bid, c in hist:
            if below + c >= k:
                winner = bid
                break
            below += c
        tiers = [("winner_bucket", TS_WINNER_MAX), ("two_phase_rank", None)]
        tier = choose_tier("theil_sen_select", tiers, n_rows=dict(hist)[winner])
        if tier == "winner_bucket":
            picked = (
                p.filter(bucket == winner)
                .orderBy("slope", "da", "db")
                .limit(k - below)
                .orderBy(F.col("slope").desc(), F.col("da").desc(), F.col("db").desc())
                .limit(1)
            )
            return picked.select(
                F.lit(n).cast("bigint").alias("n_pairs"),
                F.round(F.col("slope"), 6).alias(
                    "median_slope_cents_per_order"
                ),
            )
    # fallback: zero pairs, zero-width slope range, or a degenerate
    # winner bucket — exact two-phase distributed rank
    from geostore_spark.operators.util import distributed_row_number

    ranked, counts = distributed_row_number(
        p, [], ["slope", "da", "db"], rn_name="i",
        row_count=n,  # exact: the pair count was already materialized
    )
    n_df = counts.select(F.col("_n").cast("bigint").alias("n_pairs"))
    return (
        ranked.join(F.broadcast(n_df))
        .filter(F.col("i") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "n_pairs",
            F.round(F.col("slope"), 6).alias("median_slope_cents_per_order"),
        )
    )


# -- Mann-Kendall trend test ---------------------------------------------------


@register(
    "x_stats_mann_kendall",
    "Mann-Kendall monotonic-trend test on the daily revenue series — "
    "the standard is-this-series-drifting gate (hydrology/climate "
    "lineage) and the one-series complement of x_stats_kendall_tau "
    "(which correlates TWO series): S = sum of sign(y_j - y_i) over "
    "all day pairs i<j, with the exact tie-corrected variance "
    "Var = [n(n-1)(2n+5) - sum t(t-1)(2t+5)] / 18. Everything is "
    "integer-exact — the 2-sigma verdict is the cross-multiplied "
    "9*S^2 > 2*[n(n-1)(2n+5) - tie_term], so no float forms at all. "
    "Rides the session-shared daily rollup (day-bounded at any SF; "
    "fact rows shuffle once); the pair join broadcasts the rollup "
    "against itself, aggregate-sized forever.",
    """WITH d AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS y
         FROM orders GROUP BY day
       ),
       s AS (
         SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                              WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
                  AS s_stat
         FROM d a JOIN d b ON a.day < b.day
       ),
       n_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
       t_ AS (
         SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                  AS tie_term
         FROM (SELECT COUNT(*) AS t FROM d GROUP BY y) g WHERE t > 1
       )
       SELECT s_stat, n, tie_term,
              9 * s_stat * s_stat
                > 2 * (n * (n - 1) * (2 * n + 5) - tie_term)
                AS trend_2sigma
       FROM s, n_, t_""",
)
def stats_mann_kendall(spark: SparkSession, sf: str) -> DataFrame:
    d = shared_daily_orders(spark, sf).select("day", "y")
    a, b = d.alias("a"), d.alias("b")
    s = a.join(F.broadcast(b), F.col("a.day") < F.col("b.day")).agg(
        F.sum(
            F.when(F.col("b.y") > F.col("a.y"), 1)
            .when(F.col("b.y") < F.col("a.y"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    n_ = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t_ = (
        d.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    out = s.join(F.broadcast(n_)).join(F.broadcast(t_))
    verdict = (9 * F.col("s_stat") * F.col("s_stat")) > (
        2
        * (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_term")
        )
    )
    return out.select(
        "s_stat", "n", "tie_term", verdict.alias("trend_2sigma")
    )
