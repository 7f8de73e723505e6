"""Scalar function library tests (SURVEY §2.7): key codecs, URL parsing,
href rewrite, Unicode title validation, truncation, title-case."""

from __future__ import annotations

from pyspark.sql import functions as F

from geostore_spark import functions as gf


def test_key_roundtrip(spark):
    df = spark.createDataFrame([("abc", "v1")], "id string, ver string").select(
        gf.dataset_hash_key(F.col("id"), F.col("ver")).alias("hk"),
        gf.dataset_hash_key(F.col("id")).alias("pk"),
    )
    row = df.first()
    assert row["hk"] == "DATASET#abc#VERSION#v1"
    assert row["pk"] == "DATASET#abc"
    back = df.select(
        gf.split_hash_key(F.col("hk"), 1).alias("id"),
        gf.split_hash_key(F.col("hk"), 3).alias("ver"),
    ).first()
    assert (back["id"], back["ver"]) == ("abc", "v1")


def test_url_functions(spark):
    url = "s3://bucket-x/a/b/item.json"
    row = (
        spark.range(1)
        .select(
            gf.basename(F.lit(url)).alias("base"),
            gf.dirname(F.lit(url)).alias("dir"),
            gf.parse_s3_bucket(F.lit(url)).alias("bucket"),
            gf.parse_s3_key(F.lit(url)).alias("key"),
            gf.is_s3_url(F.lit(url)).alias("is_s3"),
            gf.is_s3_url(F.lit("http://x/y")).alias("is_http"),
        )
        .first()
    )
    assert row["base"] == "item.json"
    assert row["dir"] == "s3://bucket-x/a/b"
    assert row["bucket"] == "bucket-x"
    assert row["key"] == "a/b/item.json"
    assert row["is_s3"] and not row["is_http"]


def test_title_validation_unicode(spark):
    # macron titles valid (Te Reo Māori alphabet); spaces/symbols invalid
    rows = (
        spark.createDataFrame(
            [("Kōwhai_2024",), ("plain-title",), ("bad title",), ("semi;colon",)],
            "t string",
        )
        .select("t", gf.valid_title(F.col("t")).alias("ok"))
        .collect()
    )
    assert [r["ok"] for r in rows] == [True, True, False, False]


def test_href_rewrite_and_truncate_and_title_case(spark):
    df = spark.createDataFrame(
        [([{"href": "s3://b/deep/path/f.json", "rel": "item"}], "fAiLeD")],
        "links array<struct<href string, rel string>>, status string",
    )
    row = df.select(
        gf.href_to_basename(F.col("links")).alias("links"),
        gf.truncate_chars(F.lit("x" * 5000)).alias("short"),
        gf.title_case(F.col("status")).alias("s"),
    ).first()
    assert row["links"][0]["href"] == "f.json"
    assert row["links"][0]["rel"] == "item"
    assert len(row["short"]) == 3000
    assert row["s"] == "Failed"


def test_hex_digest_matches_duckdb(spark):
    import duckdb

    vals = ["alpha", "Kōwhai", ""]
    spark_rows = (
        spark.createDataFrame([(v,) for v in vals], "v string")
        .select("v", gf.hex_digest_32(F.col("v")).alias("d"))
        .collect()
    )
    got = {r["v"]: r["d"] for r in spark_rows}
    con = duckdb.connect()
    for v in vals:
        (exp,) = con.execute(
            "SELECT ('0x' || substring(md5(?), 1, 8))::BIGINT", [v]
        ).fetchone()
        assert got[v] == exp, v


def test_quantize_equals_spark_round_for_non_negative(spark):
    """The codegen quantize (floor(v*scale + 0.5)) must be
    value-identical to Spark's BigDecimal-backed round() on every
    non-negative input it replaced — including exact .5 boundaries
    (both round up) and float-error neighbors of integers. This is the
    contract behind the r11 hot-path sweep (cov_matrix measured
    1.29 s -> 0.76 s at sf1 from this substitution alone)."""
    from pyspark.sql import functions as F

    from geostore_spark.operators.util import quantize

    vals = [
        0.0, 0.004, 0.005, 0.0049999999, 123.45, 123.455, 123.456,
        0.125, 999999.995, 12344.999999999, 1.005, 2.675,  # classic float traps
        94999.5, 0.505, 10.015,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = df.select(
        quantize(F.col("v"), 100).alias("q"),
        F.round(F.col("v") * 100, 0).cast("bigint").alias("r"),
    ).collect()
    for row, v in zip(out, vals):
        assert row["q"] == row["r"], (v, row["q"], row["r"])


def test_quantize_signed_equals_spark_round_for_either_sign(spark):
    """quantize_signed (sign-split floor) must be value-identical to
    Spark's BigDecimal-backed round() on sign-mixed inputs — HALF_UP
    rounds ties AWAY from zero, which the plain quantize floor form
    gets wrong for negatives (its exact .5 rounds toward +inf). Covers
    exact .5 boundaries on both signs and float-error neighbors."""
    from pyspark.sql import functions as F

    from geostore_spark.operators.util import quantize_signed

    vals = [
        0.0, 0.004, 0.005, -0.004, -0.005, -0.0049999999,
        123.455, -123.455, 0.125, -0.125, -999999.995, -12344.999999999,
        1.005, -1.005, 2.675, -2.675, -94999.5, 94999.5, -10.015,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = df.select(
        quantize_signed(F.col("v"), 100).alias("q"),
        F.round(F.col("v") * 100, 0).cast("bigint").alias("r"),
    ).collect()
    for row, v in zip(out, vals):
        assert row["q"] == row["r"], (v, row["q"], row["r"])


def test_limb_sum_reassembles_exact_python_sum(spark):
    """limb_sum_aggs / limb_total_expr (the split-limb BIGINT
    accumulation behind the r11 decimal-sum sweep) must reassemble the
    EXACT sum of its non-negative bigint inputs — including zeros and
    values near 2^62, where a plain bigint SUM would overflow but the
    21-bit limb split must not (r11 advisor: the helpers had no direct
    unit test, only indirect query-oracle coverage)."""
    from geostore_spark.operators.util import limb_sum_aggs, limb_total_expr

    vals = [
        0,
        1,
        (1 << 21) - 1,          # lo-limb boundary
        1 << 21,                # first mid-limb unit
        (1 << 42) - 1,          # mid-limb boundary
        1 << 42,                # first hi-limb unit
        (1 << 62) - 1,          # near-max magnitude
        (1 << 62) + 12345,
        987654321987654321,
        7,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "p bigint")
    out = (
        df.agg(*limb_sum_aggs("p", "t"))
        .selectExpr(limb_total_expr("t", "total"))
        .collect()[0]
    )
    assert int(out["total"]) == sum(vals)


def test_limb_sum_grouped_matches_per_group_python_sum(spark):
    """Grouped limb accumulation: each group's reassembled DECIMAL(38,0)
    total equals the exact per-group Python sum (the shape every
    limb-sweep call site uses — per-key aggregates, not one global
    row)."""
    from geostore_spark.operators.util import limb_sum_aggs, limb_total_expr

    rows = [
        ("a", 0),
        ("a", (1 << 62) - 1),
        ("a", (1 << 62) - 1),
        ("a", (1 << 62) - 1),   # group sum 3*(2^62)-3 exceeds int64 max
        ("b", 123456789),
        ("b", 1 << 42),
        ("c", 0),
    ]
    df = spark.createDataFrame(rows, "k string, p bigint")
    got = {
        r["k"]: int(r["total"])
        for r in df.groupBy("k")
        .agg(*limb_sum_aggs("p", "t"))
        .selectExpr("k", limb_total_expr("t", "total"))
        .collect()
    }
    want = {}
    for k, v in rows:
        want[k] = want.get(k, 0) + v
    assert got == want


def test_local_rows_df_handles_empty_and_typed_rows(spark):
    """r12 review: the Arrow branch must return an empty TYPED frame on
    zero rows (createDataFrame(pdf) alone raises
    CANNOT_INFER_EMPTY_SCHEMA), and round-trip values/dtypes like the
    list branch it replaces."""
    from geostore_spark.operators.util import local_rows_df

    empty = local_rows_df(spark, [], "lang string, bucket int, acc long")
    assert empty.count() == 0
    assert [f.simpleString() for f in empty.schema.fields] == [
        "lang:string", "bucket:int", "acc:bigint"
    ]
    rows = [("en", 3, 1 << 40), ("de", 0, 0)]
    got = local_rows_df(spark, rows, "lang string, bucket int, acc long")
    assert sorted(tuple(r) for r in got.collect()) == sorted(rows)
    # richer DDL falls back to the list branch
    m = local_rows_df(spark, [([1, 2],)], "xs array<int>")
    assert m.collect()[0]["xs"] == [1, 2]


def test_local_rows_df_falls_back_on_uncastable_ints(spark):
    """A value the numpy cast cannot carry goes through the list branch:
    an int column never wraps a value outside int32 into a wrong number
    (the list branch rejects it), and a None in an int column becomes a
    typed null instead of raising."""
    import pytest

    from geostore_spark.operators.util import local_rows_df

    with pytest.raises(Exception, match="VALUE_OUT_OF_BOUNDS"):
        local_rows_df(spark, [(1,), (1 << 40,)], "x int").collect()
    nulls = local_rows_df(spark, [(1, 2), (None, None)], "a int, b long")
    assert {tuple(r) for r in nulls.collect()} == {(1, 2), (None, None)}
    only_null = local_rows_df(spark, [(None,)], "a int")
    assert [tuple(r) for r in only_null.collect()] == [(None,)]
