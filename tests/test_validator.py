"""5-layer validator: passes on an uncorrupted copy, and each FIXTURES.md
B4 corruption variant is caught by exactly the layer designed for it."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from snowflake_to_postgres_spark.operators.validation import (
    DataValidator,
    check_sentinel_dates,
    detect_date_column,
    numeric_columns,
)
from snowflake_to_postgres_spark.sources import load_table


PKS = ["l_orderkey", "l_linenumber"]


def _v(src, tgt):
    return DataValidator(src, tgt, pk_columns=PKS)


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").cache()


def _by_check(res):
    return {c.name: c for c in res.checks}


def test_clean_copy_passes_all_layers(spark, sf_dir, li):
    # lineitem's synthetic (orderkey, linenumber) is NOT unique, so the
    # L5 sample layer runs on orders (unique o_orderkey); L1-L4 on lineitem.
    res = DataValidator(li, li).validate("lineitem")
    assert all(c.passed for c in res.checks if c.name != "row_sample")
    orders = load_table(spark, sf_dir, "orders")
    res2 = DataValidator(orders, orders, pk_columns=["o_orderkey"]).validate("orders")
    assert res2.passed, [c.name for c in res2.checks if not c.passed]


def test_non_unique_pk_is_surfaced(li):
    res = _v(li, li).validate("lineitem")
    c = {x.name: x for x in res.checks}["row_sample"]
    assert not c.passed and "not unique" in c.details[0]


def test_drop_rows_caught_by_rowcount(li):
    tgt = li.filter(F.col("l_orderkey") % 101 != 0)
    checks = _by_check(_v(li, tgt).validate())
    assert not checks["row_count"].passed


def test_drop_day_caught_by_partition_counts(li):
    one_day = li.select(F.col("l_shipdate").cast("date").alias("d")).first()["d"]
    tgt = li.filter(F.col("l_shipdate").cast("date") != F.lit(one_day))
    checks = _by_check(_v(li, tgt).validate())
    assert not checks["partition_counts"].passed
    n = li.filter(F.col("l_shipdate").cast("date") == F.lit(one_day)).count()
    assert checks["partition_counts"].details == [f"{one_day}: source={n} target=0"]


def test_null_column_caught_by_column_stats(li):
    tgt = li.withColumn(
        "l_tax", F.when(F.col("l_orderkey") % 53 == 0, None).otherwise(F.col("l_tax"))
    )
    checks = _by_check(_v(li, tgt).validate())
    assert not checks["column_stats"].passed
    k = tgt.filter(F.col("l_tax").isNull()).count()
    assert checks["column_stats"].details == [f"null__l_tax: source=0 target={k}"]


def test_clipped_max_caught_by_column_stats(li):
    mx = li.agg(F.max("l_extendedprice")).collect()[0][0]
    tgt = li.withColumn(
        "l_extendedprice",
        F.when(F.col("l_extendedprice") == mx, mx - 1.0).otherwise(
            F.col("l_extendedprice")
        ),
    )
    checks = _by_check(_v(li, tgt).validate())
    assert not checks["column_stats"].passed


def test_perturbed_value_caught_by_fingerprints(li):
    # counts unchanged, min/max unchanged: only the SUM fingerprint sees it
    k = li.select("l_orderkey", "l_linenumber").first()
    tgt = li.withColumn(
        "l_quantity",
        F.when(
            (F.col("l_orderkey") == k["l_orderkey"])
            & (F.col("l_linenumber") == k["l_linenumber"]),
            F.col("l_quantity") + 0.25,
        ).otherwise(F.col("l_quantity")),
    )
    checks = _by_check(_v(li, tgt).validate())
    assert not checks["aggregate_fingerprints"].passed
    # (orderkey, linenumber) is not unique: every date of a perturbed row
    days = sorted(
        r["d"]
        for r in li.filter(
            (F.col("l_orderkey") == k["l_orderkey"])
            & (F.col("l_linenumber") == k["l_linenumber"])
        ).select(F.col("l_shipdate").cast("date").alias("d")).distinct().collect()
    )
    assert checks["aggregate_fingerprints"].details == [
        f"{d}: fingerprint mismatch" for d in days
    ]
    assert checks["row_count"].passed
    assert checks["partition_counts"].passed


def _null_dates(orders):
    """orders with every 7th o_orderdate NULL."""
    return orders.withColumn(
        "o_orderdate",
        F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_orderdate")),
    )


def test_null_dates_match_themselves(spark, sf_dir):
    # the NULL date is one group on each side, and NULL matches NULL
    o2 = _null_dates(load_table(spark, sf_dir, "orders"))
    res = DataValidator(o2, o2).validate("orders")
    assert all(c.passed for c in res.checks), [
        (c.name, c.details) for c in res.checks if not c.passed
    ]


def test_null_date_count_difference_reported_once(spark, sf_dir):
    o2 = _null_dates(load_table(spark, sf_dir, "orders"))
    tgt = o2.filter(~(F.col("o_orderdate").isNull() & (F.col("o_orderkey") % 14 == 0)))
    a = o2.filter(F.col("o_orderdate").isNull()).count()
    b = tgt.filter(F.col("o_orderdate").isNull()).count()
    assert a > b > 0
    checks = _by_check(DataValidator(o2, tgt).validate())
    assert checks["partition_counts"].details == [f"None: source={a} target={b}"]


def test_swapped_fields_caught_by_row_sample(spark, sf_dir):
    # swap status/priority on every row: counts/dates/sums unchanged
    orders = load_table(spark, sf_dir, "orders")
    tgt = orders.withColumn("tmp", F.col("o_orderstatus")).withColumn(
        "o_orderstatus", F.col("o_orderpriority")
    ).withColumn("o_orderpriority", F.col("tmp")).drop("tmp")
    checks = _by_check(
        DataValidator(orders, tgt, pk_columns=["o_orderkey"]).validate()
    )
    assert not checks["row_sample"].passed


def test_missing_sampled_rows_reported(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    tgt = orders.filter(F.col("o_orderkey") > 50)
    checks = _by_check(
        DataValidator(orders, tgt, pk_columns=["o_orderkey"]).validate()
    )
    assert not checks["row_sample"].passed
    # the missing count is exact: sampled source keys absent from target
    sampled = orders.filter(
        F.md5(F.col("o_orderkey").cast("string")).startswith("0")
    )
    n_missing = sampled.filter(F.col("o_orderkey") <= 50).count()
    assert n_missing > 0, "fixture has no sampled key <= 50"
    assert f"{n_missing} sampled rows missing in target" in checks["row_sample"].details


def test_date_column_heuristic(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    assert detect_date_column(li.schema) == "l_shipdate"
    ev = load_table(spark, sf_dir, "events")
    # 'ts' has no name hint → falls back to first temporal column
    assert detect_date_column(ev.schema) == "ts"
    assert detect_date_column(load_table(spark, sf_dir, "region").schema) is None


def test_numeric_classification(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    assert set(numeric_columns(li.schema)) == {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    }


def test_sentinel_date_guard(spark, li):
    ok = check_sentinel_dates(li, "l_shipdate")
    assert ok.passed
    bad = li.withColumn(
        "l_shipdate",
        F.when(F.col("l_orderkey") == 1, F.lit("9999-12-31").cast("timestamp")).otherwise(
            F.col("l_shipdate")
        ),
    )
    assert not check_sentinel_dates(bad, "l_shipdate").passed


def test_schema_drift_report(spark):
    from pyspark.sql import types as T

    from snowflake_to_postgres_spark.operators.validation import schema_drift_report

    src = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("price", T.DecimalType(18, 2), True),
        T.StructField("dropped_col", T.StringType(), True),
    ])
    tgt = T.StructType([
        T.StructField("id", T.LongType(), True),          # nullability relaxed
        T.StructField("name", T.StringType(), True),      # unchanged
        T.StructField("price", T.DoubleType(), True),     # retyped
        T.StructField("new_col", T.DateType(), True),     # added
    ])
    drifts = {d["column"]: d for d in schema_drift_report(src, tgt)}
    assert set(drifts) == {"id", "price", "dropped_col", "new_col"}
    assert drifts["id"]["kind"] == "nullability"
    assert drifts["price"]["kind"] == "type_changed"
    assert drifts["price"]["source_type"] == "decimal(18,2)"
    assert drifts["dropped_col"]["kind"] == "removed"
    assert drifts["new_col"]["kind"] == "added"
    # identical schemas -> empty report; DataFrames accepted directly
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    assert schema_drift_report(df, df) == []
