"""Tests for schema analyzer + star transformer (SURVEY §2.4 A1, §3.3).

The fixture mirrors the reference's products example shape
(FIXTURES.md §A1): id/category/brand attributes + price/quantity/rating
children, expected dims {accessories→1, electronics→2}, {Apple→1, Samsung→2}.
"""

from __future__ import annotations

from datetime import date
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from xml_to_parquet_spark.plans import (
    analyze_schema,
    build_star_schema,
    classify_profile,
    profile_columns,
    validate_star_schema,
)


_PRODUCT_ROWS = [
    ("1", "electronics", "Samsung", "Galaxy S21", "799.99", "50", "4.5"),
    ("2", "electronics", "Apple", "iPhone 13", "999.99", "30", "4.8"),
    ("3", "accessories", "Samsung", "Charger", "29.99", "200", None),
]
_PRODUCT_SCHEMA = (
    "id string, category string, brand string, name string, "
    "price string, quantity string, rating string"
)


def _big_products(spark):
    """96 rows in a handful of partitions (not a union tower of 128)."""
    return spark.createDataFrame(_PRODUCT_ROWS * 32, _PRODUCT_SCHEMA)


@pytest.fixture(scope="module")
def products_df(spark):
    # same shape as the reference's products.xml records (values are ours)
    return spark.createDataFrame(_PRODUCT_ROWS, _PRODUCT_SCHEMA)


def test_profile_metrics(spark, products_df):
    prof = {r["column"]: r for r in profile_columns(products_df).collect()}
    p = prof["price"]
    assert p["n_rows"] == 3 and p["nonnull_count"] == 3
    assert p["unique_count"] == 3
    assert p["numeric_ratio"] == 1.0
    r = prof["rating"]
    assert r["nonnull_count"] == 2
    assert abs(r["null_ratio"] - 1 / 3) < 1e-12
    assert prof["category"]["sample_values"] == "accessories|electronics"
    assert prof["brand"]["unique_count"] == 2


def test_classification_ladder(spark, products_df):
    cat = analyze_schema(products_df)
    assert cat["id"]["classification"] == "identifier"
    assert cat["price"]["classification"] == "measure"
    assert cat["quantity"]["classification"] == "measure"
    assert cat["rating"]["classification"] == "measure"
    # 2 distinct of 3 rows: fails the <10% rule at this tiny size → not a
    # dimension by the strict ladder; verify ladder order on a bigger frame
    cat_big = analyze_schema(_big_products(spark))
    assert cat_big["category"]["classification"] == "dimension"
    assert cat_big["brand"]["classification"] == "dimension"
    # 3 distinct names over 96 rows < 10% → low-cardinality dimension
    assert cat_big["name"]["classification"] == "dimension"


def test_data_type_rules(spark):
    df = spark.createDataFrame(
        [("1.0", "x" * 150, "7a"), ("2.5", "y" * 150, "8b"), ("abc", "z", "9")],
        "mixed string, long string, coded string",
    )
    prof = {r["column"]: r for r in profile_columns(df).collect()}
    assert prof["mixed"]["data_type"] == "mixed_numeric"  # 2/3 numeric
    assert prof["long"]["data_type"] == "text"  # mean_length > 100


def test_analyze_fast_path_equals_dataframe_path(spark):
    """analyze_schema's driver-side reshape must match the DataFrame
    profile (classify_profile∘profile_columns) field-for-field, including
    the NULL-ratio edge (all-null column) and ladder fallthroughs."""
    df = spark.createDataFrame(
        [
            ("1", "electronics", None, "1.5", "x" * 150),
            ("2", "electronics", None, "abc", "y" * 150),
            ("3", "accessories", None, "2.5", "z"),
        ],
        "id string, category string, empty string, mixed string, "
        "long string",
    )
    want = {
        r["column"]: r.asDict()
        for r in classify_profile(profile_columns(df)).collect()
    }
    got = analyze_schema(df)
    assert set(got) == set(want)
    for c, info in got.items():
        for k, v in info.items():
            assert v == want[c][k], (c, k, v, want[c][k])


def test_star_schema_golden(spark, products_df):
    big = _big_products(spark)
    catalog = analyze_schema(big)
    star = build_star_schema(big, catalog, id_column="id", batch_id="t1")

    # dims: global sorted keys — FIXTURES.md §A1 golden values
    cat_rows = star.dimensions["category"].orderBy("category_key").collect()
    assert [(r.category_key, r.category) for r in cat_rows] == [
        (1, "accessories"),
        (2, "electronics"),
    ]
    brand_rows = star.dimensions["brand"].orderBy("brand_key").collect()
    assert [(r.brand_key, r.brand) for r in brand_rows] == [
        (1, "Apple"),
        (2, "Samsung"),
    ]
    assert cat_rows[0].is_active is True and cat_rows[0].created_date is not None

    fact = star.fact
    assert "category" not in fact.columns and "category_key" in fact.columns
    assert dict(fact.dtypes)["price"] == "double"
    assert fact.filter(F.col("batch_id") == "t1").count() == 96
    one = fact.filter((F.col("id") == "1")).limit(1).collect()[0]
    assert (one.category_key, one.brand_key, one.price) == (2, 2, 799.99)

    assert validate_star_schema(star) == {"fact": [], "dimensions": []}


def test_star_schema_no_measures_gets_record_count(spark):
    df = spark.createDataFrame([("1", "a"), ("2", "b")], "id string, g string")
    catalog = {
        "id": {"classification": "identifier"},
        "g": {"classification": "dimension"},
    }
    star = build_star_schema(df, catalog, include_audit=False)
    assert "record_count" in star.fact.columns
    assert star.fact.agg(F.sum("record_count")).collect()[0][0] == 2


def test_star_fact_never_shuffled(spark, products_df):
    """Keys attach by map lookup: the fact's executed plan has no
    exchange and no join, before and after adaptive execution."""
    catalog = {
        "id": {"classification": "identifier"},
        "category": {"classification": "dimension"},
        "brand": {"classification": "dimension"},
        "price": {"classification": "measure"},
    }
    star = build_star_schema(products_df, catalog, include_audit=False)
    qe = star.fact._jdf.queryExecution()
    before = qe.executedPlan().toString()
    assert len(star.fact.collect()) == 3
    after = qe.executedPlan().toString()  # the final adaptive plan
    for plan in (before, after):
        assert "Exchange" not in plan, plan
        assert "Join" not in plan and "CartesianProduct" not in plan, plan


_D, _DT = Decimal, date
_DIM_ROWS = [
    ("1", "b", 10, _D("1.50"), _DT(2024, 1, 2)),
    ("2", None, 9, None, None),
    ("3", "a", 10, _D("10.25"), _DT(2023, 5, 1)),
    ("4", "b", None, _D("1.50"), _DT(2024, 1, 2)),
    ("5", "c", 100, _D("-3.00"), None),
    ("6", None, 9, _D("10.25"), _DT(1999, 12, 31)),
    ("7", "a", 10, None, _DT(2023, 5, 1)),
]


def test_star_dimensions_match_surrogate_keys(spark):
    """Dimensions built from the one value aggregate equal
    ``surrogate_keys`` on columns with nulls and duplicates (string,
    int, decimal and date order, values typed as the column), and the
    fact keys equal the left join on them."""
    from xml_to_parquet_spark.operators.window import surrogate_keys

    df = spark.createDataFrame(
        _DIM_ROWS, "id string, g string, n int, d decimal(10,2), dt date"
    )
    dims = ("g", "n", "d", "dt")
    catalog = {"id": {"classification": "identifier"}}
    catalog.update({c: {"classification": "dimension"} for c in dims})
    star = build_star_schema(df, catalog, include_audit=False)
    for c in dims:
        key = f"{c}_key"
        got = star.dimensions[c].select(key, c).collect()
        want = surrogate_keys(df, c).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), c
        joined = df.join(surrogate_keys(df, c), c, "left")
        assert sorted(map(tuple, star.fact.select("id", key).collect())) == (
            sorted(map(tuple, joined.select("id", key).collect()))
        ), c
        assert dict(star.fact.dtypes)[key] == "int"
        assert star.dimensions[c].schema[c] == df.schema[c], c
    n_rows = star.dimensions["n"].orderBy("n_key").collect()
    assert [(r.n_key, r.n) for r in n_rows] == [(1, 9), (2, 10), (3, 100)]
    d_rows = star.dimensions["d"].orderBy("d_key").collect()
    assert [r.d for r in d_rows] == [_D("-3.00"), _D("1.50"), _D("10.25")]


def test_star_all_null_dimension(spark):
    """An all-null dimension column gives an empty dimension and null
    keys: the parent left join's result."""
    df = spark.createDataFrame(
        [("1", None), ("2", None)], "id string, g string"
    )
    catalog = {
        "id": {"classification": "identifier"},
        "g": {"classification": "dimension"},
    }
    star = build_star_schema(df, catalog, include_audit=False)
    dim = star.dimensions["g"]
    assert dim.columns == ["g_key", "g", "created_date", "is_active"]
    assert dim.count() == 0
    rows = star.fact.select("id", "g_key").orderBy("id").collect()
    assert [(r.id, r.g_key) for r in rows] == [("1", None), ("2", None)]
    assert dict(star.fact.dtypes)["g_key"] == "int"


def test_sql_text_hazard_names(spark):
    """Column and field names holding a backtick, a dot, a space, or the
    name of a lambda variable (``x0``) survive flatten → profile → star,
    whose plans are SQL text: nested and repeated structs flatten by
    name, and a column named ``x0`` is not shadowed inside a lambda."""
    from pyspark.sql import types as T

    from xml_to_parquet_spark.sources.xml_source import flatten_records

    def struct(*names, elem=T.StringType()):
        return T.StructType([T.StructField(n, elem) for n in names])

    inner = T.ArrayType(struct("v`w", "x1"))
    schema = T.StructType(
        [
            T.StructField("_a`b", T.StringType()),
            T.StructField("d.e", T.StringType()),
            T.StructField(
                "p q",
                T.StructType(
                    [
                        T.StructField("x0", inner),
                        T.StructField("s.t", T.StringType()),
                    ]
                ),
            ),
            T.StructField("x0", T.ArrayType(struct("x0", "y.z"))),
        ]
    )
    raw = spark.createDataFrame(
        [
            ("1", " 5 ", ([(" a ", "b"), ("c", None)], "s"),
             [("k", "m"), ("n", "o")]),
            ("2", "7", (None, "t"), [("k", None)]),
            ("3", "7", ([("c", None)], None), [("k", "m")]),
        ],
        schema,
    )
    flat = flatten_records(raw)
    assert flat.columns == ["a`b", "d.e", "p q", "x0", "x0.1"]
    assert sorted(map(tuple, flat.collect())) == [
        ("1", "5", "a b c s", "k m", "n o"),
        ("2", "7", "t", "k", ""),
        ("3", "7", "c", "k m", ""),
    ]

    profile = analyze_schema(flat)
    assert list(profile) == flat.columns
    assert [profile[c]["unique_count"] for c in flat.columns] == [
        3, 2, 3, 2, 2,
    ]
    assert profile["x0"]["sample_values"] == "k|k m"
    assert profile["d.e"]["numeric_ratio"] == 1.0

    catalog = {
        "a`b": {"classification": "identifier"},
        "d.e": {"classification": "measure"},
        "p q": {"classification": "dimension"},
        "x0": {"classification": "dimension"},
        "x0.1": {"classification": "dimension"},
    }
    star = build_star_schema(flat, catalog, include_audit=False)
    assert star.fact.columns == ["a`b", "d.e", "p q_key", "x0_key", "x0.1_key"]
    assert sorted(map(tuple, star.fact.collect())) == [
        ("1", 5.0, 1, 2, 2),
        ("2", 7.0, 3, 1, 1),
        ("3", 7.0, 2, 2, 1),
    ]
    dim = star.dimensions["p q"]
    assert dim.columns == ["p q_key", "p q", "created_date", "is_active"]
    assert [tuple(r)[:2] for r in dim.orderBy("`p q_key`").collect()] == [
        (1, "a b c s"), (2, "c"), (3, "t"),
    ]
