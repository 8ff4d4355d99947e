"""Query catalog: every SURVEY.md §2 operator as a (Spark, oracle-SQL) pair.

Each entry couples a PySpark DataFrame program with the ANSI-SQL string that
DuckDB runs over the same parquet tables. The driver hash-compares the two at
sf0.01 (order-insensitive, columns sorted by name), so:

- every computed column is aliased identically on both sides
- floating-point aggregates use exact DECIMAL arithmetic internally and cast
  to double at the end (see operators/aggregation.py) — bit-identical across
  engines and partitionings
- timestamps returned to the driver are formatted to strings to dodge
  ns-vs-us physical-type mismatches between Spark and DuckDB parquet readers

Queries whose semantics are not SQL-expressible (MinHash LSH, SimHash, true
streaming) register with ``oracle=None`` → the driver records a rows-only
check.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_to_parquet_spark.catalog import load_table
from xml_to_parquet_spark.operators.aggregation import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    grouped_multi_agg,
    grouped_multi_agg_sql,
)
from xml_to_parquet_spark.operators.relational import (
    chained_dim_joins,
    distinct_values,
    sort_limit,
    union_by_name,
)
from xml_to_parquet_spark.operators.window import surrogate_keys
from xml_to_parquet_spark.session import process_scratch_dir, scratch_dir


@dataclass(frozen=True)
class QuerySpec:
    """One catalog entry: Spark program + optional DuckDB oracle SQL."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship star query (SURVEY §7 step 1): lineitem ⋈ orders ⋈ customer ⋈
# nation ⋈ region, filter, group by region, exact-decimal revenue.
# Exercises S7, P1-P3, J1/J3, A2, O1.
#
# Broadcast-hint policy (r3 VERDICT "What's wrong" #2): only tables whose
# size is BOUNDED at the 100 TB design point may carry an explicit hint —
# nation/region are fixed-cardinality (25/5 rows at every SF).  customer
# and orders GROW with the fact table (SF-proportional), so they get no
# hint: a forced broadcast of a multi-billion-row customer table OOMs the
# driver at scale.  AQE picks broadcast for them at small SF on its own
# (spark.sql.autoBroadcastJoinThreshold / runtime size stats) and falls
# back to shuffle joins at large SF — exactly the adaptive behavior we
# want, so hand-forcing it is strictly worse.
# ---------------------------------------------------------------------------

def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    joined = (
        lineitem.filter(F.col("l_shipdate") < F.lit("1998-09-01").cast("timestamp"))
        .join(orders, on=F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, on=F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), on=F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), on=F.col("n_regionkey") == F.col("r_regionkey"))
    )
    revenue = (
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue")
    )
    return (
        joined.groupBy("r_name")
        .agg(revenue, F.count(F.lit(1)).alias("n_rows"))
        .orderBy("r_name")
    )


_Q_STAR_REVENUE_SQL = """
SELECT r_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE l_shipdate < TIMESTAMP '1998-09-01'
GROUP BY r_name
ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# A2: grouped multi-measure agg with {col}_{fn} naming
# (reference aggregate_fact_data, star_transformer.R:148-165)
# ---------------------------------------------------------------------------

def q_grouped_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return grouped_multi_agg(
        li,
        group_cols=["l_returnflag", "l_linestatus"],
        measure_cols=["l_quantity", "l_extendedprice", "l_discount"],
    ).orderBy("l_returnflag", "l_linestatus")


_Q_GROUPED_MULTI_AGG_SQL = grouped_multi_agg_sql(
    "lineitem",
    group_cols=["l_returnflag", "l_linestatus"],
    measure_cols=["l_quantity", "l_extendedprice", "l_discount"],
    order=True,
)


# ---------------------------------------------------------------------------
# A3: count-by-group (validation summary / README lineage queries)
# ---------------------------------------------------------------------------

def q_count_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), davg("value", "value_avg"))
        .orderBy("event_type")
    )


_Q_COUNT_BY_GROUP_SQL = f"""
SELECT event_type, COUNT(*) AS n, {davg_sql('value', 'value_avg')}
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# P1/P3/F1: projection + null-safe predicate + cast-null-on-fail
# ---------------------------------------------------------------------------

def q_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("o_orderpriority").alias("priority"),
        )
    )


_Q_PROJECT_FILTER_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority AS priority
FROM orders WHERE o_orderstatus = 'F' AND o_totalprice IS NOT NULL
"""


# ---------------------------------------------------------------------------
# U2 + O1/O2: distinct, sort, deterministic limit (tie-broken)
# ---------------------------------------------------------------------------

def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return distinct_values(li, ["l_returnflag", "l_linestatus"]).orderBy(
        "l_returnflag", "l_linestatus"
    )


_Q_DISTINCT_SQL = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # limit after a total order (price desc, key asc tiebreak) → deterministic
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


_Q_SORT_LIMIT_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# U1: union-by-name with ragged schemas (rbindlist(fill=TRUE) parity)
# ---------------------------------------------------------------------------

def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    b = cust.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_mktsegment"
    )
    return union_by_name([a, b]).orderBy("c_custkey")


_Q_UNION_BY_NAME_SQL = """
SELECT c_custkey, c_name, c_acctbal, NULL AS c_mktsegment
FROM customer WHERE c_custkey % 2 = 0
UNION ALL
SELECT c_custkey, NULL AS c_name, NULL AS c_acctbal, c_mktsegment
FROM customer WHERE c_custkey % 2 = 1
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# W1: global surrogate keys (sorted row_number) over a dimension column
# ---------------------------------------------------------------------------

def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return surrogate_keys(cust, "c_mktsegment").orderBy("c_mktsegment_key")


_Q_SURROGATE_KEYS_SQL = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment) AS INT) AS c_mktsegment_key,
       c_mktsegment
FROM (SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL)
ORDER BY c_mktsegment_key
"""


# ---------------------------------------------------------------------------
# J1+J3+W1: star build — attach dim surrogate keys to a fact slice, then
# aggregate by key. This is the reference's core transform as one plan.
# ---------------------------------------------------------------------------

def q_star_dim_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dim_rf = surrogate_keys(li, "l_returnflag")
    dim_ls = surrogate_keys(li, "l_linestatus")
    fact = chained_dim_joins(
        li.select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"),
        [(dim_rf, "l_returnflag"), (dim_ls, "l_linestatus")],
    )
    return (
        fact.groupBy("l_returnflag_key", "l_linestatus_key")
        .agg(dsum("l_quantity", "qty_sum"), F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag_key", "l_linestatus_key")
    )


_Q_STAR_DIM_KEYS_SQL = f"""
WITH dim_rf AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_returnflag) AS INT) AS l_returnflag_key,
         l_returnflag
  FROM (SELECT DISTINCT l_returnflag FROM lineitem WHERE l_returnflag IS NOT NULL)
), dim_ls AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_linestatus) AS INT) AS l_linestatus_key,
         l_linestatus
  FROM (SELECT DISTINCT l_linestatus FROM lineitem WHERE l_linestatus IS NOT NULL)
)
SELECT l_returnflag_key, l_linestatus_key,
       {dsum_sql('l_quantity', 'qty_sum')}, COUNT(*) AS n
FROM lineitem
LEFT JOIN dim_rf USING (l_returnflag)
LEFT JOIN dim_ls USING (l_linestatus)
GROUP BY l_returnflag_key, l_linestatus_key
ORDER BY l_returnflag_key, l_linestatus_key
"""


# ---------------------------------------------------------------------------
# F1: null-on-failure numeric coercion (as.numeric parity) — cast a string
# column to double; unparseable → NULL. Exercised on p_type (never numeric)
# and on a JSON-extracted field (always numeric).
# ---------------------------------------------------------------------------

def q_cast_null_on_fail(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            # ANSI-safe null-on-fail coercion: reference as.numeric parity
            F.col("p_type").try_cast("double").alias("type_as_num"),
            F.col("p_size").cast("double").alias("size_as_num"),
        )
        .orderBy("p_partkey")
    )


_Q_CAST_NULL_SQL = """
SELECT p_partkey,
       TRY_CAST(p_type AS DOUBLE) AS type_as_num,
       CAST(p_size AS DOUBLE) AS size_as_num
FROM part ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# F4/F5: regex match + capture-group extract (comment business-key pattern)
# ---------------------------------------------------------------------------

def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_type").rlike("^[A-Z]+"))
        .select(
            "p_partkey",
            F.regexp_extract(F.col("p_type"), r"^([A-Z]+)", 1).alias("type_head"),
        )
        .groupBy("type_head")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("type_head")
    )


_Q_REGEX_EXTRACT_SQL = """
SELECT regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head, COUNT(*) AS n
FROM part WHERE regexp_matches(p_type, '^[A-Z]+')
GROUP BY type_head ORDER BY type_head
"""


# ---------------------------------------------------------------------------
# P7: conditional classification ladder (case_when parity,
# schema_analyzer.R:29-43 shape)
# ---------------------------------------------------------------------------

def q_conditional_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    cls = (
        F.when(F.col("p_size") >= 40, F.lit("large"))
        .when(F.col("p_size") >= 20, F.lit("medium"))
        .when(F.col("p_size") >= 5, F.lit("small"))
        .otherwise(F.lit("tiny"))
    )
    return (
        part.select(cls.alias("size_class"), "p_retailprice")
        .groupBy("size_class")
        .agg(F.count(F.lit(1)).alias("n"), dsum("p_retailprice", "price_sum"))
        .orderBy("size_class")
    )


_Q_CONDITIONAL_SQL = f"""
SELECT CASE WHEN p_size >= 40 THEN 'large'
            WHEN p_size >= 20 THEN 'medium'
            WHEN p_size >= 5 THEN 'small'
            ELSE 'tiny' END AS size_class,
       COUNT(*) AS n, {dsum_sql('p_retailprice', 'price_sum')}
FROM part GROUP BY size_class ORDER BY size_class
"""


# ---------------------------------------------------------------------------
# JSON path extraction over events.props (F-family extension; the reference
# stringifies nested data — here we keep fidelity instead)
# ---------------------------------------------------------------------------

def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.count(F.col("k")).alias("k_count"),
        )
        .orderBy("event_type")
    )


_Q_JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_count
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# A1/A4: one-pass schema profiling + classification (the engine's catalog).
# Profiled columns restricted to string/int (double→varchar rendering differs
# across engines; see profile_oracle_sql docstring).
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]


def q_profile_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.plans.schema_analyzer import (
        classify_profile,
        profile_columns,
    )

    cust = _t(spark, sf_dir, "customer")
    return classify_profile(profile_columns(cust, _PROFILE_COLS)).orderBy(
        "column"
    )


def _profile_oracle() -> str:
    from xml_to_parquet_spark.plans.schema_analyzer import profile_oracle_sql

    return profile_oracle_sql("customer", _PROFILE_COLS) + ' ORDER BY "column"'


# ---------------------------------------------------------------------------
# Star transformer end-to-end (J1/J3/W1/P2/F1/A6): catalog-driven star build
# over part, returning the fact with attached surrogate keys.
# ---------------------------------------------------------------------------

def q_star_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.plans.star_transformer import build_star_schema

    part = _t(spark, sf_dir, "part")
    catalog = {
        "p_partkey": {"classification": "identifier"},
        "p_brand": {"classification": "dimension"},
        "p_retailprice": {"classification": "measure"},
        "p_size": {"classification": "measure"},
    }
    star = build_star_schema(
        part, catalog, id_column="p_partkey", include_audit=False
    )
    # r12: numeric measures KEEP their source type through the star
    # build (the XSD-typed-output rule — only string measures coerce to
    # double); p_retailprice stays double, p_size stays int, and the
    # oracle asserts exactly those types
    return star.fact.select(
        "p_partkey", "p_retailprice", "p_size", "p_brand_key"
    ).orderBy("p_partkey")


_Q_STAR_BUILD_SQL = """
WITH dim_brand AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_brand) AS INT) AS p_brand_key, p_brand
  FROM (SELECT DISTINCT p_brand FROM part WHERE p_brand IS NOT NULL)
)
SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS p_retailprice,
       CAST(p_size AS INT) AS p_size, p_brand_key
FROM part LEFT JOIN dim_brand USING (p_brand)
ORDER BY p_partkey
"""


# ===========================================================================
# Large-scale pipeline extensions (BASELINE.json north star): text analysis,
# dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding-cosine),
# similarity search, multimodal plumbing.
# ===========================================================================

_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.text import subtoken_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            token_count(F.col("text")).alias("tok"),
            subtoken_count(F.col("text")).alias("sub"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").cast("long").alias("tokens_sum"),
            F.sum("sub").cast("long").alias("subtokens_sum"),
            (F.sum("tok").cast("double") / F.count(F.lit(1))).alias(
                "tokens_avg"
            ),
        )
        .orderBy("lang")
    )


_Q_TOKEN_COUNT_SQL = r"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS tokens_sum,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')))
            AS BIGINT) AS subtokens_sum,
       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS DOUBLE) / COUNT(*)
         AS tokens_avg
FROM documents GROUP BY lang ORDER BY lang
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    return quality_features(docs).select(
        "doc_id",
        "n_tokens",
        "punct_ratio",
        "upper_ratio",
        "stopword_ratio",
        "mean_token_len",
    ).orderBy("doc_id")


_Q_TEXT_QUALITY_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
         / length(text) AS punct_ratio,
       CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
         / length(text) AS upper_ratio,
       CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is)\b')) AS DOUBLE)
         / len(regexp_extract_all(text, '\S+')) AS stopword_ratio,
       CAST(len(regexp_extract_all(text, '\S')) AS DOUBLE)
         / len(regexp_extract_all(text, '\S+')) AS mean_token_len
FROM documents ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", language_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


def _lang_id_sql() -> str:
    from xml_to_parquet_spark.functions.text import LANG_STOPWORDS

    langs = list(LANG_STOPWORDS)
    scores = ", ".join(
        rf"len(regexp_extract_all(lower(text), '\b({'|'.join(ws)})\b')) AS s_{lang}"
        for lang, ws in LANG_STOPWORDS.items()
    )
    # identical argmax ladder to functions.text.language_id
    cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in langs[i + 1:]
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    ladder = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return f"""
SELECT lang, {ladder} AS predicted, COUNT(*) AS n
FROM (SELECT lang, {scores} FROM documents)
GROUP BY lang, predicted ORDER BY lang, predicted
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.text import fingerprint_md5

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", fingerprint_md5(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


_Q_FINGERPRINT_SQL = f"""
SELECT doc_id, md5({_NORM_SQL}) AS fingerprint
FROM documents ORDER BY doc_id
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents ∪ shifted-copy (every text has 2 ids)."""
    from xml_to_parquet_spark.functions.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    return exact_dedup(doubled).orderBy("keep_id")


_Q_DEDUP_EXACT_SQL = f"""
SELECT md5({_NORM_SQL}) AS fingerprint, MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM (SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text FROM documents)
GROUP BY fingerprint ORDER BY keep_id
"""


_SHINGLE_SQL = f"""
SELECT doc_id, unnest(list_distinct(
  CASE WHEN len(toks) >= 3
       THEN list_transform(range(len(toks) - 2),
                           i -> array_to_string(toks[i+1:i+3], ' '))
       ELSE [norm] END)) AS shingle
FROM (SELECT doc_id, {_NORM_SQL} AS norm,
             string_split({_NORM_SQL}, ' ') AS toks
      FROM documents)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage scale pipeline: MinHash-LSH candidates → exact Jaccard
    verify on candidates only (the quadratic all-pairs variant exists as
    functions.dedup.ngram_jaccard_pairs for small data)."""
    from xml_to_parquet_spark.functions.dedup import ngram_jaccard_via_lsh

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_via_lsh(docs, threshold=0.1).orderBy("id_a", "id_b")


def _ngram_jaccard_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import (
        MINHASH_BANDS,
        MINHASH_PERMS,
        minhash_sql,
    )

    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    return f"""
WITH sigs AS ({minhash_sql('documents')}),
bands AS (
  SELECT doc_id, CAST(perm_id // {rows_per_band} AS INT) AS band,
         STRING_AGG(perm_id || ':' || minhash, ',' ORDER BY perm_id || ':' || minhash)
           AS band_key
  FROM sigs GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_key)
  WHERE a.doc_id < b.doc_id
),
sh AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT id_a, id_b, COUNT(*) AS shared
  FROM cand
  JOIN sh a ON a.doc_id = id_a
  JOIN sh b ON b.doc_id = id_b AND b.shingle = a.shingle
  GROUP BY id_a, id_b
)
SELECT id_a, id_b,
       CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.1
ORDER BY id_a, id_b
"""


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.dedup import minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    return minhash_signatures(docs).orderBy("doc_id", "perm_id")


def _minhash_sig_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import minhash_sql

    return minhash_sql("documents") + " ORDER BY doc_id, perm_id"


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs).orderBy("id_a", "id_b")


def _minhash_lsh_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import (
        MINHASH_BANDS,
        MINHASH_PERMS,
        minhash_sql,
    )

    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    return f"""
WITH sigs AS ({minhash_sql('documents')}),
bands AS (
  SELECT doc_id, CAST(perm_id // {rows_per_band} AS INT) AS band,
         STRING_AGG(perm_id || ':' || minhash, ',' ORDER BY perm_id || ':' || minhash)
           AS band_key
  FROM sigs GROUP BY doc_id, band
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b USING (band, band_key)
WHERE a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs).orderBy("doc_id")


def _simhash_sql(bits: int = 32) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM toks
),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes ORDER BY doc_id
"""


def q_simhash_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole chunk blocking
    (dedup.simhash_blocked_pairs) — exact Hamming ≤ k without a cross
    product; verified against the integer-exact DuckDB twin."""
    from xml_to_parquet_spark.functions.dedup import (
        simhash,
        simhash_blocked_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return simhash_blocked_pairs(simhash(docs), max_hamming=3).orderBy(
        "id_a", "id_b"
    )


def _simhash_blocked_sql(bits: int = 32, max_hamming: int = 3) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    n_chunks = max_hamming + 1
    width = (bits + n_chunks - 1) // n_chunks
    chunk_vals = ", ".join(f"({c})" for c in range(n_chunks))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM toks
),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes),
keyed AS (
  SELECT doc_id, simhash, chunk,
         (simhash // (1 << (chunk * {width}))) % {1 << width} AS ckey
  FROM sigs CROSS JOIN (VALUES {chunk_vals}) c(chunk)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM keyed a JOIN keyed b USING (chunk, ckey)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.45).orderBy("id_a", "id_b")


_Q_DEDUP_EMBEDDING_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
ORDER BY id_a, id_b
"""


def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse data selection via greedy MMR (r13,
    similarity.mmr_select): pick 8 vectors balancing relevance to the
    query embedding against redundancy with already-picked vectors
    (λ = 1/2, inner-product similarity). Every dot is int64 over
    exactly-quantized vectors and the per-round argmax tie-breaks by
    id, so the DuckDB oracle replays the greedy loop round by round —
    a driver match proves all 8 sequential decisions. Scale: each
    round is one TakeOrdered(1) scan + a literal-vector column update;
    no pairwise join ever forms."""
    from xml_to_parquet_spark.functions.similarity import mmr_select

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_select(emb, k=8, query_id=0, lam_num=1, lam_den=2)


def _q_mmr_select_sql() -> str:
    from xml_to_parquet_spark.functions.similarity import mmr_select_sql

    return mmr_select_sql("embeddings", k=8, query_id=0, lam_num=1,
                          lam_den=2)


def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, query_ids=list(range(10)), k=5).orderBy(
        "query_id", "rank"
    )


_Q_KNN_BRUTE_SQL = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding, c.embedding) AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id ASC) AS INT)
           AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate KNN via sign-LSH buckets. The hyperplanes are literal
    quantized integers (similarity.hyperplane_components_q), so the bucket
    assignment is exact integer arithmetic with an exact SQL twin."""
    from xml_to_parquet_spark.functions.similarity import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(
        emb, query_ids=list(range(10)), k=5, n_planes=4, dim=64
    )


def _q_knn_lsh_sql(n_planes: int = 4, dim: int = 64, k: int = 5) -> str:
    from xml_to_parquet_spark.functions.similarity import lsh_bucket_sql

    bucket = lsh_bucket_sql("embedding", n_planes, dim)
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding, c.embedding) AS cos
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < 10
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id ASC) AS INT)
           AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.functions.multimodal import (
        attach_binary_metadata,
        text_as_binary,
    )

    docs = _t(spark, sf_dir, "documents")
    with_bin = docs.withColumn("payload", text_as_binary(F.col("text")))
    out = attach_binary_metadata(with_bin, "payload", "text", "utf-8")
    return out.select(
        "doc_id",
        F.col("payload_meta.size_bytes").alias("size_bytes"),
        F.col("payload_meta.checksum").alias("checksum"),
    ).orderBy("doc_id")


_Q_MULTIMODAL_META_SQL = """
SELECT doc_id, octet_length(encode(text)) AS size_bytes, md5(text) AS checksum
FROM documents ORDER BY doc_id
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (r13, multimodal.frame_sample_plan):
    one row per sampled frame index (every 10th of n_frames), computed
    ENTIRELY JVM-side from metadata (sequence + explode) — the payload
    column is never touched, so the parquet scan prunes it and the
    row-amplification happens after pruning, exactly where a real
    frame-decode pipeline wants it (the per-frame decode itself is the
    only mapInPandas stage, downstream of this plan). n_frames derives
    deterministically from doc length (1 + n_chars % 240 ≈ a 10s clip
    at 24fps); each sampled frame carries an md5 frame key — the
    handle a decode/dedup stage would join on — so the whole plan is
    exactly SQL-replayable."""
    from xml_to_parquet_spark.functions.multimodal import frame_sample_plan

    docs = _t(spark, sf_dir, "documents")
    vids = docs.select(
        "doc_id", (1 + F.col("n_chars") % 240).alias("n_frames")
    )
    plan = frame_sample_plan(vids, every_n=10, id_col="doc_id")
    return plan.select(
        "doc_id",
        "frame_idx",
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("frame_idx"))),
            1,
            8,
        ).alias("frame_key"),
    ).orderBy("doc_id", "frame_idx")


_Q_FRAME_SAMPLE_SQL = """
SELECT doc_id, frame_idx,
       substr(md5(doc_id || ':' || frame_idx), 1, 8) AS frame_key
FROM (SELECT doc_id,
             unnest(range(0, 1 + n_chars % 240, 10)) AS frame_idx
      FROM documents)
ORDER BY doc_id, frame_idx
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing with the deterministic stand-in kernel.

    The stand-in derives (width, height, format) from md5 digest bytes of
    the payload, which IS SQL-expressible — DuckDB parses the same hex
    digits — so this mapInPandas pipeline gets a full exact oracle, not a
    rows-only check: the oracle proves batching/partitioning never leaks
    into results."""
    from xml_to_parquet_spark.functions.multimodal import (
        decode_batch,
        text_as_binary,
    )
    from xml_to_parquet_spark.session import _ship_package

    # driver-provided sessions haven't shipped the package to Python
    # workers; the mapInPandas closure needs it importable there
    _ship_package(spark)

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        text_as_binary(F.col("text")).alias("payload"),
    )
    return decode_batch(docs).orderBy("id")


_Q_MULTIMODAL_DECODE_SQL = """
SELECT doc_id AS id,
       64 + (('0x' || substr(md5(text), 1, 2))::INT % 192) AS width,
       64 + (('0x' || substr(md5(text), 3, 2))::INT % 192) AS height,
       CASE (('0x' || substr(md5(text), 5, 2))::INT % 3)
            WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp'
       END AS format,
       octet_length(encode(text)) AS n_bytes
FROM documents ORDER BY id
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas resize plumbing (a93): deterministic stand-in kernel.

    ``fake_resize`` derives input dims from md5 digest bytes (a92's trick)
    and fits them into a 128x96 box with ``aspect_fit``'s pure-integer
    arithmetic — both halves SQL-expressible, so the resize stage gets an
    exact oracle.  The REAL kernel twin (``resize_image_real``: Pillow
    gate, stdlib+numpy raw-netpbm fallback) is pytest-covered with genuine
    rasters re-decoded after resampling."""
    from xml_to_parquet_spark.functions.multimodal import (
        resize_batch,
        text_as_binary,
    )
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        text_as_binary(F.col("text")).alias("payload"),
    )
    return resize_batch(docs, 128, 96).orderBy("id")


# aspect_fit in SQL: md5-derived dims are always in [64, 255], so the
# floor-scaled side is >= (64*96)//255 = 24 and the max(1, .) clamp in the
# Python kernel is unreachable — no GREATEST needed (comparator hygiene).
_Q_MULTIMODAL_RESIZE_SQL = """
WITH d AS (
  SELECT doc_id AS id,
         64 + (('0x' || substr(md5(text), 1, 2))::INT % 192) AS w,
         64 + (('0x' || substr(md5(text), 3, 2))::INT % 192) AS h,
         CASE (('0x' || substr(md5(text), 5, 2))::INT % 3)
              WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp'
         END AS format
  FROM documents
)
SELECT id, CAST(w AS INT) AS in_width, CAST(h AS INT) AS in_height,
       CAST(CASE WHEN w <= 128 AND h <= 96 THEN w
                 WHEN w * 96 >= h * 128 THEN 128
                 ELSE (w * 96) // h END AS INT) AS out_width,
       CAST(CASE WHEN w <= 128 AND h <= 96 THEN h
                 WHEN w * 96 >= h * 128 THEN (h * 128) // w
                 ELSE 96 END AS INT) AS out_height,
       format
FROM d ORDER BY id
"""


def q_netpbm_real_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode+resample in the catalog (a45, VERDICT r5 item 5):
    deterministic P5 (raw PGM) payloads built from doc ids — a genuine
    netpbm raster — are header-parsed and nearest-neighbor-resampled by
    the stdlib+numpy kernel (multimodal.netpbm_decode_resize_batch); the
    oracle reconstructs the exact resized payload (header + constant
    raster) and matches its md5 and byte length, so the driver gate
    exercises real image decoding in-container, not a stand-in."""
    from xml_to_parquet_spark.functions.multimodal import (
        netpbm_decode_resize_batch,
    )

    w = (F.lit(4) + F.col("doc_id") % 13).cast("int")
    h = (F.lit(3) + F.col("doc_id") % 7).cast("int")
    payload = F.encode(
        F.concat(
            F.lit("P5\n"),
            w.cast("string"), F.lit(" "), h.cast("string"),
            F.lit("\n255\n"),
            F.repeat(F.lit("A"), w * h),
        ),
        "UTF-8",
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), payload.alias("payload")
    )
    return netpbm_decode_resize_batch(docs, 8, 6).orderBy("id")


# aspect_fit clamp hygiene (the a93 convention): w in [4,16], h in [3,9]
# against an 8x6 box keeps both floor-scaled sides >= 1, so the max(1,.)
# clamp is unreachable and the SQL needs no GREATEST.
_Q_NETPBM_REAL_SQL = """
WITH d AS (
  SELECT doc_id AS id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
  FROM documents
),
f AS (
  SELECT id, w, h,
         CASE WHEN w <= 8 AND h <= 6 THEN w
              WHEN w * 6 >= h * 8 THEN 8
              ELSE (w * 6) // h END AS ow,
         CASE WHEN w <= 8 AND h <= 6 THEN h
              WHEN w * 6 >= h * 8 THEN (h * 8) // w
              ELSE 6 END AS oh
  FROM d
),
p AS (
  SELECT id, w, h, ow, oh,
         'P5' || chr(10) || ow || ' ' || oh || chr(10) || '255' || chr(10)
           || repeat('A', CAST(ow * oh AS INT)) AS resized
  FROM f
)
SELECT id, CAST(w AS INT) AS in_width, CAST(h AS INT) AS in_height,
       CAST(ow AS INT) AS out_width, CAST(oh AS INT) AS out_height,
       'pgm' AS format, md5(resized) AS out_md5,
       CAST(length(resized) AS BIGINT) AS out_bytes
FROM p ORDER BY id
"""


def q_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary feature-extract stage (a94): numpy byte statistics per
    payload over Arrow batches — the generic any-modality feature pass
    (works unchanged on image/audio blobs).  The oracle is exact because
    the documents testdata is pure ASCII at every SF (verified), where
    byte statistics equal character statistics."""
    from xml_to_parquet_spark.functions.multimodal import (
        byte_features_batch,
        text_as_binary,
    )
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        text_as_binary(F.col("text")).alias("payload"),
    )
    return byte_features_batch(docs).orderBy("id")


_Q_BYTE_FEATURES_SQL = """
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
  FROM documents
),
chars AS (SELECT doc_id, ord(substr(text, i, 1)) AS o FROM pos),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bytes,
         CAST(SUM(o) AS BIGINT) AS byte_sum,
         CAST(SUM(CASE WHEN o BETWEEN 65 AND 90 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_upper,
         CAST(SUM(CASE WHEN o BETWEEN 48 AND 57 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_digit,
         CAST(SUM(CASE WHEN o = 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_space,
         CAST(MAX(o) AS BIGINT) AS max_byte
  FROM chars GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(COALESCE(n_bytes, 0) AS BIGINT) AS n_bytes,
       CAST(COALESCE(byte_sum, 0) AS BIGINT) AS byte_sum,
       CAST(COALESCE(n_upper, 0) AS BIGINT) AS n_upper,
       CAST(COALESCE(n_digit, 0) AS BIGINT) AS n_digit,
       CAST(COALESCE(n_space, 0) AS BIGINT) AS n_space,
       CAST(COALESCE(max_byte, -1) AS BIGINT) AS max_byte
FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY id
"""


def q_hamming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign-signature ANN (r10, similarity.hamming_ann_topk — the
    FAISS IndexBinaryFlat+refine shape): 64 md5-seeded quantized
    hyperplanes pack each embedding into ONE int64 (numpy Arrow kernel),
    stage 1 scans the 8-byte-per-vector signature table with
    xor+popcount keeping the 32 Hamming-nearest per query (this corpus's
    nearest neighbors live at Hamming 14-20, measured — far past where
    a 64-bit multi-index prunes, so the honest path is the 32×-smaller
    linear scan binary codes exist for), stage 2 re-ranks them by exact
    quantized L2. The oracle rebuilds the signatures from the same plane
    literals (HUGEINT bit fold → two's-complement int64) and replays
    both stages bit-for-bit."""
    from xml_to_parquet_spark.functions.similarity import hamming_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return hamming_ann_topk(
        emb, query_ids=list(range(10)), k=5, n_candidates=32
    )


def _q_hamming_ann_sql(
    query_max: int = 10, k: int = 5, n_candidates: int = 32,
    n_planes: int = 64, dim: int = 64,
) -> str:
    from xml_to_parquet_spark.functions.similarity import (
        HYPERPLANE_QUANT,
        hyperplane_components_q,
    )

    planes = hyperplane_components_q(n_planes, dim, HYPERPLANE_QUANT)
    values = ",".join(
        f"({p},{d},{c})"
        for p in range(n_planes)
        for d, c in enumerate(planes[p])
    )
    q = float(HYPERPLANE_QUANT)
    return f"""
WITH v AS (
  SELECT vec_id AS id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {q} + 0.5)
              AS BIGINT) AS vq
  FROM embeddings
),
m(p, pos, c) AS (SELECT * FROM (VALUES {values})),
bits AS (
  SELECT v.id, m.p,
         CASE WHEN SUM(v.vq * m.c) >= 0 THEN 1 ELSE 0 END AS bit
  FROM v JOIN m USING (pos) GROUP BY v.id, m.p
),
sigs AS (
  SELECT id,
         CAST(CASE WHEN s >= 9223372036854775807::HUGEINT + 1
              THEN s - 2 * (9223372036854775807::HUGEINT + 1)
              ELSE s END AS BIGINT) AS sig
  FROM (
    SELECT id, SUM(CAST(bit AS HUGEINT)
                   * (1::HUGEINT << CAST(p AS INT))) AS s
    FROM bits GROUP BY id
  )
),
scanned AS (
  SELECT a.id AS query_id, b.id AS neighbor_id,
         CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
  FROM sigs a JOIN sigs b ON a.id < {query_max} AND b.id != a.id
),
cand AS (
  SELECT query_id, neighbor_id, hamming
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY hamming ASC, neighbor_id ASC) AS rn
    FROM scanned
  ) WHERE rn <= {n_candidates}
),
exact AS (
  SELECT c.query_id, c.neighbor_id, c.hamming,
         CAST(SUM((qa.vq - qb.vq) * (qa.vq - qb.vq)) AS BIGINT) AS dist
  FROM cand c
  JOIN v qa ON qa.id = c.query_id
  JOIN v qb ON qb.id = c.neighbor_id AND qb.pos = qa.pos
  GROUP BY c.query_id, c.neighbor_id, c.hamming
),
ranked AS (
  SELECT query_id, neighbor_id, hamming, dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, hamming, dist, rank
FROM ranked WHERE rank <= {k}
"""


def q_corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-level repeated-line removal (r10,
    text.strip_corpus_duplicate_lines — the C4/RefinedWeb cross-document
    boilerplate rule; a21's clean_lines is within-document only). The
    testdata's single-line docs are wrapped JVM-side with the exact
    failure mode the rule exists for: a sitewide header line (df =
    corpus) and a per-source copyright footer (df = docs-per-source);
    at min_df=3 both boilerplate lines vanish and every body line
    survives — replayed exactly in SQL with raw-line equality."""
    from xml_to_parquet_spark.functions.text import (
        strip_corpus_duplicate_lines,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Subscribe to our newsletter\n"),
            F.col("text"),
            F.lit("\nCopyright "),
            F.col("source"),
        ).alias("text"),
    )
    return strip_corpus_duplicate_lines(docs, min_df=3).select(
        "doc_id", "cleaned"
    )


_Q_CORPUS_LINE_DEDUP_SQL = """
WITH d AS (
  SELECT doc_id,
         'Subscribe to our newsletter' || chr(10) || text || chr(10)
           || 'Copyright ' || source AS text
  FROM documents
),
l AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM d
),
hot AS (
  SELECT line FROM l WHERE line <> ''
  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3
),
kept AS (SELECT l.* FROM l ANTI JOIN hot USING (line)),
asm AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(asm.cleaned, '') AS cleaned
FROM d LEFT JOIN asm USING (doc_id) ORDER BY d.doc_id
"""


def _envelope_bits_expr(salt: str, flip_mod: int):
    """Shared generative 63-bit pattern for the perceptual-hash dedup
    entries (a75 image / a60 audio): per-group base bit = parity of the
    first md5 nibble of ``g:i:salt``, with a per-doc one-bit flip at
    i = doc_id % 63 for docs with doc_id % 4 == flip_mod. One flat
    transform — evaluated once per row.

    Why md5 (r10 soak finds, twice): the first cut's multiplicative
    parity ((g+1)·(i+k)·M mod p) % 2 both OVERFLOWED int64 at the soak
    rung's offset doc_ids and — after the stepwise-mod fix — turned out
    heavily STRUCTURED across groups (measured P(Hamming≤3) ≈ 2.6e-4
    between unrelated groups vs ~5e-15 for random bits → 158M accidental
    pairs at 500k docs). md5-nibble parity is overflow-free at any
    doc_id, portably bit-exact (Spark md5 ↔ DuckDB md5), and actually
    mixing — cross-group matches vanish and pair volume is exactly
    6·groups at every scale."""
    g = F.expr("doc_id DIV 4")
    did = F.col("doc_id")
    return F.transform(
        F.sequence(F.lit(0), F.lit(62)),
        lambda i: (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                g.cast("string"),
                                F.lit(":"),
                                i.cast("string"),
                                F.lit(":" + salt),
                            )
                        ),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("long")
                + F.when(
                    (did % 4 == flip_mod) & (i == did % 63), F.lit(1)
                ).otherwise(F.lit(0))
            )
            % 2
        ).cast("long"),
    )


def _prefix_doubling(df: DataFrame, col: str, n: int = 63):
    """Inclusive prefix sums of an n-element array column via log-doubling
    shifted zip_with rounds (O(n log n) interpreted ops instead of the
    O(n²) per-position aggregates) — returns (df, prefix_col_name) where
    prefix[i] (1-based) = Σ arr[0..i-1+1]… i.e. the sum of the first i
    elements."""
    cur = col
    s = 1
    while s < n:
        nxt = f"{cur}_p{s}"
        df = df.withColumn(
            nxt,
            F.zip_with(
                F.col(cur),
                F.concat(
                    F.array_repeat(F.lit(0).cast("long"), s),
                    F.slice(F.col(cur), 1, n - s),
                ),
                lambda a, b: a + b,
            ),
        )
        cur = nxt
        s *= 2
    return df, cur


def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup via perceptual hash (r10, VERDICT r9 item 2 —
    the one LLM-pipeline dedup modality that was missing). Deterministic
    9x8 P5 rasters are BUILT from doc ids (an Arrow-batched numpy
    kernel assembling the per-pixel brightness walk that encodes a
    per-group bit pattern plus a per-doc one-bit flip — bit-identical
    to the original JVM-expression build, see _image_rasters_batch),
    then the REAL pipeline runs: netpbm decode →
    grayscale grid → 64-bit dHash (multimodal.dhash64, Arrow kernel) →
    pigeonhole Hamming blocking (dedup.simhash_blocked_pairs at bits=64).
    Docs in the same group of 4 differ by ≤1 dHash bit, so every
    intra-group pair qualifies at max_hamming=3; the oracle replays the
    generative bit formula and the exact Hamming join in SQL."""
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)
    from xml_to_parquet_spark.functions.dedup import simhash_blocked_pairs
    from xml_to_parquet_spark.functions.multimodal import dhash_batch

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    imgs = _image_rasters_batch(docs)
    # checkpoint the tiny sig table (one int64 per image) so the
    # construction + decode kernel run ONCE, not once per blocked-join
    # side — at scale you'd persist the signature table the same way
    sig = (
        dhash_batch(imgs)
        .select(F.col("id").alias("doc_id"), F.col("dhash").alias("simhash"))
        .localCheckpoint()
    )
    return simhash_blocked_pairs(sig, max_hamming=3, bits=64)


def _image_rasters_expr(docs: DataFrame) -> DataFrame:
    """The original JVM-expression P5 raster build — kept as the
    reference twin for the bit-identity test of
    :func:`_image_rasters_batch`.

    Base bit of the group's 63-bit pattern; per-doc flip at bit
    doc_id%63 for every 4th doc; bit 63 structurally 0 (keeps the
    hash in the non-negative BIGINT range the SQL oracle can build).
    Construction perf (r10, measured): HOFs run INTERPRETED, so the
    per-pixel walk is built from ONE bits array + a log-doubling
    prefix-sum (6 shifted zip_with rounds — the winnowing idiom);
    pixel(r,c) = 128 + 2·(P[r·8+c] − P[r·8]) − c replays the ±1
    brightness walk (grid[r,c+1] > grid[r,c] IS bit r·8+c) without
    per-pixel aggregates. ~1s/plan vs 6s for the slice/aggregate forms.
    """
    d = docs.withColumn(
        "bits", _envelope_bits_expr("img", flip_mod=0)
    )
    d, prefix_col = _prefix_doubling(d, "bits")

    def _pixel(k):
        r = (k / 9).cast("long")
        hi = F.coalesce(
            F.try_element_at(
                F.col(prefix_col), F.least(k - r, F.lit(63)).cast("int")
            ),
            F.lit(0).cast("long"),
        )
        lo = F.when(r == 0, F.lit(0).cast("long")).otherwise(
            F.coalesce(
                F.try_element_at(F.col(prefix_col), (r * 8).cast("int")),
                F.lit(0).cast("long"),
            )
        )
        return F.when(k % 9 == 0, F.lit(128).cast("long")).otherwise(
            F.lit(128) + 2 * (hi - lo) - (k % 9)
        )

    header_hex = "P5\n9 8\n255\n".encode().hex()
    payload = F.unhex(
        F.concat(
            F.lit(header_hex),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(71)),
                    lambda k: F.lpad(F.hex(_pixel(k)), 2, "0"),
                ),
                "",
            ),
        )
    )
    return d.select(F.col("doc_id").alias("id"), payload.alias("payload"))


def _image_rasters_batch(docs: DataFrame) -> DataFrame:
    """Arrow-batched twin of :func:`_image_rasters_expr`: the identical
    deterministic 9x8 P5 netpbm bytes, assembled with numpy in one
    mapInPandas pass instead of 72 interpreted per-pixel hex
    expressions (the a184 audio-fixture pattern, r14). Bit-identity is
    pinned by ``test_image_raster_batch_matches_expression_build``."""
    import pandas as pd

    def _run(batches):
        import hashlib

        import numpy as np

        hdr = b"P5\n9 8\n255\n"
        k = np.arange(72)
        r = k // 9
        c = k % 9
        hi_idx = np.minimum(r * 8 + c, 63) - 1  # 0-based into cumsum
        lo_idx = np.maximum(r * 8 - 1, 0)
        group_bits: dict[int, object] = {}
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                g = did // 4
                bits = group_bits.get(g)
                if bits is None:
                    bits = np.array(
                        [
                            int(
                                hashlib.md5(
                                    f"{g}:{i}:img".encode()
                                ).hexdigest()[0],
                                16,
                            )
                            & 1
                            for i in range(63)
                        ],
                        dtype=np.int64,
                    )
                    group_bits[g] = bits
                b = bits
                if did % 4 == 0:
                    b = bits.copy()
                    b[did % 63] ^= 1
                cum = np.cumsum(b)
                hi = cum[hi_idx]
                lo = np.where(r == 0, 0, cum[lo_idx])
                px = np.where(c == 0, 128, 128 + 2 * (hi - lo) - c)
                ids.append(did)
                payloads.append(hdr + px.astype(np.uint8).tobytes())
            yield pd.DataFrame({"id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(_run, "id long, payload binary")


# Exact replay: dHash bit i of doc = group base bit XOR per-doc flip, the
# hash is Σ bit·2^i (BIGINT-safe: bit 63 is structurally 0), and pairs are
# the exact Hamming-≤-3 join DuckDB computes with xor+bit_count. All-pairs
# is fine for the oracle at sf0.01 (500 docs); the Spark side under test
# is the blocked equi-join.
_Q_IMAGE_PHASH_SQL = """
WITH d AS (SELECT doc_id, doc_id // 4 AS g FROM documents),
b AS (
  SELECT d.doc_id, i.i,
         (CAST('0x' || substr(md5(d.g || ':' || i.i || ':img'), 1, 1)
               AS BIGINT) % 2
          + CASE WHEN d.doc_id % 4 = 0 AND i.i = d.doc_id % 63
                 THEN 1 ELSE 0 END) % 2 AS bit
  FROM d CROSS JOIN (SELECT unnest(range(0, 63)) AS i) i
),
h AS (
  SELECT doc_id,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << i)) AS BIGINT) AS h
  FROM b GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
       CAST(bit_count(xor(a.h, b2.h)) AS INT) AS hamming
FROM h a JOIN h b2 ON a.doc_id < b2.doc_id
WHERE bit_count(xor(a.h, b2.h)) <= 3
"""


def q_batch_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched model scoring (functions/inference.py) running the
    REAL quantized-logreg kernel in-container (r7, VERDICT r6 #4 — the
    a45 netpbm pattern): integer byte-class featurization + int64 matmul
    against fixed quantized weights inside mapInPandas, with an exact
    integer oracle. The md5 stand-in (``fake_logit``) remains the
    env-gated fallback for scorer-less smoke paths."""
    from xml_to_parquet_spark.functions.inference import (
        score_documents_quantized,
    )
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)
    docs = _t(spark, sf_dir, "documents")
    return score_documents_quantized(docs).orderBy("doc_id")


# Exact replay of the quantized kernel: UTF-8 byte length via
# octet_length(encode(..)); ASCII digit/upper/space counts via char
# arithmetic (UTF-8 multi-byte sequences never contain ASCII bytes, so
# char counts equal the kernel's byte counts). Weights/bias mirror
# inference.QUANT_WEIGHTS/QUANT_BIAS.
_Q_BATCH_SCORE_SQL = """
SELECT doc_id, logit_q, (logit_q >= 0) AS accept
FROM (
  SELECT doc_id,
         CAST(
             3 * octet_length(encode(text))
           - 55 * (length(text)
                   - length(regexp_replace(text, '[0-9]', '', 'g')))
           - 20 * (length(text)
                   - length(regexp_replace(text, '[A-Z]', '', 'g')))
           + 12 * (length(text) - length(replace(text, ' ', '')))
           - 800
         AS BIGINT) AS logit_q
  FROM documents
)
ORDER BY doc_id
"""


def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming (readStream → watermark → window →
    AvailableNow): final state must equal the batch tumbling-window answer,
    which is exactly what the shared oracle SQL asserts."""
    from xml_to_parquet_spark.streaming.file_stream import (
        stream_events_windowed,
    )

    return stream_events_windowed(spark, sf_dir)


# ---------------------------------------------------------------------------
# XML→star golden (S2-S5, W1, J1, F1 end-to-end): fixture XML written to a
# temp dir, ingested via the native XML source, star-transformed; the
# oracle is the fully-determined expected output as VALUES literals.
# ---------------------------------------------------------------------------

_GOLDEN_XML = """<?xml version="1.0" encoding="UTF-8"?>
<products>
  <record id="1" category="electronics" brand="Samsung">
    <name>Galaxy S21</name><price>799.99</price>
    <quantity>50</quantity><rating>4.5</rating>
  </record>
  <record id="2" category="electronics" brand="Apple">
    <name>iPhone 13</name><price>999.99</price>
    <quantity>30</quantity><rating>4.8</rating>
  </record>
  <record id="3" category="accessories" brand="Samsung">
    <name>Charger</name><price>29.99</price>
    <quantity>200</quantity>
  </record>
</products>
"""


# Golden XSD mirroring the reference's R/schemas/products.xsd:1-23
# (leaf types on the record children; required id attribute) extended
# with one leaf per remaining subset type (boolean/date/dateTime) so
# the typed-output path is exercised end-to-end.
_TYPED_XSD = """<?xml version="1.0" encoding="UTF-8"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="products">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="record" maxOccurs="unbounded">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="name" type="xs:string"/>
              <xs:element name="price" type="xs:decimal"/>
              <xs:element name="quantity" type="xs:integer"/>
              <xs:element name="rating" type="xs:decimal" minOccurs="0"/>
              <xs:element name="in_stock" type="xs:boolean"/>
              <xs:element name="added" type="xs:date"/>
              <xs:element name="updated" type="xs:dateTime"/>
            </xs:sequence>
            <xs:attribute name="id" type="xs:string" use="required"/>
            <xs:attribute name="category" type="xs:string"/>
            <xs:attribute name="brand" type="xs:string"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""

_TYPED_XML = """<?xml version="1.0" encoding="UTF-8"?>
<products>
  <record id="1" category="electronics" brand="Samsung">
    <name>Galaxy S21</name><price>799.99</price>
    <quantity>50</quantity><rating>4.5</rating>
    <in_stock>true</in_stock><added>2024-01-15</added>
    <updated>2024-06-01T10:30:00</updated>
  </record>
  <record id="2" category="electronics" brand="Apple">
    <name>iPhone 13</name><price>999.99</price>
    <quantity>30</quantity><rating>4.8</rating>
    <in_stock>false</in_stock><added>2024-02-20</added>
    <updated>2024-06-02T23:59:59</updated>
  </record>
  <record id="3" category="accessories" brand="Samsung">
    <name>Charger</name><price>29.99</price>
    <quantity>200</quantity>
    <in_stock>true</in_stock><added>2024-03-05</added>
    <updated>2024-06-03T00:00:01</updated>
  </record>
</products>
"""


def q_xsd_typed_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XSD-declared types flow through to the star output (SURVEY.md:82's
    named parity-plus): the reference uses
    its XSD for validation ONLY (schema_validator.R:19-39) and every
    extracted column stays character; here apply_xsd_types try_casts
    the extracted string columns to the DECLARED types — price/rating
    xs:decimal → decimal(38,9), quantity xs:integer → bigint, in_stock
    xs:boolean → boolean, added xs:date → date, updated xs:dateTime →
    timestamp_ntz — and build_star_schema keeps already-numeric
    measures instead of widening them back to double. The oracle casts
    the SAME literals from the same XSD mapping on the DuckDB side, so
    the driver's schema check asserts the typed output schema."""
    from xml_to_parquet_spark.plans.star_transformer import build_star_schema
    from xml_to_parquet_spark.sources.xml_source import (
        apply_xsd_types,
        read_xml_records,
    )

    d = process_scratch_dir("xml_typed_")
    with open(os.path.join(d, "products.xml"), "w") as fh:
        fh.write(_TYPED_XML)
    xsd_path = os.path.join(d, "products.xsd")
    with open(xsd_path, "w") as fh:
        fh.write(_TYPED_XSD)
    records = apply_xsd_types(
        read_xml_records(spark, os.path.join(d, "*.xml"), lineage=False),
        xsd_path,
    )
    catalog = {
        "record_id": {"classification": "identifier"},
        "in_stock": {"classification": "identifier"},
        "added": {"classification": "identifier"},
        "updated": {"classification": "identifier"},
        "category": {"classification": "dimension"},
        "brand": {"classification": "dimension"},
        "price": {"classification": "measure"},
        "quantity": {"classification": "measure"},
        "rating": {"classification": "measure"},
    }
    star = build_star_schema(
        records, catalog, id_column="record_id", include_audit=False
    )
    # the two decimal measures are rendered as strings for the compare:
    # DECIMAL is a driver-comparator-fragile oracle type (verify_local's
    # r3-postmortem guard), and the decimal(38,9) STRING rendering
    # ('799.990000000') pins scale+precision through the value hash —
    # a double would hash as '799.99'. The pytest asserts the dtypes.
    return star.fact.select(
        "record_id",
        F.col("price").cast("string").alias("price"),
        "quantity",
        F.col("rating").cast("string").alias("rating"),
        "in_stock", "added", "updated", "category_key", "brand_key",
    ).orderBy("record_id")


_Q_XSD_TYPED_STAR_SQL = """
SELECT record_id,
       CAST(CAST(price AS DECIMAL(38,9)) AS VARCHAR) AS price,
       CAST(quantity AS BIGINT) AS quantity,
       CAST(CAST(rating AS DECIMAL(38,9)) AS VARCHAR) AS rating,
       CAST(in_stock AS BOOLEAN) AS in_stock,
       CAST(added AS DATE) AS added,
       CAST(updated AS TIMESTAMP) AS updated,
       CAST(category_key AS INT) AS category_key,
       CAST(brand_key AS INT) AS brand_key
FROM (VALUES
  ('1', '799.99', '50', '4.5', 'true', '2024-01-15',
   '2024-06-01T10:30:00', 2, 2),
  ('2', '999.99', '30', '4.8', 'false', '2024-02-20',
   '2024-06-02T23:59:59', 2, 1),
  ('3', '29.99', '200', NULL, 'true', '2024-03-05',
   '2024-06-03T00:00:01', 1, 2)
) AS t(record_id, price, quantity, rating, in_stock, added, updated,
       category_key, brand_key)
ORDER BY record_id
"""


def q_xml_star_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.plans.star_transformer import build_star_schema
    from xml_to_parquet_spark.sources.xml_source import read_xml_records

    d = process_scratch_dir("xml_golden_")
    with open(os.path.join(d, "products.xml"), "w") as fh:
        fh.write(_GOLDEN_XML)
    records = read_xml_records(spark, os.path.join(d, "*.xml"), lineage=False)
    catalog = {
        "record_id": {"classification": "identifier"},
        "category": {"classification": "dimension"},
        "brand": {"classification": "dimension"},
        "price": {"classification": "measure"},
        "quantity": {"classification": "measure"},
        "rating": {"classification": "measure"},
    }
    star = build_star_schema(
        records, catalog, id_column="record_id", include_audit=False
    )
    return star.fact.select(
        "record_id", "price", "quantity", "rating", "category_key", "brand_key"
    ).orderBy("record_id")


_Q_XML_STAR_GOLDEN_SQL = """
SELECT record_id,
       CAST(price AS DOUBLE) AS price,
       CAST(quantity AS DOUBLE) AS quantity,
       CAST(rating AS DOUBLE) AS rating,
       CAST(category_key AS INT) AS category_key,
       CAST(brand_key AS INT) AS brand_key
FROM (VALUES
  ('1', 799.99, 50.0, 4.5, 2, 2),
  ('2', 999.99, 30.0, 4.8, 2, 1),
  ('3', 29.99, 200.0, NULL, 1, 2)
) AS t(record_id, price, quantity, rating, category_key, brand_key)
ORDER BY record_id
"""


# ---------------------------------------------------------------------------
# Golden-fixture queries for the remaining §2 operators that had pytest-only
# coverage in round 1 (VERDICT #4): S6 business keys, P4 validation gate,
# A6 default count measure, F13 generated ids, F14 make.unique, F15 rate
# math. Same pattern as q37: fixture written to a temp dir → operator →
# fully-determined VALUES-literal oracle.
# ---------------------------------------------------------------------------

_BK_XML_A = """<?xml version="1.0" encoding="UTF-8"?>
<!-- OrderType:B2B -->
<orders>
  <record id="1"><amount>10</amount></record>
  <record id="2"><amount>20</amount></record>
</orders>
"""

_BK_XML_B = """<?xml version="1.0" encoding="UTF-8"?>
<!-- Region:EMEA -->
<orders>
  <record id="3"><amount>30</amount></record>
</orders>
"""


def q_business_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: first-XML-comment business keys attached per file (reference
    xml_parser.R:227-261, main.R:229-237) — whole-file pass + broadcast
    join, each key name also pivoted to its own column."""
    from xml_to_parquet_spark.sources.xml_source import (
        attach_business_keys,
        extract_business_keys,
        read_xml_records,
    )

    d = process_scratch_dir("xml_bk_")
    for fname, body in (("a.xml", _BK_XML_A), ("b.xml", _BK_XML_B)):
        with open(os.path.join(d, fname), "w") as fh:
            fh.write(body)
    glob_path = os.path.join(d, "*.xml")
    records = read_xml_records(spark, glob_path, row_tag="record")
    keys = extract_business_keys(spark, glob_path)
    out = attach_business_keys(records, keys, key_names=["OrderType", "Region"])
    return out.select(
        "record_id",
        "amount",
        "business_key_name",
        "business_key_value",
        "OrderType",
        "Region",
    ).orderBy("record_id")


_Q_BUSINESS_KEYS_SQL = """
SELECT * FROM (VALUES
  ('1', '10', 'OrderType', 'B2B', 'B2B', NULL),
  ('2', '20', 'OrderType', 'B2B', 'B2B', NULL),
  ('3', '30', 'Region', 'EMEA', NULL, 'EMEA')
) AS t(record_id, amount, business_key_name, business_key_value,
       OrderType, Region)
ORDER BY record_id
"""


_VAL_GOOD_XML = """<?xml version="1.0" encoding="UTF-8"?>
<orders>
  <record id="1"><name>alpha</name></record>
  <record id="2"><name>beta</name></record>
</orders>
"""

# well-formedness failure: root never closed. Spark's rowTag extraction
# still parses the complete <record> element, so without the gate record 9
# WOULD appear — the gate removing it is exactly P4's semantics.
_VAL_BAD_XML = """<?xml version="1.0" encoding="UTF-8"?>
<orders>
  <record id="9"><name>bad</name></record>
"""

_VAL_DTD = """<!DOCTYPE orders [
  <!ELEMENT orders (record*)>
  <!ELEMENT record (name)>
  <!ATTLIST record id NMTOKEN #REQUIRED>
  <!ELEMENT name (#PCDATA)>
]>"""

# DOCTYPE'd pair (reference validate_xml_auto internal-DTD-first branch,
# schema_validator.R:88-93): dtd_good passes its internal DTD; dtd_bad is
# WELL-FORMED but DTD-invalid (<wrong> undeclared, breaks record's
# (name) model) — rowTag extraction still yields record 8, so only the
# DTD branch of the gate removes it.
_VAL_DTD_GOOD_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>\n' + _VAL_DTD + """
<orders>
  <record id="3"><name>gamma</name></record>
</orders>
"""
)

_VAL_DTD_BAD_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>\n' + _VAL_DTD + """
<orders>
  <record id="8"><wrong>bad</wrong></record>
</orders>
"""
)


def q_validation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: per-file validation as a distributed status table, then a
    broadcast semi-join gate excluding records from invalid files
    (reference schema_validator.R:151-163, main.R:153-166). Covers all
    three validator branches in-container: well-formedness (bad.xml),
    internal DTD valid (dtd_good.xml), internal DTD invalid but
    well-formed (dtd_bad.xml — only DTD validation can reject it)."""
    import glob as _glob

    from xml_to_parquet_spark.sources.xml_source import read_xml_records
    from xml_to_parquet_spark.validation.xml_validation import (
        gate_valid,
        validate_files,
    )

    d = process_scratch_dir("xml_gate_")
    files = (
        ("good.xml", _VAL_GOOD_XML),
        ("bad.xml", _VAL_BAD_XML),
        ("dtd_good.xml", _VAL_DTD_GOOD_XML),
        ("dtd_bad.xml", _VAL_DTD_BAD_XML),
    )
    for fname, body in files:
        with open(os.path.join(d, fname), "w") as fh:
            fh.write(body)
    records = read_xml_records(spark, os.path.join(d, "*.xml"), row_tag="record")
    val = validate_files(spark, sorted(_glob.glob(os.path.join(d, "*.xml"))))
    return (
        gate_valid(records, val)
        .select("record_id", "name")
        .orderBy("record_id")
    )


_Q_VALIDATION_GATE_SQL = """
SELECT * FROM (VALUES ('1', 'alpha'), ('2', 'beta'), ('3', 'gamma'))
  AS t(record_id, name)
ORDER BY record_id
"""


def q_default_count_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: a star built from a catalog with NO measure columns gets the
    default ``record_count = 1`` measure (reference
    star_transformer.R:82-86)."""
    from xml_to_parquet_spark.plans.star_transformer import build_star_schema
    from xml_to_parquet_spark.sources.xml_source import read_xml_records

    d = process_scratch_dir("xml_a6_")
    with open(os.path.join(d, "products.xml"), "w") as fh:
        fh.write(_GOLDEN_XML)
    records = read_xml_records(spark, os.path.join(d, "*.xml"), lineage=False)
    catalog = {
        "record_id": {"classification": "identifier"},
        "category": {"classification": "dimension"},
    }
    star = build_star_schema(
        records, catalog, id_column="record_id", include_audit=False
    )
    return star.fact.select(
        "record_id", "record_count", "category_key"
    ).orderBy("record_id")


_Q_DEFAULT_COUNT_MEASURE_SQL = """
SELECT record_id, CAST(record_count AS INT) AS record_count,
       CAST(category_key AS INT) AS category_key
FROM (VALUES ('1', 1, 2), ('2', 1, 2), ('3', 1, 1))
  AS t(record_id, record_count, category_key)
ORDER BY record_id
"""


_NOID_XML_A = """<?xml version="1.0" encoding="UTF-8"?>
<log>
  <record><msg>one</msg></record>
  <record><msg>two</msg></record>
  <record><msg>three</msg></record>
</log>
"""

_NOID_XML_B = """<?xml version="1.0" encoding="UTF-8"?>
<log>
  <record><msg>four</msg></record>
</log>
"""


def q_generated_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: records without an id attribute get generated record_ids
    (reference xml_parser.R:137-143; here partition-local monotonic ids —
    no global sort). The ids themselves are partitioning-dependent, so the
    oracle checks the invariants: one non-null UNIQUE id per row, across
    files."""
    from xml_to_parquet_spark.sources.xml_source import read_xml_records

    d = process_scratch_dir("xml_f13_")
    for fname, body in (("a.xml", _NOID_XML_A), ("b.xml", _NOID_XML_B)):
        with open(os.path.join(d, fname), "w") as fh:
            fh.write(body)
    records = read_xml_records(spark, os.path.join(d, "*.xml"), row_tag="record")
    return records.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("record_id").alias("n_nonnull_ids"),
        F.count_distinct("record_id").alias("n_distinct_ids"),
    )


_Q_GENERATED_IDS_SQL = """
SELECT CAST(4 AS BIGINT) AS n_rows, CAST(4 AS BIGINT) AS n_nonnull_ids,
       CAST(4 AS BIGINT) AS n_distinct_ids
"""


_REPEAT_XML = """<?xml version="1.0" encoding="UTF-8"?>
<library>
  <record id="1"><tag>alpha</tag><tag>beta</tag><author>X</author></record>
  <record id="2"><tag>gamma</tag><author>Y</author></record>
</library>
"""


def q_make_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: repeated sibling tags flatten to ``name, name.1, ...`` columns
    (R make.unique parity, reference xml_parser.R:193-199); records with
    fewer occurrences get nulls."""
    from xml_to_parquet_spark.sources.xml_source import read_xml_records

    d = process_scratch_dir("xml_f14_")
    with open(os.path.join(d, "lib.xml"), "w") as fh:
        fh.write(_REPEAT_XML)
    records = read_xml_records(
        spark, os.path.join(d, "*.xml"), row_tag="record", lineage=False
    )
    return records.select(
        "record_id", "tag", F.col("`tag.1`"), "author"
    ).orderBy("record_id")


_Q_MAKE_UNIQUE_SQL = """
SELECT * FROM (VALUES
  ('1', 'alpha', 'beta', 'X'),
  ('2', 'gamma', NULL, 'Y')
) AS t(record_id, tag, "tag.1", author)
ORDER BY record_id
"""


def q_report_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15/A5: processing-report rate math from Spark-side counts
    (reference logger.R:94-130) — 3 valid files + 1 malformed → 0.75."""
    import glob as _glob

    from xml_to_parquet_spark.logging_utils import validation_summary
    from xml_to_parquet_spark.validation.xml_validation import validate_files

    d = process_scratch_dir("xml_f15_")
    for i in range(3):
        with open(os.path.join(d, f"good{i}.xml"), "w") as fh:
            fh.write(_VAL_GOOD_XML)
    with open(os.path.join(d, "bad.xml"), "w") as fh:
        fh.write(_VAL_BAD_XML)
    val = validate_files(spark, sorted(_glob.glob(os.path.join(d, "*.xml"))))
    return validation_summary(val)


_Q_REPORT_RATES_SQL = """
SELECT CAST(4 AS BIGINT) AS files_total, CAST(3 AS BIGINT) AS files_valid,
       CAST(1 AS BIGINT) AS files_invalid,
       CAST(0.75 AS DOUBLE) AS validation_rate
"""


def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9-F11: date extraction, arithmetic, diffs (fixed anchor date so the
    result is deterministic, unlike current_date)."""
    orders = _t(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    anchor = F.lit("1998-01-01").cast("date")
    return (
        orders.select(
            F.year(od).alias("y"),
            F.month(od).alias("m"),
            F.datediff(anchor, od).alias("days_to_anchor"),
            F.date_format(od, "yyyy-MM").alias("ym"),
        )
        .groupBy("y", "m", "ym")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("days_to_anchor").alias("min_dd"),
            F.max("days_to_anchor").alias("max_dd"),
        )
        .orderBy("y", "m")
    )


_Q_DATE_ARITH_SQL = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
       COUNT(*) AS n,
       CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01'))
            AS INT) AS min_dd,
       CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01'))
            AS INT) AS max_dd
FROM orders GROUP BY 1, 2, 3 ORDER BY y, m
"""


# ---------------------------------------------------------------------------
# Event-time operators: analytic window, tumbling window, semi/anti joins,
# rollup, SQL frontend
# ---------------------------------------------------------------------------

def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.filter(F.col("user_id") < 5)
        .select(
            "user_id",
            "event_id",
            F.sum(F.col("value").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("running_value"),
        )
        .orderBy("user_id", "event_id")
    )


_Q_WINDOW_RUNNING_SQL = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_value
FROM events WHERE user_id < 5
ORDER BY user_id, event_id
"""


def q_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xml_to_parquet_spark.operators.aggregation import dsum

    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "value_sum"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "event_type",
            "n",
            "value_sum",
        )
        .orderBy("bucket_start", "event_type")
    )


_Q_TIME_BUCKET_SQL = f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS bucket_start,
       event_type, COUNT(*) AS n, {dsum_sql('value', 'value_sum')}
FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        cust.join(
            f_orders, on=F.col("c_custkey") == F.col("o_custkey"), how="left_semi"
        )
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


_Q_SEMI_JOIN_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
ORDER BY c_custkey
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-load pattern (README.md:253-268): rows NOT already seen —
    here, parts with no lineitem shipped in the final months of the data."""
    part = _t(spark, sf_dir, "part")
    recent = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
        .select("l_partkey")
    )
    return (
        part.join(
            recent, on=F.col("p_partkey") == F.col("l_partkey"), how="left_anti"
        )
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


_Q_ANTI_JOIN_SQL = """
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey
                    AND l_shipdate >= TIMESTAMP '2001-06-01')
ORDER BY p_partkey
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "qty_sum"))
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       {dsum_sql('l_quantity', 'qty_sum')}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def q_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL API (spark.sql over registered views) — TPC-H-q6
    shape. The reference has no SQL frontend; this is capability-plus."""
    from xml_to_parquet_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """
    )


_Q_SQL_FRONTEND_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Set ops, pivot, string functions, exact percentiles, cube, as-of join
# ---------------------------------------------------------------------------

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-set intersect / exceptAll (SURVEY §2.7 'available in Spark')."""
    cust = _t(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    positive = cust.filter(F.col("c_acctbal") > 0).select("c_custkey")
    both = building.intersect(positive).select(
        F.lit("intersect").alias("op"), "c_custkey"
    )
    only_building = building.exceptAll(positive).select(
        F.lit("except").alias("op"), "c_custkey"
    )
    return both.unionByName(only_building).orderBy("op", "c_custkey")


_Q_SET_OPS_SQL = """
SELECT 'intersect' AS op, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_acctbal > 0)
UNION ALL
SELECT 'except' AS op, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT ALL
  SELECT c_custkey FROM customer WHERE c_acctbal > 0)
ORDER BY op, c_custkey
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (A4 family): daily event counts, one column per event type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
        .orderBy("day")
    )


_Q_PIVOT_SQL = f"""
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       {', '.join(
           f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
           for t in _EVENT_TYPES
       )}
FROM events GROUP BY day ORDER BY day
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.upper(F.col("p_brand")).alias("brand_upper"),
            F.lower(F.col("p_type")).alias("type_lower"),
            F.substring(F.col("p_name"), 1, 5).alias("name_head"),
            F.regexp_replace(F.col("p_type"), " ", "_").alias("type_snake"),
            F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_pad"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        )
        .orderBy("p_partkey")
    )


_Q_STRING_FUNCS_SQL = """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       lower(p_type) AS type_lower,
       substring(p_name, 1, 5) AS name_head,
       replace(p_type, ' ', '_') AS type_snake,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad,
       concat_ws('|', p_brand, p_type) AS brand_type
FROM part ORDER BY p_partkey
"""


def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — identical formula in both
    engines over identical doubles). Exact percentile buffers per-group
    value maps, so the documented 100 TB path for near-unique measures is
    ``grouped_percentiles(..., approx=True)`` (bounded-memory sketch) —
    tolerance-tested in tests/test_aggregation.py, excluded from the oracle
    because sketches are engine-specific by design."""
    from xml_to_parquet_spark.operators.aggregation import grouped_percentiles

    li = _t(spark, sf_dir, "lineitem")
    return grouped_percentiles(
        li,
        ["l_returnflag"],
        {"l_quantity": [0.5, 0.9], "l_extendedprice": [0.5]},
    ).orderBy("l_returnflag")


_Q_PERCENTILE_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS l_quantity_p50,
       quantile_cont(l_quantity, 0.9) AS l_quantity_p90,
       quantile_cont(l_extendedprice, 0.5) AS l_extendedprice_p50
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "total_sum"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


_Q_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       {dsum_sql('o_totalprice', 'total_sum')}
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus, o_orderpriority
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — an operator Spark lacks natively, composed from
    union + window (SURVEY 'custom operators' path (a)): for each click,
    the user's most recent purchase at-or-before its timestamp.

    One shuffle (window partition by user); no range-explosion join. The
    oracle encodes the same (ts desc, event_id desc) tie-break explicitly —
    a native ASOF JOIN picks an unspecified row among equal-ts purchases.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    # purchases sort before clicks at equal ts → 'at-or-before' semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(),
            F.when(F.col("event_type") == "purchase", 0).otherwise(1).asc(),
            F.col("event_id").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("event_id")),
        ignorenulls=True,
    ).over(w)
    return (
        tagged.withColumn("purchase_event_id", last_purchase)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_event_id"),
            "purchase_event_id",
        )
        .orderBy("user_id", "click_event_id")
    )


_Q_ASOF_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_event_id,
       (SELECT p.event_id FROM events p
         WHERE p.event_type = 'purchase'
           AND p.user_id = c.user_id AND p.ts <= c.ts
         ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS purchase_event_id
FROM events c WHERE c.event_type = 'click'
ORDER BY c.user_id, click_event_id
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (lag/cumsum session windows) — the batch twin
    of the applyInPandasWithState streaming operator in
    streaming/stateful.py."""
    from xml_to_parquet_spark.streaming.stateful import sessionize_batch

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    out = sessionize_batch(ev, gap_seconds=1800)
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("s_end"),
        "n_events",
        "value_sum",
    ).orderBy("user_id", "s_start")


_Q_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE user_id < 10
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM e
),
sess AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS s_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, s_start
"""


def q_sessionize_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE transformWithStateInPandas sessionization (a46, r6): the
    modern Spark-4 stateful API executing the real protobuf state
    protocol (value state + timer registry; see streaming/stateful.py and
    the _pbshim runtime that makes it run in protobuf-less containers).

    Exact oracle: with AvailableNow over a static file and a
    processing-time gap far beyond the run's wall clock, the emitted rows
    are exactly the sessions CLOSED BY A LATER ARRIVAL — every session
    except each user's last. value_sum is excluded from the projection
    (the kernel folds doubles in arrival order; only the integer/
    timestamp outputs are engine-exact)."""
    from xml_to_parquet_spark.streaming.file_stream import (
        _events_schema,
        _normalize_event_ts,
        run_tws_append,
    )
    from xml_to_parquet_spark.streaming.stateful import sessionize_tws

    schema = _events_schema(spark, sf_dir)
    ev = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = _normalize_event_ts(ev).filter(F.col("user_id") < 10)
    # register_timers=False: the oracle excludes timer-emitted (still-
    # open) sessions anyway, so the catalog rendering needs no timer —
    # and run_tws_append handles the operator's never-terminating
    # AvailableNow behavior either way
    out = sessionize_tws(ev, gap_seconds=1800, register_timers=False)
    res = run_tws_append(
        out,
        query_name=f"sess_tws_{abs(hash(sf_dir)) % 99991}",
        input_glob=os.path.join(sf_dir, "events.parquet"),
    )
    return res.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("s_end"),
        "n_events",
    ).orderBy("user_id", "s_start")


_Q_SESSIONIZE_TWS_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE user_id < 10
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM e
),
sess AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
),
agg AS (
  SELECT user_id, session_id,
         MIN(ts) AS s_start_ts, MAX(ts) AS s_end_ts,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id,
       strftime(s_start_ts, '%Y-%m-%d %H:%M:%S') AS s_start,
       strftime(s_end_ts, '%Y-%m-%d %H:%M:%S') AS s_end,
       n_events
FROM (
  SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS max_sid
  FROM agg
) WHERE session_id < max_sid
ORDER BY user_id, s_start
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular price-band range join via bin-decomposition + broadcast
    equi-join (operators/range_join.py) — no nested-loop join in the plan."""
    from xml_to_parquet_spark.operators.range_join import range_join_binned

    part = _t(spark, sf_dir, "part")
    # SQL VALUES → JVM LocalTableScan (createDataFrame's Python RDD is
    # re-evaluated per downstream branch; see q_scd2)
    bands = spark.sql(
        "SELECT * FROM VALUES"
        " ('budget', 900.0D, 925.0D), ('mid', 925.0D, 960.0D),"
        " ('premium', 960.0D, 985.0D), ('luxury', 985.0D, 1000.0D)"
        " AS t(band_name, lo, hi)"
    )
    joined = range_join_binned(
        part, bands, value_col="p_retailprice", bin_width=20.0
    )
    return (
        joined.groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("p_retailprice", "retail_sum"),
        )
        .orderBy("band_name")
    )


_Q_RANGE_JOIN_SQL = f"""
WITH bands(band_name, lo, hi) AS (
  VALUES ('budget', 900.0, 925.0), ('mid', 925.0, 960.0),
         ('premium', 960.0, 985.0), ('luxury', 985.0, 1000.0)
)
SELECT band_name, COUNT(*) AS n_parts, {dsum_sql('p_retailprice', 'retail_sum')}
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_name ORDER BY band_name
"""


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (functions/similarity.ivf_topk):
    hash-seeded centroids → cell assignment → n_probe cell search."""
    from xml_to_parquet_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, query_ids=list(range(10)), k=5, n_centroids=8, n_probe=2
    ).orderBy("query_id", "rank")


_Q_KNN_IVF_SQL = """
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8
),
assigned AS (
  SELECT vec_id AS corpus_id, embedding AS v, centroid_id FROM (
    SELECT b.vec_id, b.embedding, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_cosine_similarity(b.embedding, c.cv) DESC,
                      c.centroid_id
           ) AS rn
    FROM embeddings b CROSS JOIN cents c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, embedding AS qv, centroid_id FROM (
    SELECT b.vec_id, b.embedding, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_cosine_similarity(b.embedding, c.cv) DESC,
                      c.centroid_id
           ) AS rn
    FROM embeddings b CROSS JOIN cents c WHERE b.vec_id < 10
  ) WHERE rn <= 2
),
scored AS (
  SELECT q.query_id, a.corpus_id AS neighbor_id,
         list_cosine_similarity(q.qv, a.v) AS cos
  FROM qprobe q JOIN assigned a USING (centroid_id)
  WHERE a.corpus_id != q.query_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, neighbor_id
         ) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ asymmetric-distance search (a44,
    similarity.ivf_pq_adc_topk): coarse cells + per-subspace PQ codes in
    one scan, probe-cell equi-join, LUT-based ADC ranking, exact integer
    re-rank of the shortlist — the 100 TB ANN composition (VERDICT r5
    item 4). All quantized-integer arithmetic, replayed exactly by the
    oracle."""
    from xml_to_parquet_spark.functions.similarity import ivf_pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_adc_topk(
        emb, query_ids=list(range(10)), k=5, n_centroids=8, n_probe=2,
        m=4, pq_k=16, rerank=20,
    ).orderBy("query_id", "rank")


_Q_IVF_PQ_ADC_SQL = """
WITH vpos AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS vq
  FROM embeddings
),
coarse AS (SELECT vec_id AS cid, pos, vq AS cq FROM vpos WHERE vec_id < 8),
cd AS (
  SELECT v.vec_id, c.cid, SUM((v.vq - c.cq) * (v.vq - c.cq)) AS d
  FROM vpos v JOIN coarse c USING (pos) GROUP BY v.vec_id, c.cid
),
cell AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM cd) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM cd WHERE vec_id < 10) WHERE rn <= 2
),
books AS (
  SELECT vec_id AS cid, pos // 16 AS sub, pos, vq AS cq
  FROM vpos WHERE vec_id < 16
),
pd AS (
  SELECT v.vec_id, b.sub, b.cid, SUM((v.vq - b.cq) * (v.vq - b.cq)) AS d
  FROM vpos v JOIN books b USING (pos) GROUP BY v.vec_id, b.sub, b.cid
),
code AS (
  SELECT vec_id, sub, cid AS code FROM (
    SELECT vec_id, sub, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn
    FROM pd) WHERE rn = 1
),
cand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id
  FROM probe p JOIN cell c ON c.cell = p.cell AND c.vec_id != p.query_id
),
adc AS (
  SELECT ca.query_id, ca.neighbor_id,
         SUM((qv.vq - b.cq) * (qv.vq - b.cq)) AS d
  FROM cand ca
  JOIN code co ON co.vec_id = ca.neighbor_id
  JOIN books b ON b.cid = co.code AND b.sub = co.sub
  JOIN vpos qv ON qv.vec_id = ca.query_id AND qv.pos = b.pos
  GROUP BY ca.query_id, ca.neighbor_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d, neighbor_id) AS rn
    FROM adc) WHERE rn <= 20
),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         SUM((qv.vq - cv.vq) * (qv.vq - cv.vq)) AS d
  FROM shortlist s
  JOIN vpos qv ON qv.vec_id = s.query_id
  JOIN vpos cv ON cv.vec_id = s.neighbor_id AND cv.pos = qv.pos
  GROUP BY s.query_id, s.neighbor_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY d, neighbor_id) AS rank
  FROM exact
) WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_incremental_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dimension maintenance (operators/scale.merge_dimension):
    keys from load 1 survive load 2 unchanged; new values continue the key
    sequence — the reference's intended cross-load star semantics
    (README.md:184-196) that its per-batch keys break (SURVEY §2.12.1)."""
    from xml_to_parquet_spark.operators.scale import merge_dimension
    from xml_to_parquet_spark.operators.window import surrogate_keys

    cust = _t(spark, sf_dir, "customer")
    load1 = cust.filter(F.col("c_custkey") < 50)
    existing = surrogate_keys(load1, "c_nationkey")
    merged = merge_dimension(existing, cust, "c_nationkey")
    return merged.select(
        F.col("c_nationkey_key").cast("int").alias("nation_key"),
        F.col("c_nationkey").alias("nation_id"),
    ).orderBy("nation_key")


_Q_INCREMENTAL_DIM_SQL = """
WITH l1 AS (
  SELECT DISTINCT c_nationkey FROM customer
  WHERE c_custkey < 50 AND c_nationkey IS NOT NULL
),
k1 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_nationkey) AS INT) AS nation_key,
         c_nationkey
  FROM l1
),
novel AS (
  SELECT DISTINCT c_nationkey FROM customer
  WHERE c_nationkey IS NOT NULL
    AND c_nationkey NOT IN (SELECT c_nationkey FROM l1)
)
SELECT nation_key, c_nationkey AS nation_id FROM k1
UNION ALL
SELECT CAST((SELECT MAX(nation_key) FROM k1)
            + ROW_NUMBER() OVER (ORDER BY c_nationkey) AS INT) AS nation_key,
       c_nationkey AS nation_id
FROM novel
ORDER BY nation_key
"""


def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup cascade: daily aggregates computed FROM the
    hourly partial aggregates, not from raw rows — the continuous-aggregate
    maintenance pattern. Exact decimal partials make re-aggregation
    bit-identical to a direct daily groupBy (which is what the oracle runs),
    and at scale the daily job reads |hours × keys| rows instead of raw."""
    from xml_to_parquet_spark.operators.aggregation import _DEC, _DEC_SUM

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast(_DEC)).alias("pv"),
    )
    return (
        hourly.groupBy(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.sum("pn").alias("n"),
            F.sum("pv").cast(_DEC_SUM).cast("double").alias("value_sum"),
            (
                F.sum("pv").cast(_DEC_SUM).cast("double") / F.sum("pn")
            ).alias("value_avg"),
        )
        .orderBy("day", "event_type")
    )


_Q_ROLLUP_CASCADE_SQL = f"""
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       event_type, COUNT(*) AS n,
       {dsum_sql('value', 'value_sum')},
       {davg_sql('value', 'value_avg')}
FROM events GROUP BY day, event_type ORDER BY day, event_type
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (operators/scale.salted_grouped_sum):
    partial-agg on (key, salt) then combine per key. The oracle is a plain
    GROUP BY — exact decimal sums make the two bit-identical, which is the
    point: salting changes the physical plan, never the answer."""
    from xml_to_parquet_spark.operators.scale import salted_grouped_sum

    li = _t(spark, sf_dir, "lineitem")
    return salted_grouped_sum(
        li, group_cols=["l_returnflag"], sum_cols=["l_quantity"], n_salts=16
    ).orderBy("l_returnflag")


_Q_SALTED_AGG_SQL = f"""
SELECT l_returnflag, {dsum_sql('l_quantity', 'l_quantity_sum')},
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap fill: materialize every (hour × event_type) cell in
    the observed range, zero-filling hours with no events — the dense-series
    output downstream forecasting/monitoring jobs need. Spine = sequence +
    explode (tiny: hours × types), so the only real work is the hourly agg;
    the spine join is a broadcast of the dense grid."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "value_sum")
    ).select(F.col("w.start").alias("h"), "event_type", "n", "value_sum")

    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    grid = spine.crossJoin(ev.select("event_type").distinct())
    return (
        grid.join(hourly, on=["h", "event_type"], how="left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("value_sum"), F.lit(0.0)).alias("value_sum"),
        )
        .orderBy("bucket_start", "event_type")
    )


_Q_GAPFILL_SQL = f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
         date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
  FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
         event_type, COUNT(*) AS n, {dsum_sql('value', 'value_sum')}
  FROM events GROUP BY 1, 2
)
SELECT strftime(s.h, '%Y-%m-%d %H:%M:%S') AS bucket_start, t.event_type,
       COALESCE(hr.n, 0) AS n, COALESCE(hr.value_sum, 0.0) AS value_sum
FROM spine s CROSS JOIN types t
LEFT JOIN hourly hr ON hr.h = s.h AND hr.event_type = t.event_type
ORDER BY bucket_start, t.event_type
"""


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic reproducible sampling (functions/sampling.hash_sample):
    md5-gate on the doc key, so the same 25% of rows are selected on any
    cluster/partitioning/engine — unlike df.sample(), whose selection is
    partition-dependent. The gate is a plain pushed-down filter."""
    from xml_to_parquet_spark.functions.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.25, salt="s0").select(
        "doc_id", "lang", "source", "n_chars"
    ).orderBy("doc_id")


def _hash_sample_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import hash_sample_sql

    return f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE {hash_sample_sql('doc_id', 0.25, 's0')}
ORDER BY doc_id
"""


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted k-row sampling with unbiased subset-sum estimators
    (r13, functions/sampling.priority_sample — Duffield–Lund–Thorup
    priority sampling): keep the 64 documents with the largest
    ``weight/u`` priority (u from the md5 row key), estimator
    ``max(w, τ)`` against the (k+1)-th priority. The draw is exactly
    replayable in SQL (52-bit md5 u, IEEE-exact double priorities,
    keyed tie-break), so the driver hash-match proves the sampler, the
    threshold, AND the estimator arithmetic. Scale: TakeOrdered top-k
    heaps per partition — no full sort, no shuffle."""
    from xml_to_parquet_spark.functions.sampling import priority_sample

    docs = _t(spark, sf_dir, "documents")
    return priority_sample(docs, "n_chars", key_col="doc_id", k=64,
                           salt="r13")


def _q_priority_sample_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import priority_sample_sql

    return priority_sample_sql("documents", "n_chars", key_col="doc_id",
                               k=64, salt="r13")


def q_grouped_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified DLT priority sampling (r13,
    sampling.grouped_priority_sample): an independent weighted k=16
    draw per language with per-group thresholds τ_g and unbiased
    per-group subset-sum estimators — "hold 16 docs per language,
    still estimate any language's total chars from the sample". ONE
    window pass (single shuffle by group); the same IEEE-exact
    arithmetic as a206, so the oracle replays every group's draw."""
    from xml_to_parquet_spark.functions.sampling import (
        grouped_priority_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return grouped_priority_sample(docs, "lang", "n_chars", k=16,
                                   salt="g13")


def _q_grouped_priority_sample_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import (
        grouped_priority_sample_sql,
    )

    return grouped_priority_sample_sql("documents", "lang", "n_chars",
                                       k=16, salt="g13")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates in ONE scan (CASE-ladder threshold):
    downsample dominant 'en', keep all 'zh' — the language-rebalancing step
    of a multilingual training mix."""
    from xml_to_parquet_spark.functions.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs,
        "doc_id",
        "lang",
        rates={"en": 0.2, "zh": 1.0},
        default_rate=0.5,
        salt="s1",
    ).select("doc_id", "lang", "n_chars").orderBy("doc_id")


def _stratified_sample_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import hex_threshold

    return f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':s1'), 1, 6) <
      CASE WHEN lang = 'zh' THEN '{hex_threshold(1.0)}'
           WHEN lang = 'en' THEN '{hex_threshold(0.2)}'
           ELSE '{hex_threshold(0.5)}' END
ORDER BY doc_id
"""


def q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest docs per language (operators/window.grouped_topk).
    The rank<=k filter rides on the row_number so WindowGroupLimit keeps
    only k rows per group per map task BEFORE the shuffle — shuffle volume
    is k·|groups| no matter how big the input."""
    from xml_to_parquet_spark.operators.window import grouped_topk

    docs = _t(spark, sf_dir, "documents")
    return grouped_topk(
        docs.select("lang", "doc_id", "n_chars"),
        group_cols=["lang"],
        order_cols=[F.col("n_chars").desc(), F.col("doc_id").asc()],
        k=3,
    ).orderBy("lang", "rnk")


_Q_GROUPED_TOPK_SQL = """
SELECT lang, doc_id, n_chars, rnk FROM (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents
) WHERE rnk <= 3 ORDER BY lang, rnk
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (functions/dedup.contamination_check):
    flag train docs ≥50% shingle-contained in one eval doc. Inverted-index
    equi-join with the (small) eval side broadcast — the train side never
    shuffles, which is what makes this viable at 100 TB train vs MB eval."""
    from xml_to_parquet_spark.functions.dedup import contamination_check

    docs = _t(spark, sf_dir, "documents")
    evals = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return contamination_check(train, evals, min_overlap=0.5).orderBy(
        "train_id"
    )


def _contamination_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import shingle_sql

    return f"""
WITH train_docs AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
eval_docs AS (SELECT * FROM documents WHERE doc_id % 20 = 0),
sh_t AS ({shingle_sql('train_docs')}),
sh_e AS ({shingle_sql('eval_docs')}),
sizes AS (SELECT doc_id AS train_id, COUNT(*) AS n_shingles
          FROM sh_t GROUP BY 1),
shared AS (
  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS shared
  FROM sh_t t JOIN sh_e e USING (shingle)
  GROUP BY 1, 2
),
best AS (
  SELECT train_id, eval_id, shared,
         ROW_NUMBER() OVER (PARTITION BY train_id
                            ORDER BY shared DESC, eval_id) AS rn
  FROM shared
)
SELECT b.train_id, b.eval_id, b.shared,
       CAST(b.shared AS DOUBLE) / s.n_shingles AS overlap
FROM best b JOIN sizes s USING (train_id)
WHERE rn = 1 AND CAST(b.shared AS DOUBLE) / s.n_shingles >= 0.5
ORDER BY b.train_id
"""


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char-length histogram via width_bucket — the distribution
    check every curation pipeline runs before filtering. One scan, one
    small groupBy; bucket math is a pure projection."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.width_bucket(F.col("n_chars"), F.lit(0), F.lit(600), F.lit(12))
            .alias("bucket"),
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


# width_bucket(x, 0, 600, 12) spelled out (DuckDB has no width_bucket):
# x < lo → 0, x >= hi → n+1, else floor((x-lo)*n/(hi-lo)) + 1
_Q_LENGTH_HISTOGRAM_SQL = """
SELECT CASE WHEN n_chars < 0 THEN 0
            WHEN n_chars >= 600 THEN 13
            ELSE CAST(FLOOR(n_chars / 50.0) AS BIGINT) + 1 END AS bucket,
       COUNT(*) AS n,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY bucket ORDER BY bucket
"""


def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training mixture (functions/sampling.weighted_mixture):
    per-source deterministic rates + provenance label + deterministic
    shuffle key = a reproducible epoch ordering declared by a key, not by a
    materialized global sort."""
    from xml_to_parquet_spark.functions.sampling import weighted_mixture

    docs = _t(spark, sf_dir, "documents")
    mix = weighted_mixture(
        {
            "web": (docs.filter(F.col("source") == "src0"), 1.0),
            "books": (docs.filter(F.col("source") == "src1"), 0.5),
            "code": (docs.filter(F.col("source") == "src2"), 0.25),
        },
        key_col="doc_id",
        shuffle_salt="epoch0",
    )
    return mix.select("doc_id", "mix_source", "shuffle_key").orderBy(
        "shuffle_key", "doc_id"
    )


def _mixture_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import hex_threshold

    def leg(label: str, src: str, rate: float) -> str:
        return f"""
SELECT doc_id, '{label}' AS mix_source,
       substr(md5(CAST(doc_id AS VARCHAR) || '@{label}' || ':epoch0'), 1, 8)
         AS shuffle_key
FROM documents
WHERE source = '{src}'
  AND substr(md5(CAST(doc_id AS VARCHAR) || ':mix:{label}'), 1, 6)
      < '{hex_threshold(rate)}'"""

    return (
        leg("books", "src1", 0.5)
        + "\nUNION ALL"
        + leg("code", "src2", 0.25)
        + "\nUNION ALL"
        + leg("web", "src0", 1.0)
        + "\nORDER BY shuffle_key, doc_id"
    )


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per doc, ranked by (tf DESC, df ASC, token).
    Integer-only ranking (no float idf) so the oracle hash is exact. Shape:
    explode tokens → per-doc tf agg → token df agg → join back on token →
    WindowGroupLimit top-k. The df table is |vocab|-sized, which grows with
    the corpus (Heap's law — unbounded at 100 TB), so it is NOT hinted:
    AQE broadcasts it at small SF from runtime stats and falls back to a
    token-keyed shuffle join (both sides already hash on token) at scale."""
    from xml_to_parquet_spark.functions.text import norm_text
    from xml_to_parquet_spark.operators.window import grouped_topk

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(norm_text(F.col("text")), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_tab, on="token")
    return grouped_topk(
        scored.select("doc_id", "token", "tf", "df"),
        group_cols=["doc_id"],
        order_cols=[F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()],
        k=3,
    ).orderBy("doc_id", "rnk")


_Q_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
ranked AS (
  SELECT tf.doc_id, tf.token, tf.tf, dft.df,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, dft.df, tf.token) AS rnk
  FROM tf JOIN dft USING (token)
)
SELECT doc_id, token, tf, df, rnk FROM ranked
WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (functions/similarity.label_centroids):
    quantized-integer vector sums → exact, partitioning-invariant, and
    map-side-combined so shuffle bytes = |labels|·dim regardless of corpus
    size."""
    from xml_to_parquet_spark.functions.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings")
    # Driver-gate hygiene (r3 RED root cause): emit only BIGINT columns.
    # ``centroid`` (a raw DOUBLE, fully determined by sum_q/n) is dropped
    # from the catalog row; DuckDB's SUM(BIGINT) returns HUGEINT, which
    # non-fetchall client paths (pandas/arrow) render as float64/decimal —
    # so the oracle CASTs the sum back to BIGINT.
    return (
        label_centroids(emb)
        .select("label", "pos", "n", "sum_q")
        .orderBy("label", "pos")
    )


_Q_LABEL_CENTROIDS_SQL = """
SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_q
FROM (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings)
GROUP BY label, pos ORDER BY label, pos
"""


# ---------------------------------------------------------------------------
# Curation round 2: repetition filters, quality gate, sequence packing,
# duplicate clustering
# ---------------------------------------------------------------------------

def q_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals
    (functions/text.repetition_features)."""
    from xml_to_parquet_spark.functions.text import repetition_features

    docs = _t(spark, sf_dir, "documents")
    # Driver-gate hygiene: the two DOUBLE ratio columns are dropped from the
    # catalog row (they are exact functions of the four integers kept); the
    # full-frac frame remains the library API and feeds a68's gate.
    return (
        repetition_features(docs)
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            "top_bigram_n",
            "n_bigrams",
        )
        .orderBy("doc_id")
    )


_Q_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
),
base AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct_tokens
  FROM toks
),
bgs AS (
  SELECT doc_id,
         unnest(list_transform(range(len(toks) - 1),
                               i -> toks[i+1] || ' ' || toks[i+2])) AS bg
  FROM toks WHERE len(toks) >= 2
),
bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY doc_id, bg),
bstat AS (
  SELECT doc_id, MAX(c) AS top_bigram_n,
         CAST(SUM(c) AS BIGINT) AS n_bigrams
  FROM bgc GROUP BY doc_id
)
SELECT b.doc_id, n_tokens, n_distinct_tokens,
       CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens
         AS dup_token_frac,
       top_bigram_n, n_bigrams,
       CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac
FROM base b LEFT JOIN bstat USING (doc_id)
ORDER BY doc_id
"""

# a67's driver oracle: integer columns only (see q_repetition_features).
_Q_REPETITION_INT_SQL = f"""
WITH rep AS ({_Q_REPETITION_SQL.replace("ORDER BY doc_id", "")})
SELECT doc_id, n_tokens, n_distinct_tokens, top_bigram_n, n_bigrams
FROM rep ORDER BY doc_id
"""


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate with named drop reasons
    (functions/text.quality_gate)."""
    from xml_to_parquet_spark.functions.text import quality_gate

    docs = _t(spark, sf_dir, "documents")
    return quality_gate(docs).orderBy("doc_id")


def _q_quality_gate_sql() -> str:
    from xml_to_parquet_spark.functions.text import (
        GATE_MAX_DUP_TOKEN_FRAC,
        GATE_MAX_TOP_BIGRAM_FRAC,
        GATE_MIN_TOKENS,
    )

    return f"""
WITH rep AS ({_Q_REPETITION_SQL.replace('ORDER BY doc_id', '')}),
gated AS (
  SELECT doc_id,
         CASE WHEN n_tokens < {GATE_MIN_TOKENS} THEN 'too_short'
              WHEN dup_token_frac > {GATE_MAX_DUP_TOKEN_FRAC} THEN 'too_repetitive'
              WHEN top_bigram_frac > {GATE_MAX_TOP_BIGRAM_FRAC} THEN 'bigram_spam'
              ELSE 'ok' END AS drop_reason
  FROM rep
)
SELECT doc_id, drop_reason, drop_reason = 'ok' AS keep
FROM gated ORDER BY doc_id
"""


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenization (a43, tokenizer.bpe_token_counts): the actual
    lowest-rank-pair merge loop over Arrow batches with a broadcast merges
    table — vs the regex approximation of q16. The toy vocabulary meets
    the replay constraints, so the oracle is the exact sequential
    replacement chain (see functions/tokenizer.py docstring)."""
    from xml_to_parquet_spark.functions.tokenizer import bpe_token_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_token_counts(docs).orderBy("doc_id")


from xml_to_parquet_spark.functions.tokenizer import (  # noqa: E402
    bpe_replay_sql as _bpe_replay_sql,
)


def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge TRAINING (a72, tokenizer.bpe_learn_merges,
    r9 / VERDICT-r8 #3): learn the top-8 merges from the documents
    corpus by the classic greedy loop — word-frequency table once, then
    per round one pair-count aggregation (shuffle ∝ distinct pairs) and
    one map-only re-segmentation, argmax collected as a single
    model-sized driver row per round. The oracle replays the identical
    rounds as chained CTEs over the same sentinel-marked representation,
    so the learned table is bit-reproduced (including cascading merges —
    sf0.001 already learns p+ar on top of a+r). The 8-row result is a
    driver-held model (like k-means centroids); materializing it via
    createDataFrame is the model's natural shape, not a harness trick."""
    from xml_to_parquet_spark.functions.tokenizer import bpe_learn_merges

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_learn_merges(docs, num_merges=8)
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, l string, r string, cnt long",
    ).orderBy("rank")


def q_pack_nosplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-SPLIT next-fit-decreasing packing (r10 —
    sampling.pack_sequences_nosplit, the SFT discipline beside q84's
    concat-and-chunk): documents pack whole into budget-2000 bins within
    doc_id-sharded groups of 64. Inherently sequential within a shard
    (reset-on-overflow running state — not a window function), so the
    Spark side is the documented applyInPandas escape hatch with shards
    in parallel; the oracle replays the exact sequential walk with a
    recursive CTE advancing every shard in lockstep."""
    from xml_to_parquet_spark.functions.sampling import (
        pack_sequences_nosplit,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("n_tokens")
    )
    return pack_sequences_nosplit(docs, budget=2000, shard_size=64)


def _q_pack_nosplit_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import pack_nosplit_sql

    return pack_nosplit_sql(2000, token_expr="n_chars", shard_size=64)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing planner over per-source token streams
    (functions/sampling.pack_sequences, sharded by source so the window is
    fully parallel). r6 (VERDICT r5 item 3): packs by REAL BPE token
    counts (tokenizer.bpe_token_counts, source riding through the batch so
    no join back), not the regex approximation — chunk boundaries now
    reflect what a trainer would actually see."""
    from xml_to_parquet_spark.functions.sampling import pack_sequences
    from xml_to_parquet_spark.functions.tokenizer import bpe_token_counts

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    counts = bpe_token_counts(docs, keep_cols=("source",)).select(
        "doc_id", "source", F.col("bpe_tokens").alias("n_tokens")
    )
    return pack_sequences(
        counts, budget=512, shard_col="source"
    ).orderBy("source", "doc_id")


_Q_PACK_SEQUENCES_SQL = r"""
WITH t AS (
  SELECT doc_id, source,
         CAST(__BPE_COUNT__ AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start_offset
  FROM t
)
SELECT source, doc_id, n_tokens, start_offset,
       CAST(start_offset // 512 AS BIGINT) AS start_chunk,
       CAST((start_offset + n_tokens - 1) // 512 AS BIGINT) AS end_chunk,
       CAST((start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1
            AS BIGINT) AS n_chunks
FROM c ORDER BY source, doc_id
"""
_Q_PACK_SEQUENCES_SQL = _Q_PACK_SEQUENCES_SQL.replace(
    "__BPE_COUNT__", _bpe_replay_sql(_NORM_SQL)
)

_Q_BPE_TOKENS_SQL = rf"""
SELECT doc_id,
       CAST(regexp_extract_all(text, '\S+').len() AS BIGINT) AS ws_tokens,
       CAST({_bpe_replay_sql(_NORM_SQL)} AS BIGINT) AS bpe_tokens
FROM documents ORDER BY doc_id
"""

from xml_to_parquet_spark.functions.tokenizer import (  # noqa: E402
    bpe_learn_sql as _bpe_learn_sql,
)

_BPE_LEARN_SQL = _bpe_learn_sql(num_merges=8)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH candidate pairs → connected
    components via bounded min-label propagation (dedup.dedup_clusters);
    the oracle runs the identical k propagation steps as chained CTEs."""
    from xml_to_parquet_spark.functions.dedup import (
        dedup_clusters,
        minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    return dedup_clusters(
        minhash_lsh_candidates(docs), iterations=3
    ).orderBy("doc_id")


def _cluster_label_ctes(iterations: int = 3) -> tuple[str, str]:
    """CTE chain replaying dedup_clusters' k min-label-propagation rounds
    over the MinHash-LSH candidate pairs; returns (ctes, final_table) so
    callers (a70, q72) can compose further stages onto the labels."""
    steps = []
    prev = "l0"
    for i in range(1, iterations + 1):
        steps.append(
            f"l{i} AS (SELECT node, MIN(label) AS label FROM ("
            f"SELECT node, label FROM {prev} UNION ALL "
            f"SELECT e.src AS node, l.label FROM edges e "
            f"JOIN {prev} l ON e.dst = l.node) GROUP BY node)"
        )
        prev = f"l{i}"
    ctes = f"""cand AS ({_minhash_lsh_sql()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL SELECT id_b AS src, id_a AS dst FROM cand
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{", ".join(steps)}"""
    return ctes, prev


def _q_dedup_clusters_sql(iterations: int = 3) -> str:
    ctes, final = _cluster_label_ctes(iterations)
    return f"""
WITH {ctes}
SELECT node AS doc_id, label AS cluster_id FROM {final} ORDER BY doc_id
"""


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-refined clustering (similarity.kmeans_assign_quantized): the
    centroid-training step IVF deferred, in exact integer arithmetic so the
    DuckDB oracle replays identical assign/update rounds."""
    from xml_to_parquet_spark.functions.similarity import (
        kmeans_assign_quantized,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign_quantized(emb, k=8, iterations=2).orderBy("vec_id")


def _q_kmeans_sql(
    k: int = 8,
    iterations: int = 2,
    quant: int = 1_000_000,
    vec_sql: str = "embedding",
    n_probe: int = 1,
) -> str:
    parts = [
        f"""vpos AS (
  SELECT vec_id, generate_subscripts({vec_sql}, 1) - 1 AS pos,
         CAST(floor(CAST(unnest({vec_sql}) AS DOUBLE) * {float(quant)} + 0.5)
              AS BIGINT) AS vq
  FROM embeddings
)""",
        f"c0 AS (SELECT vec_id AS cid, pos, vq AS cq FROM vpos "
        f"WHERE vec_id < {k})",
    ]
    prev_c = "c0"
    for i in range(1, iterations + 1):
        parts.append(
            f"""d{i} AS (
  SELECT v.vec_id, c.cid, SUM((v.vq - c.cq) * (v.vq - c.cq)) AS d
  FROM vpos v JOIN {prev_c} c USING (pos)
  GROUP BY v.vec_id, c.cid
)"""
        )
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d{i}) WHERE rn = 1
)"""
        )
        if i < iterations:
            parts.append(
                f"""cs{i} AS (
  SELECT a.cid, v.pos, SUM(v.vq) // COUNT(*) AS cq
  FROM a{i} a JOIN vpos v USING (vec_id)
  GROUP BY a.cid, v.pos
)"""
            )
            parts.append(
                f"""c{i} AS (
  SELECT * FROM cs{i}
  UNION ALL
  SELECT cid, pos, cq FROM {prev_c}
  WHERE cid NOT IN (SELECT DISTINCT cid FROM cs{i})
)"""
            )
            prev_c = f"c{i}"
    if n_probe > 1:
        # multi-probe final assignment: top-n_probe centroids per point
        # by (distance, cid) — probe_rank 0 is the single-assign cell
        return (
            "WITH "
            + ",\n".join(parts)
            + f"""
SELECT vec_id, CAST(cid AS INT) AS cell, CAST(rn - 1 AS INT) AS probe_rank
FROM (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM d{iterations}) WHERE rn <= {n_probe}
ORDER BY vec_id, probe_rank"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, CAST(cid AS INT) AS cell FROM a{iterations} "
        "ORDER BY vec_id"
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, the SemDeDup shape (similarity.semantic_dedup):
    integer k-means cells, then within-cell int64-exact cosine pruning
    (keep-min-id). The oracle replays the identical clustering rounds and
    the identical threshold algebra, so every keep/drop decision is
    bit-reproduced. `keep` is cast to INT (0/1) for the comparator.

    r9: n_probe=3 multi-probe candidate generation (the SemDeDup
    boundary fix — measured pair-recall 0.33 -> 0.95 at k=8 on the
    near-isotropic worst case, tools/ann_recall.py --semdedup); the
    oracle replays the same top-3-cells probing, so the exactness story
    is unchanged — recall is a property of the candidate set, and BOTH
    engines now build the same larger one."""
    from xml_to_parquet_spark.functions.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, k=8, iterations=2, quant=1024, n_probe=3)
    return out.select(
        "vec_id",
        "cell",
        F.col("keep").cast("int").alias("keep"),
        "dup_of",
    ).orderBy("vec_id")


def _q_semantic_dedup_sql(
    k: int = 8,
    iterations: int = 2,
    quant: int = 1024,
    tau_num: int = 2,
    tau_den: int = 5,
    n_probe: int = 1,
) -> str:
    if n_probe > 1:
        # multi-probe twin: candidates = DISTINCT pairs sharing ANY
        # probed cell; dots are computed per candidate pair (never
        # summed across shared cells); reported cell = probe_rank 0
        probes = _q_kmeans_sql(
            k=k, iterations=iterations, quant=quant, n_probe=n_probe
        )
        return f"""
WITH probes AS (SELECT * FROM ({probes})),
assign AS (SELECT vec_id, cell FROM probes WHERE probe_rank = 0),
vq AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * {float(quant)} + 0.5) AS BIGINT)
         ) AS vq
  FROM embeddings
),
cand AS (
  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
  FROM probes a JOIN probes b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
),
vp AS (
  SELECT vec_id, generate_subscripts(vq, 1) - 1 AS pos, unnest(vq) AS qv
  FROM vq
),
norms AS (
  SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nn FROM vp GROUP BY vec_id
),
dots AS (
  SELECT c.ia, c.ib, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dab
  FROM cand c
  JOIN vp a ON a.vec_id = c.ia
  JOIN vp b ON b.vec_id = c.ib AND b.pos = a.pos
  GROUP BY c.ia, c.ib
),
dups AS (
  SELECT d.ib AS vec_id, MIN(d.ia) AS dup_of
  FROM dots d
  JOIN norms na ON na.vec_id = d.ia
  JOIN norms nb ON nb.vec_id = d.ib
  WHERE na.nn > 0 AND nb.nn > 0 AND d.dab > 0
    AND d.dab * d.dab * {tau_den * tau_den}
        >= {tau_num * tau_num} * na.nn * nb.nn
  GROUP BY d.ib
)
SELECT a.vec_id, a.cell, CAST(p.vec_id IS NULL AS INT) AS keep, p.dup_of
FROM assign a LEFT JOIN dups p USING (vec_id)
ORDER BY a.vec_id
"""
    kmeans = _q_kmeans_sql(k=k, iterations=iterations, quant=quant)
    return f"""
WITH assign AS (SELECT * FROM ({kmeans})),
vq AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * {float(quant)} + 0.5) AS BIGINT)
         ) AS vq
  FROM embeddings
),
vp AS (
  SELECT a.vec_id, a.cell, generate_subscripts(q.vq, 1) - 1 AS pos,
         unnest(q.vq) AS qv
  FROM assign a JOIN vq q USING (vec_id)
),
norms AS (
  SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nn FROM vp GROUP BY vec_id
),
dots AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dab
  FROM vp a JOIN vp b
    ON a.cell = b.cell AND a.pos = b.pos AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
dups AS (
  SELECT d.ib AS vec_id, MIN(d.ia) AS dup_of
  FROM dots d
  JOIN norms na ON na.vec_id = d.ia
  JOIN norms nb ON nb.vec_id = d.ib
  WHERE na.nn > 0 AND nb.nn > 0 AND d.dab > 0
    AND d.dab * d.dab * {tau_den * tau_den}
        >= {tau_num * tau_num} * na.nn * nb.nn
  GROUP BY d.ib
)
SELECT a.vec_id, a.cell, CAST(p.vec_id IS NULL AS INT) AS keep, p.dup_of
FROM assign a LEFT JOIN dups p USING (vec_id)
ORDER BY a.vec_id
"""


def q_rare_gram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram LM quality gate (text.rare_gram_quality): the
    integer-exact perplexity-filter shape — rare-gram fraction under the
    corpus's empirical n-gram distribution, gated at 10%. The oracle
    replays the relative-frequency rarity test and the gate cross-
    multiplications verbatim."""
    from xml_to_parquet_spark.functions.text import rare_gram_quality

    docs = _t(spark, sf_dir, "documents")
    return rare_gram_quality(docs).orderBy("doc_id")


def _q_rare_gram_sql(
    n: int = 3, rare_k: int = 2000, max_num: int = 1, max_den: int = 10
) -> str:
    return f"""
WITH tris AS (
  SELECT d.doc_id, substring(lower(d.text), g.i, {n}) AS tri
  FROM documents d, LATERAL (
    SELECT unnest(generate_series(1, length(lower(d.text)) - {n - 1})) AS i
  ) g
  WHERE length(d.text) >= {n}
),
freq AS (SELECT tri, CAST(COUNT(*) AS BIGINT) AS cnt FROM tris GROUP BY tri),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
scored AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
         CAST(COUNT(CASE WHEN f.cnt * {rare_k} < tot.total THEN 1 END)
              AS BIGINT) AS n_rare
  FROM tris t JOIN freq f USING (tri) CROSS JOIN tot
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(COALESCE(s.n_rare, 0) AS BIGINT) AS n_rare,
       CASE WHEN s.n_tri > 0 THEN
         CAST((COALESCE(s.n_rare, 0) * 1000000) // s.n_tri AS BIGINT)
       END AS rare_ppm,
       CAST(COALESCE(s.n_rare, 0) * {max_den}
            <= COALESCE(s.n_tri, 0) * {max_num} AS INT) AS pass_gate
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


_PII_ROWS = [
    (1, "contact me at john.doe@example.com or visit "
        "https://example.com/page?id=9"),
    (2, "card 1234567890 and phone 555-1234"),
    (3, "clean text with no pii"),
]


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (text.scrub_pii) over a fully-determined fixture —
    the oracle is the expected literal output, so the regex semantics are
    pinned rather than re-derived in another dialect."""
    from xml_to_parquet_spark.functions.text import scrub_pii

    df = spark.createDataFrame(_PII_ROWS, "doc_id long, text string")
    return scrub_pii(df).orderBy("doc_id")


_Q_SCRUB_PII_SQL = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'contact me at <EMAIL> or visit <URL>',
   CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
  (CAST(2 AS BIGINT), 'card <NUM> and phone 555-1234',
   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(3 AS BIGINT), 'clean text with no pii',
   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT))
) AS t(doc_id, scrubbed_text, n_email, n_url, n_number)
ORDER BY doc_id
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch dedup (dedup.dedup_against_corpus): docs whose
    fingerprint exists in the reference corpus (here: ids < 250) are
    dropped — the 'never retrain on seen data' step."""
    from xml_to_parquet_spark.functions.dedup import dedup_against_corpus

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    return dedup_against_corpus(docs, corpus).orderBy("doc_id")


_Q_DEDUP_INCREMENTAL_SQL = f"""
WITH fp AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents),
corpus AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM documents WHERE doc_id < 250
)
SELECT doc_id FROM fp
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = fp.fp)
ORDER BY doc_id
"""


def q_assign_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (sampling.assign_split): hash-gate
    cut points, so a document never migrates between splits across re-runs,
    partitionings, or engines."""
    from xml_to_parquet_spark.functions.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    return assign_split(docs, "doc_id").select("doc_id", "split").orderBy(
        "doc_id"
    )


def _q_assign_split_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import assign_split_sql

    return f"""
SELECT doc_id, {assign_split_sql('doc_id')} AS split
FROM documents ORDER BY doc_id
"""


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline end-to-end: MinHash-LSH candidates →
    connected-component clusters → corpus filtered to one representative
    per cluster (dedup.dedup_apply)."""
    from xml_to_parquet_spark.functions.dedup import (
        dedup_apply,
        dedup_clusters,
        minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    clusters = dedup_clusters(minhash_lsh_candidates(docs), iterations=3)
    return dedup_apply(docs, clusters).select("doc_id").orderBy("doc_id")


def _q_dedup_apply_sql() -> str:
    return f"""
WITH cl AS ({_q_dedup_clusters_sql(3)})
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM cl WHERE cluster_id <> doc_id)
ORDER BY doc_id
"""


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (§2.9 parity-plus): view→purchase
    funnel attribution with watermark-bounded join state; AvailableNow
    over the static dir makes the emitted set equal the batch interval
    join the oracle computes."""
    from xml_to_parquet_spark.streaming.file_stream import (
        stream_events_interval_join,
    )

    return stream_events_interval_join(spark, sf_dir)


_Q_STREAM_JOIN_SQL = """
SELECT a.user_id AS user_id,
       strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS left_time,
       strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS right_time,
       a.event_id AS left_id,
       b.event_id AS right_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
ORDER BY a.user_id, left_id, right_id
"""


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (a95, §2.9 parity-plus): the event
    stream joined per-micro-batch against the static customer dimension,
    aggregated by (event_type, market segment).  Stateless join — the
    remaining streaming join shape after windows/dedup/stream-stream; with
    AvailableNow the result equals the batch join+agg the oracle runs."""
    from xml_to_parquet_spark.streaming.file_stream import (
        stream_events_enriched,
    )

    return stream_events_enriched(spark, sf_dir)


_Q_STREAM_ENRICH_SQL = f"""
SELECT e.event_type, COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
       CAST(COUNT(*) AS BIGINT) AS n, {dsum_sql('value', 'value_sum')}
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY event_type, segment
"""


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text curation (text.html_to_text/html_title): each document
    wrapped in a deterministic page shell — head with title and style,
    body with markup, a script whose STRING contains tags, a comment —
    then stripped back to visible text. The oracle replays both the wrap
    and the strip, so any divergence in element-drop order, entity
    decoding, or whitespace collapse hash-mismatches."""
    from xml_to_parquet_spark.functions.text import (
        html_title,
        html_to_text,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        did,
        F.lit(
            " &amp; friends</title><style>h1{font-size:12px}</style>"
            "</head><body><h1>Doc "
        ),
        did,
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            '</p><script type="text/javascript">var t = "<p>junk</p>";'
            " run(1);</script><!-- trail --></body></html>"
        ),
    )
    body = html_to_text(html)
    return (
        docs.select(
            "doc_id",
            html_title(html).alias("title"),
            body.alias("body"),
        )
        .select(
            "doc_id",
            "title",
            F.length("body").cast("long").alias("body_len"),
            F.size(F.split(F.col("body"), " "))
            .cast("long")
            .alias("n_tokens"),
            F.substring("body", 1, 40).alias("head40"),
        )
        .orderBy("doc_id")
    )


def _html_strip_sql(expr: str) -> str:
    """DuckDB replay of text.html_to_text over an html expression —
    same element drops, same tag→space, same entity order, same
    whitespace collapse (RE2 accepts the identical patterns; DuckDB
    needs explicit 'g' where Spark's regexp_replace is always-global)."""
    t = f"regexp_replace({expr}, '(?is)<head\\b[^>]*>.*?</head\\s*>', ' ', 'g')"
    t = f"regexp_replace({t}, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g')"
    t = f"regexp_replace({t}, '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g')"
    t = f"regexp_replace({t}, '(?s)<!--.*?-->', ' ', 'g')"
    t = f"regexp_replace({t}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, repl in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&apos;", "''"),
        ("&amp;", "&"),
    ):
        t = f"replace({t}, '{ent}', '{repl}')"
    return f"trim(regexp_replace({t}, '\\s+', ' ', 'g'))"


def _html_title_sql(expr: str) -> str:
    t = (
        f"regexp_extract({expr}, "
        f"'(?is)<title\\b[^>]*>(.*?)</title\\s*>', 1)"
    )
    for ent, repl in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&apos;", "''"),
        ("&amp;", "&"),
    ):
        t = f"replace({t}, '{ent}', '{repl}')"
    return f"nullif(trim(regexp_replace({t}, '\\s+', ' ', 'g')), '')"


def _q_html_extract_sql() -> str:
    wrap = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || "
        "' &amp; friends</title><style>h1{font-size:12px}</style>"
        "</head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || "
        "'</h1><p>' || text || "
        "'</p><script type=\"text/javascript\">var t = \"<p>junk</p>\";"
        " run(1);</script><!-- trail --></body></html>'"
    )
    return f"""
WITH h AS (SELECT doc_id, {wrap} AS html FROM documents),
x AS (
  SELECT doc_id,
         {_html_title_sql('html')} AS title,
         {_html_strip_sql('html')} AS body
  FROM h
)
SELECT doc_id, title,
       CAST(length(body) AS BIGINT) AS body_len,
       CAST(len(string_split(body, ' ')) AS BIGINT) AS n_tokens,
       substring(body, 1, 40) AS head40
FROM x ORDER BY doc_id
"""


def q_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level curation (text.clean_lines — the C4/RefinedWeb pass):
    documents rendered as multi-line pages with navigation stubs, a
    repeated header line, and short boilerplate; the cleaner must drop
    sub-``min_words`` lines and within-doc duplicate lines (first stays)
    and the oracle replays the whole render+clean.

    Runs the codegen twin (clean_lines_exploded: posexplode + min-pos
    dedup aggs, r8) — measured 43% under the interpreted-HOF column
    version at the docs100 rung (8.56 -> 4.85 s min-of-3), equality
    test-pinned, same oracle."""
    from xml_to_parquet_spark.functions.text import clean_lines_exploded

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    head = F.array_join(F.slice(toks, 1, 8), " ")
    mid = F.array_join(F.slice(toks, 9, 8), " ")
    page = F.concat_ws(
        "\n",
        head,                      # real first line
        F.lit("Menu"),             # 1 word -> dropped
        F.lit("© 2024 site"), # 3 words -> kept (boundary)
        head,                      # duplicate of line 1 -> dropped
        F.lit("  spaced\tout   words  here "),  # normalized, kept
        mid,                       # real second line
        F.lit("Share"),            # dropped
        F.lit(""),                 # empty -> dropped
    )
    paged = docs.select("doc_id", page.alias("page"))
    cleaned = clean_lines_exploded(
        paged, text_col="page", id_col="doc_id", min_words=3
    )
    return cleaned.select(
        "doc_id",
        "cleaned",
        F.size(F.split("cleaned", "\n")).cast("long").alias("n_lines"),
        F.length("cleaned").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


def _q_line_clean_sql() -> str:
    nl = "chr(10)"
    page = (
        f"concat_ws({nl}, head, 'Menu', '© 2024 site', head, "
        f"'  spaced' || chr(9) || 'out   words  here ', mid, 'Share', '')"
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
           AS head,
         array_to_string(list_slice(string_split(text, ' '), 9, 16), ' ')
           AS mid
  FROM documents
),
p AS (SELECT doc_id, {page} AS page FROM t),
c AS (
  SELECT doc_id,
         array_to_string(
           list_filter(
             list_filter(
               list_transform(
                 string_split(page, {nl}),
                 x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))
               ),
               x -> len(string_split(x, ' ')) >= 3
             ),
             (x, i) -> list_position(
               list_filter(
                 list_transform(
                   string_split(page, {nl}),
                   y -> trim(regexp_replace(y, '\\s+', ' ', 'g'))
                 ),
                 y -> len(string_split(y, ' ')) >= 3
               ), x) = i
           ),
           {nl}
         ) AS cleaned
  FROM p
)
SELECT doc_id, cleaned,
       CAST(len(string_split(cleaned, {nl})) AS BIGINT) AS n_lines,
       CAST(length(cleaned) AS BIGINT) AS n_chars
FROM c ORDER BY doc_id
"""


def q_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding QA (text.mojibake_hits / fix_mojibake): every fifth doc
    gets one round of UTF-8-as-Latin-1 corruption injected ('a' becomes
    the e-acute mojibake pair), then the detector counts artifacts and
    the repairer's output length proves the fix collapsed each two-char
    marker back to one char. Oracle replays corrupt+detect+repair."""
    from xml_to_parquet_spark.functions.text import (
        MOJIBAKE_REPAIRS,
        fix_mojibake,
        mojibake_hits,
    )

    moji = MOJIBAKE_REPAIRS[0][0]
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corrupted = F.when(
        F.col("doc_id") % 5 == 0,
        F.replace(F.col("text"), F.lit("a"), F.lit(moji)),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        mojibake_hits(corrupted).cast("long").alias("n_moji"),
        (mojibake_hits(corrupted) > 0).cast("int").alias("is_moji"),
        F.length(corrupted).cast("long").alias("len_raw"),
        F.length(fix_mojibake(corrupted)).cast("long").alias("len_fixed"),
    ).orderBy("doc_id")


def _q_mojibake_sql() -> str:
    from xml_to_parquet_spark.functions.text import MOJIBAKE_REPAIRS

    moji = MOJIBAKE_REPAIRS[0][0]
    pat = "|".join(m for m, _r in MOJIBAKE_REPAIRS)
    fix = "t"
    for m, r in MOJIBAKE_REPAIRS:
        fix = f"replace({fix}, '{m}', '{r}')"
    return f"""
WITH c AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN replace(text, 'a', '{moji}') ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_moji,
       CAST(len(regexp_extract_all(t, '{pat}')) > 0 AS INT) AS is_moji,
       CAST(length(t) AS BIGINT) AS len_raw,
       CAST(length({fix}) AS BIGINT) AS len_fixed
FROM c ORDER BY doc_id
"""


def q_mojibake_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round byte-level encoding repair (a34,
    text.fix_mojibake_deep — r8, VERDICT r7 #5): real crawls carry
    double/triple-encoded UTF-8 that the single-round literal table
    (a22) cannot reach, so this kernel iterates the ftfy-core reversal
    (re-encode cp1252/latin-1, strict-UTF-8 decode as the witness) to a
    fixed point inside Arrow-batched mapInPandas.

    Exact oracle by round-trip construction: each doc's input is an
    ASCII token prefix (corruption-INVARIANT, so the corrupted input is
    buildable with plain literals) plus a unicode suffix corrupted
    doc_id%4 rounds in Python at plan-build time; a correct kernel must
    recover prefix + the CLEAN suffix exactly, which the oracle computes
    straight from documents — under-repair (stopping a round early),
    over-repair (touching clean text), or any byte drift hash-mismatches.
    Round 0 rows pin idempotence on already-clean text."""
    from xml_to_parquet_spark.functions.text import (
        corrupt_utf8_py,
        fix_mojibake_deep,
    )

    # Ω blocks any further round-trip (outside cp1252/latin-1), making
    # the clean suffix a provable fixed point of the repair loop
    clean_sfx = "café “naïve Ω–…”"
    stages = [corrupt_utf8_py(clean_sfx, r) for r in range(4)]
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prefix = F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, 5), " "
    )
    corrupted = F.element_at(
        F.array(*[F.lit(s) for s in stages]),
        (F.col("doc_id") % 4).cast("int") + 1,
    )
    inp = docs.select(
        "doc_id",
        F.concat(prefix, F.lit(" "), corrupted).alias("text"),
    )
    fixed = fix_mojibake_deep(inp, text_col="text", out_col="fixed")
    return fixed.select(
        "doc_id",
        "fixed",
        F.length("fixed").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


def _q_mojibake_deep_sql() -> str:
    sfx = "café “naïve Ω–…”"
    return f"""
SELECT doc_id,
       array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')
         || ' ' || '{sfx}' AS fixed,
       CAST(length(array_to_string(
              list_slice(string_split(text, ' '), 1, 5), ' ')
            || ' ' || '{sfx}') AS BIGINT) AS n_chars
FROM documents ORDER BY doc_id
"""


def q_stream_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream → exactly-once published table → pointer-resolved
    aggregate (streaming twin of a47: the stream lands via foreachBatch
    append-publish with batch-id dedup, and the oracle recomputes the
    aggregate from the raw events — a moved pointer, double-committed
    replay, or orphan-dir read all hash-mismatch)."""
    from xml_to_parquet_spark.streaming.file_stream import (
        stream_events_published,
    )

    return stream_events_published(spark, sf_dir)


_Q_STREAM_PUBLISH_SQL = f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
       {dsum_sql('value', 'value_sum')}
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_stream_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-gated dead-letter routing
    (file_stream.stream_events_quarantined +
    sinks.publish.quarantine_router): every streamed row is gated by
    two declared a212-style rate checks; good rows and rejects
    append-publish exactly-once to SEPARATE tables from one checkpoint
    (per-root batch-id guards — a crash between the two publishes
    replays the batch, the committed root skips, the other lands). The
    oracle replays the gate as a first-failing-check CASE over raw
    events, so a dropped/duplicated/mis-routed row hash-mismatches."""
    from xml_to_parquet_spark.streaming.file_stream import (
        stream_events_quarantined,
    )

    return stream_events_quarantined(spark, sf_dir)


def _q_stream_quarantine_sql() -> str:
    from xml_to_parquet_spark.functions import constraints as C

    reason = C.reject_reason_sql(
        [
            C.member_of(
                "event_type", ["click", "purchase", "signup", "view"],
                name="type_domain",
            ),
            C.in_range("value", 0.0, 300.0, name="value_band"),
        ]
    )
    return f"""
WITH flagged AS (
  SELECT event_id, value, {reason} AS reject_reason FROM events
)
SELECT CASE WHEN reject_reason IS NULL THEN 'good' ELSE 'quarantine' END
           AS route,
       COALESCE(reject_reason, 'ok') AS reject_reason,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
       {dsum_sql('value', 'value_sum')}
FROM flagged GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous sketch maintenance (q95, file_stream.stream_events_kmv,
    r8): each micro-batch KMV-sketches its slice (≤k hashes per
    event_type) and append-publishes the sketch rows exactly-once; the
    reader merges all published sketches into per-group distinct
    estimates. Oracle: the KMV merge identity — the streamed-and-merged
    estimate must equal a sketch built directly on the whole events
    table (kmv_distinct_sql), and multi_batch pins that ≥2 micro-batch
    commits really happened (the merge was not vacuous)."""
    from xml_to_parquet_spark.streaming.file_stream import stream_events_kmv

    return stream_events_kmv(spark, sf_dir)


def _q_stream_kmv_sql() -> str:
    from xml_to_parquet_spark.functions.sketches import kmv_distinct_sql

    inner = kmv_distinct_sql(
        "events", "CAST(event_id AS VARCHAR)", ["event_type"]
    )
    return f"""
SELECT event_type, est_distinct, exact_distinct, TRUE AS multi_batch
FROM ({inner}) ORDER BY event_type
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention (a96, dedup.dedup_apply_best): keep
    each cluster's best-scoring member instead of the min id — the
    curation rule real training pipelines want.  The catalog row clusters
    by a deterministic first-two-token prefix (SQL-exact stand-in for any
    clusterer; half the docs land in multi-doc groups) and scores by text
    length; the operator itself composes with dedup_clusters(_star)."""
    from xml_to_parquet_spark.functions.dedup import dedup_apply_best

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("long").alias("score"),
        F.concat_ws(
            " ", F.slice(F.split(F.lower(F.trim(F.col("text"))), " "), 1, 2)
        ).alias("prefix"),
    )
    clusters = docs.select(
        "doc_id", F.col("prefix").alias("cluster_id")
    )
    kept = dedup_apply_best(
        docs, clusters, id_col="doc_id", score_col="score"
    )
    return kept.select("doc_id", "prefix", "score").orderBy("doc_id")


_Q_DEDUP_KEEP_BEST_SQL = """
WITH d AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS score,
         array_to_string(
           list_slice(string_split(lower(trim(text)), ' '), 1, 2), ' '
         ) AS prefix
  FROM documents
),
r AS (
  SELECT doc_id, prefix, score,
         ROW_NUMBER() OVER (PARTITION BY prefix
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM d
)
SELECT doc_id, prefix, score FROM r WHERE rn = 1 ORDER BY doc_id
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-per-key dedup (§2.9 parity-plus):
    dropDuplicatesWithinWatermark bounds state by the watermark horizon;
    with AvailableNow on a static dir the result equals batch DISTINCT."""
    from xml_to_parquet_spark.streaming.file_stream import stream_events_dedup

    return stream_events_dedup(spark, sf_dir)


# the stream emits exactly one row per distinct key, so both measures
# equal the batch distinct-key count
_Q_STREAM_DEDUP_SQL = """
SELECT COUNT(DISTINCT event_id) AS n_rows,
       COUNT(DISTINCT event_id) AS n_keys
FROM events
"""


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating star contraction
    (dedup.dedup_clusters_star) — O(log² n) rounds for ANY graph shape,
    with convergence-checksum early exit. The oracle computes the TRUE
    component fixpoint with a recursive CTE, so this also proves the
    contraction converges (a stronger check than replaying fixed rounds)."""
    from xml_to_parquet_spark.functions.dedup import (
        dedup_clusters_star,
        minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    return dedup_clusters_star(minhash_lsh_candidates(docs)).orderBy("doc_id")


def _q_dedup_clusters_star_sql() -> str:
    return f"""
WITH RECURSIVE cand AS ({_minhash_lsh_sql()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL SELECT id_b AS src, id_a AS dst FROM cand
),
cc AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
  UNION
  SELECT e.src AS node, cc.label FROM edges e JOIN cc ON e.dst = cc.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id
FROM cc GROUP BY node ORDER BY doc_id
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows: 2-hour windows every hour —
    each event lands in exactly 2 buckets. Built-in F.window(size, slide);
    the oracle replicates via a 2-offset bucket expansion."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "value_sum"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "event_type",
            "n",
            "value_sum",
        )
        .orderBy("bucket_start", "event_type")
    )


_Q_SLIDING_WINDOW_SQL = f"""
WITH expanded AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
           - o.h * INTERVAL 1 HOUR AS bucket_start,
         event_type, value
  FROM events CROSS JOIN (VALUES (0), (1)) o(h)
)
SELECT strftime(bucket_start, '%Y-%m-%d %H:%M:%S') AS bucket_start,
       event_type, COUNT(*) AS n, {dsum_sql('value', 'value_sum')}
FROM expanded
GROUP BY bucket_start, event_type
ORDER BY bucket_start, event_type
"""


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window (gap-merged event-time sessions) — the
    built-in counterpart of q45's lag/cumsum construction. Boundary
    semantics differ subtly: session windows are half-open [start,
    last+gap), so an event at exactly prev+gap starts a NEW session — the
    oracle's break condition is therefore >= gap (q45's hand-rolled
    variant uses > gap)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


_Q_SESSION_WINDOW_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE user_id < 10
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER
                (PARTITION BY user_id ORDER BY ts)) >= 1800
              THEN 1 ELSE 0 END AS brk
  FROM e
),
sess AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType JSON path: ``parse_json`` once into a binary
    variant, then typed ``variant_get`` extraction — the scale path for
    repeated multi-field access (q13's ``get_json_object`` re-parses the
    JSON string per call; variant parses once into a binary encoding with
    O(1)-ish field access)."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return (
        ev.select(
            "event_type", F.variant_get(v, "$.k", "int").alias("k")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum(F.col("k").cast("long")).alias("k_sum"),
        )
        .orderBy("event_type")
    )


_Q_VARIANT_JSON_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (similarity.pq_codes): m per-subspace
    integer-exact kmeans fits — the IVF-PQ compression step. Oracle:
    each subspace's kmeans replayed on the sliced embedding."""
    from xml_to_parquet_spark.functions.similarity import pq_codes

    emb = _t(spark, sf_dir, "embeddings")
    return pq_codes(emb, m=4, k=16, iterations=1, dim=64).orderBy(
        "vec_id", "sub"
    )


def _q_pq_codes_sql(m: int = 4, k: int = 16, iterations: int = 1,
                    dim: int = 64) -> str:
    sub = dim // m
    subqs = []
    for s in range(m):
        vec = f"embedding[{s * sub + 1}:{(s + 1) * sub}]"
        inner = _q_kmeans_sql(k=k, iterations=iterations, vec_sql=vec)
        # strip the inner ORDER BY; wrap as a subquery emitting (id, sub, cell)
        inner = inner.replace("ORDER BY vec_id", "")
        subqs.append(
            f"SELECT vec_id, {s} AS sub, cell FROM ({inner})"
        )
    return (
        " UNION ALL ".join(subqs) + " ORDER BY vec_id, sub"
    )


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton Z-order keys (operators.scale.zorder_key) — the data-layout
    primitive behind OPTIMIZE ZORDER-style multi-column file skipping;
    pure integer bit interleave, exact in any engine. The layout benefit
    itself (per-file min/max range tightening on BOTH columns) is
    asserted in tests/test_scale.py::test_zorder_layout_tightens_file_ranges."""
    from xml_to_parquet_spark.operators.scale import zorder_key

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zorder_key(F.col("user_id"), F.col("event_id"), bits=16).alias(
            "zkey"
        ),
    ).orderBy("event_id")


def _q_zorder_key_sql() -> str:
    from xml_to_parquet_spark.operators.scale import zorder_key_sql

    return f"""
SELECT event_id, {zorder_key_sql('user_id', 'event_id', 16)} AS zkey
FROM events ORDER BY event_id
"""


def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE-style upsert (operators.scale.upsert_by_key): updates
    overwrite base rows per key (equal order ties resolve to the update
    side); one shuffle on the key, no driver state."""
    from xml_to_parquet_spark.operators.scale import upsert_by_key

    orders = _t(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    merged = upsert_by_key(orders, updates, ["o_orderkey"], "o_orderdate")
    return (
        merged.filter(F.col("o_orderkey") < 200)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


_Q_UPSERT_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 7 = 0 THEN CAST(-1.0 AS DOUBLE)
            ELSE o_totalprice END AS o_totalprice
FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey
"""


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension maintenance (operators.scale.scd2_apply):
    changed values close their open version and append a new one; brand
    new keys insert as open rows — Kimball history-preserving dims, the
    maintenance mode the reference's star schemas need across loads."""
    from xml_to_parquet_spark.operators.scale import scd2_apply

    region = _t(spark, sf_dir, "region")
    dim = region.select(
        F.col("r_regionkey").cast("int").alias("key"),
        F.col("r_name").alias("value"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    changes = (
        region.filter(F.col("r_regionkey").isin(0, 2))
        .select(
            F.col("r_regionkey").cast("int").alias("key"),
            F.concat(F.col("r_name"), F.lit("_NEW")).alias("value"),
        )
        .unionByName(
            # literal via SQL VALUES → JVM LocalTableScan. createDataFrame
            # builds a Python RDD (applySchemaToPythonRDD) that scd2's
            # multi-branch plan re-evaluates 3x per action — measured 3.9s
            # vs 0.75s steady-state for this 5-row query.
            spark.sql("SELECT CAST(99 AS INT) AS key, 'NEWREGION' AS value")
        )
    )
    out = scd2_apply(dim, changes, "key", "value", "2024-06-01")
    return out.orderBy("key", "valid_from")


_Q_SCD2_SQL = """
WITH dim AS (
  SELECT CAST(r_regionkey AS INTEGER) AS key, r_name AS value,
         DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM region
)
SELECT key, value, valid_from, DATE '2024-06-01' AS valid_to
FROM dim WHERE key IN (0, 2)
UNION ALL
SELECT key, value, valid_from, valid_to FROM dim WHERE key NOT IN (0, 2)
UNION ALL
SELECT CAST(r_regionkey AS INTEGER), r_name || '_NEW',
       DATE '2024-06-01', CAST(NULL AS DATE)
FROM region WHERE r_regionkey IN (0, 2)
UNION ALL
SELECT 99, 'NEWREGION', DATE '2024-06-01', CAST(NULL AS DATE)
ORDER BY key, valid_from
"""


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (dedup.fuzzy_pairs_symdel):
    symmetric-delete neighborhood blocking + exact levenshtein verify —
    the entity-resolution primitive on short keys; integer distances are
    exactly oracle-checkable. The oracle deliberately uses the naive
    O(n²) formulation: same result, independently derived — which doubles
    as a lossless-blocking proof on real data.

    UNCAPPED: customer names are UNIFORM-length AND uniform-format, the
    measured worst case for both length blocking (one bucket → all-pairs,
    242 s at sf0.1 in r2) and gram blocking (saturated gram key-space →
    8×10⁸ candidates at 150k names); deletion variants keep candidates
    output-sized at every scale (soak: 150k names ≈ 4 s)."""
    from xml_to_parquet_spark.functions.dedup import fuzzy_pairs_symdel

    cust = _t(spark, sf_dir, "customer")
    return fuzzy_pairs_symdel(
        cust, "c_name", id_col="c_custkey", max_distance=1
    ).orderBy("id_a", "id_b")


_Q_FUZZY_PAIRS_SQL = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
  AND levenshtein(a.c_name, b.c_name) <= 1
ORDER BY id_a, id_b
"""


def q_fuzzy_qgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENERAL fuzzy matcher (dedup.fuzzy_pairs_qgram): positional
    q-gram prefix filtering (ED-Join) + exact levenshtein verify — the
    path for long/variable strings and k ≥ 3 where deletion neighborhoods
    blow up. Input capped to a 5k-key slice to keep the bench wall
    honest; the operator itself is uncapped and brute-force-equivalence
    tested (see SCALING.md for the variant-selection trade-offs)."""
    from xml_to_parquet_spark.functions.dedup import fuzzy_pairs_qgram

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 5000)
    return fuzzy_pairs_qgram(
        cust, "c_name", id_col="c_custkey", max_distance=1
    ).orderBy("id_a", "id_b")


_Q_FUZZY_QGRAM_SQL = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
WHERE a.c_custkey < 5000 AND b.c_custkey < 5000
  AND abs(length(a.c_name) - length(b.c_name)) <= 1
  AND levenshtein(a.c_name, b.c_name) <= 1
ORDER BY id_a, id_b
"""


def q_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window battery: lag/lead/rank/dense_rank/ntile/cume_dist
    over per-customer order sequences — the full OLAP window surface in
    one oracle-checked plan (single shuffle on the partition key)."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_orderkey").over(w).alias("prev_order"),
            F.lead("o_orderkey").over(w).alias("next_order"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.cume_dist().over(w).alias("cd"),
        )
        .orderBy("o_custkey", "rnk")
    )


_Q_WINDOW_BATTERY_SQL = """
SELECT o_custkey, o_orderkey,
       LAG(o_orderkey) OVER w AS prev_order,
       LEAD(o_orderkey) OVER w AS next_order,
       CAST(RANK() OVER w AS INT) AS rnk,
       CAST(DENSE_RANK() OVER w AS INT) AS drnk,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       CUME_DIST() OVER w AS cd
FROM orders WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, rnk
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id — finer than rollup/cube
    (q34/q43): exactly the named aggregation levels, each row tagged with
    which columns are aggregated away."""
    from xml_to_parquet_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT)
                 AS gid,
               COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
        """
    )


_Q_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT)
         AS gid,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
ORDER BY gid, o_orderstatus, o_orderpriority
"""


def q_null_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling battery: coalesce / nullif / greatest / least /
    null-safe equality over lineitem — counted so the whole battery is one
    exact aggregation row per return flag."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.coalesce(F.col("l_linestatus"), F.lit("")) == "O")
                .cast("long")
            ).alias("n_open"),
            F.sum(
                F.nullif(F.col("l_linenumber"), F.lit(1)).isNull()
                .cast("long")
            ).alias("n_line1"),
            F.sum(
                (
                    F.greatest("l_quantity", "l_discount")
                    == F.col("l_quantity")
                ).cast("long")
            ).alias("n_qty_ge"),
            F.sum(
                F.col("l_linestatus").eqNullSafe(F.lit("F")).cast("long")
            ).alias("n_f"),
        )
        .orderBy("l_returnflag")
    )


_Q_NULL_BATTERY_SQL = """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN COALESCE(l_linestatus, '') = 'O' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN NULLIF(l_linenumber, 1) IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_line1,
       CAST(SUM(CASE WHEN GREATEST(l_quantity, l_discount) = l_quantity
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_qty_ge,
       CAST(SUM(CASE WHEN l_linestatus IS NOT DISTINCT FROM 'F'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_f
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------



def _messy_url_col() -> "F.Column":
    """Deterministic messy-URL construction shared by a97/a98 — built
    identically in the oracle SQL so both engines normalize the SAME
    strings: four shapes cycling on doc_id (leading tracking param +
    fragment + https default port + WWW/case noise; http default port +
    trailing slash; MID-query tracking param between two real params
    [the ADVICE r5 separator case]; http with :443 — a NON-default port
    for that scheme, which must survive [the ADVICE r5 pairing case]).
    Hosts cycle on doc_id % 6 across suffix shapes (r7 VERDICT r6 #8;
    r8 adds the wildcard/exception rows VERDICT r7 #4 asked for):
    0 plain <source>.example.com; 1 sub.<source>.example.co.uk and
    2 <source>.example.co.uk — these two share the registrable domain
    example.co.uk, so per-domain grouping must collapse them while host
    grouping would not; 3 pg<doc_id%7>.quarry.ck — the PSL WILDCARD rule
    ``*.ck`` makes quarry.ck itself a public suffix, so the registrable
    domain keeps all three labels; 4 www.ck — the EXCEPTION rule
    ``!www.ck`` beats the wildcard and makes www.ck its own registrable
    domain; 5 svc.city.kawasaki.jp — ``!city.kawasaki.jp`` inside the
    ``*.kawasaki.jp`` wildcard zone."""
    d = F.col("doc_id").cast("string")
    six = F.col("doc_id") % 6
    host = (
        F.when(six == 3, F.concat(
            F.lit("pg"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".quarry.ck"),
        ))
        .when(six == 4, F.lit("www.ck"))
        .when(six == 5, F.lit("svc.city.kawasaki.jp"))
        .otherwise(F.concat(
            F.when(six == 1, F.lit("sub.")).otherwise(F.lit("")),
            F.col("source"),
            F.when(six == 0, F.lit(".example.com")).otherwise(
                F.lit(".example.co.uk")
            ),
        ))
    )
    return (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW."),
                F.upper(host),
                F.lit(":443/Doc/"),
                d,
                F.lit("?utm_source=x&q="),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://"), host, F.lit(":80/doc/"), d, F.lit("/")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://"),
                host,
                F.lit(":8080/Doc/"),
                d,
                F.lit("?a="),
                (F.col("doc_id") % 5).cast("string"),
                F.lit("&fbclid=abc&keep=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), host, F.lit(":443/doc/"), d,
                F.lit("?gclid=z"),
            )
        )
    )


_URL_FIXTURE_HOST_SQL = (
    "(CASE CAST(doc_id % 6 AS INT) "
    "WHEN 3 THEN 'pg' || (doc_id % 7) || '.quarry.ck' "
    "WHEN 4 THEN 'www.ck' "
    "WHEN 5 THEN 'svc.city.kawasaki.jp' "
    "ELSE ((CASE WHEN doc_id % 6 = 1 THEN 'sub.' ELSE '' END) || source || "
    "(CASE WHEN doc_id % 6 = 0 THEN '.example.com' "
    "ELSE '.example.co.uk' END)) END)"
)

_URL_CASE_SQL = f"""CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'HTTPS://WWW.' || upper({_URL_FIXTURE_HOST_SQL})
                  || ':443/Doc/'
                  || doc_id || '?utm_source=x&q=' || (doc_id % 7) || '#frag'
      WHEN 1 THEN 'http://' || {_URL_FIXTURE_HOST_SQL} || ':80/doc/'
                  || doc_id || '/'
      WHEN 2 THEN 'https://' || {_URL_FIXTURE_HOST_SQL} || ':8080/Doc/'
                  || doc_id || '?a=' || (doc_id % 5) || '&fbclid=abc&keep=1'
      ELSE 'http://' || {_URL_FIXTURE_HOST_SQL} || ':443/doc/' || doc_id
           || '?gclid=z'
    END"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (a42, dedup.repeated_kgram_spans): corpus-wide
    repeated 4-token windows merged into maximal per-document spans — the
    passage-granularity contamination pass document-level dedup cannot
    express (VERDICT r5 item 2)."""
    from xml_to_parquet_spark.functions.dedup import repeated_kgram_spans

    docs = _t(spark, sf_dir, "documents")
    # r14-opt: the documented production hash toggle — posting shuffle
    # and count-join keys are 8-byte longs instead of 32-char md5
    # strings. Spans are hash-agnostic (the hash only buckets grams for
    # the repeat count), so the md5-replaying oracle still matches
    # bit-for-bit; verified at sf0.001/0.01/0.1.
    spans = repeated_kgram_spans(docs, k=4, min_count=2,
                                 hash_mode="xxhash64")
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_positions",
    ).orderBy("doc_id", "span_start")


_Q_SUBSTRING_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(greatest(len(t) - 3, 0)),
           i -> struct_pack(pos := i,
                            gram := array_to_string(t[i+1:i+4], ' ')))) AS u
  FROM toks
),
p AS (SELECT doc_id, u.pos AS pos, md5(u.gram) AS h FROM g),
c AS (SELECT h FROM p GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM p JOIN c USING (h)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS ni
  FROM hits
),
i2 AS (
  SELECT doc_id, pos,
         SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 3 AS span_end,
       count(*) AS n_positions
FROM i2 GROUP BY doc_id, island ORDER BY doc_id, span_start
"""


def _registrable_sql(host_expr: str = "host") -> str:
    """DuckDB replay of text.registrable_domain over a host column,
    generated from the SAME parsed full-PSL tables the Spark expression
    probes (r8: real Public Suffix List incl. wildcard/exception rules —
    see text.registrable_domain_sql)."""
    from xml_to_parquet_spark.functions.text import registrable_domain_sql

    return registrable_domain_sql(host_expr)


def q_atomic_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic manifest-pointer table publish (a47, sinks/publish.py):
    commit snapshot v1, supersede it with v2, then KILL a v3 writer
    mid-materialization (a raise_error column) — the reader
    resolving the pointer must see exactly v2, never the orphaned partial
    files. The oracle recomputes v2's content straight from lineitem, so
    a pointer that advanced on the failed commit (or stayed on v1, or a
    reader that globbed version dirs instead of resolving the manifest)
    hash-mismatches. Closes the reference's unguarded in-place overwrite
    (parquet_writer.R:53-81)."""
    from xml_to_parquet_spark.sinks.publish import (
        publish_parquet,
        read_published,
    )

    # a 10% orderkey slice: the commit protocol is metadata-side — its
    # gate doesn't need to rewrite 6M rows per bench run
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_returnflag", "l_quantity")
    )
    with scratch_dir("a47_pub_") as root:
        publish_parquet(li.filter(F.col("l_quantity") >= 30), root)
        publish_parquet(li.filter(F.col("l_quantity") >= 40), root)  # v2
        poisoned = li.withColumn(
            "l_quantity",
            F.when(
                F.col("l_orderkey") % 997 == 0,
                F.raise_error(F.lit("simulated mid-write failure")),
            ).otherwise(F.col("l_quantity")),
        )
        from xml_to_parquet_spark.session import quiet_jvm_logs

        try:
            # the write is EXPECTED to abort — mute the JVM's ERROR
            # stack traces for exactly this window so bench/driver
            # stderr stays clean enough to alarm on real errors
            with quiet_jvm_logs(spark):
                publish_parquet(poisoned, root)
            raise AssertionError("poisoned publish must fail")
        except AssertionError:
            raise
        except Exception:
            pass  # the killed writer: pointer must still resolve v2
        out = (
            read_published(spark, root)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
            )
            .orderBy("l_returnflag")
        )
        # the published root is ephemeral: materialize before cleanup
        return spark.createDataFrame(out.collect(), out.schema)


_Q_ATOMIC_PUBLISH_SQL = """
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
FROM lineitem
WHERE l_orderkey % 10 = 0 AND l_quantity >= 40
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_diff_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version change feed (q94, publish.diff_published —
    the Delta-CDF-shaped incremental-consumer surface): publish
    v1 = qty>=30 slice, v2 = APPEND of the qty<15 slice, v3 = OVERWRITE
    with the qty>=40 slice, then emit diff(v1→v2) (the append fast path:
    reads ONLY the new version dir, O(delta)) and diff(v2→v3) (the
    general exceptAll path: deletes = v2's rows outside v3). The oracle
    recomputes both diffs from lineitem set algebra — a fast path that
    leaked base rows, a pointer misread, or multiset-wrong exceptAll all
    hash-mismatch."""
    from xml_to_parquet_spark.sinks.publish import (
        diff_published,
        publish_parquet,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )
    with scratch_dir("q94_diff_") as root:
        publish_parquet(li.filter(F.col("l_quantity") >= 30), root)
        publish_parquet(
            li.filter(F.col("l_quantity") < 15), root, mode="append"
        )
        publish_parquet(li.filter(F.col("l_quantity") >= 40), root)
        fast = diff_published(spark, root, 1, 2).withColumn(
            "phase", F.lit("append")
        )
        general = diff_published(spark, root, 2, 3).withColumn(
            "phase", F.lit("overwrite")
        )
        out = fast.unionByName(general).select(
            "phase",
            "_change_type",
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
        # the published root is ephemeral: materialize before cleanup
        return spark.createDataFrame(out.collect(), out.schema)


_Q_DIFF_PUBLISHED_SQL = """
WITH li AS (
  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem WHERE l_orderkey % 10 = 0
)
SELECT 'append' AS phase, 'insert' AS _change_type, * FROM li
WHERE qty < 15
UNION ALL
SELECT 'overwrite', 'insert', * FROM (
  SELECT * FROM li WHERE qty >= 40
  EXCEPT ALL
  SELECT * FROM li WHERE qty >= 30 OR qty < 15
)
UNION ALL
SELECT 'overwrite', 'delete', * FROM (
  SELECT * FROM li WHERE qty >= 30 OR qty < 15
  EXCEPT ALL
  SELECT * FROM li WHERE qty >= 40
)
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup keys (a97,
    text.normalize_url/registrable_domain): scheme+host case-folded,
    www. and default ports dropped, fragment and tracking params
    stripped, trailing slash trimmed, path case preserved; host AND
    registrable domain (FULL-PSL eTLD+1 incl. wildcard/exception rules,
    r8 — computed via the broadcast rules-table lookup, the scale path)
    extracted. Every step is a regexp with identical semantics in both
    engines, so the oracle replays the chain string-for-string; the
    domain ladder SQL is GENERATED from the same parsed PSL tables."""
    from xml_to_parquet_spark.functions.text import (
        extract_domain,
        normalize_url,
        with_registrable_domain,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url_col().alias("url")
    )
    return (
        with_registrable_domain(docs, url_col="url", out_col="domain")
        .select(
            "doc_id",
            normalize_url(F.col("url")).alias("url_norm"),
            extract_domain(F.col("url")).alias("host"),
            "domain",
        )
        .orderBy("doc_id")
    )


_Q_URL_NORMALIZE_SQL = f"""
WITH u AS (
  SELECT doc_id, {_URL_CASE_SQL} AS url FROM documents
),
h AS (
  SELECT doc_id, url,
         regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)
           AS head
  FROM u
),
n AS (
  SELECT doc_id, url,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(
             lower(head) || substring(url, length(head) + 1),
             '^(https?://)www\\.', '\\1'),
             '^(http://[^/:?#]+):80([/?#]|$)', '\\1\\2'),
             '^(https://[^/:?#]+):443([/?#]|$)', '\\1\\2'),
             '#.*$', ''),
             '&(utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
             '\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&', '?'),
             '\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*$', ''),
             '[?&]+$', ''),
             '/$', '') AS url_norm
  FROM h
)
SELECT doc_id, url_norm, host, {_registrable_sql('rawhost')} AS domain
FROM (
  SELECT doc_id, url_norm,
         nullif(regexp_replace(
           lower(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)),
           '^www\\.', ''), '') AS host,
         -- PSL walks the RAW host: www is an ordinary label to the list
         -- (!www.ck must see it), only the display column strips it
         nullif(lower(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)), '')
           AS rawhost
  FROM n
) ORDER BY doc_id
"""


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain anti-domination cap (a98, text.cap_per_domain): at most
    k docs per REGISTRABLE domain (r7, VERDICT r6 #8 — the fixture's
    sub.<source>.example.co.uk and <source>.example.co.uk hosts collapse
    into one example.co.uk group, which host-keyed capping would miss),
    survivors picked by the deterministic md5 sample gate (partitioning/
    engine-invariant) — the rank filter rides row_number so Spark plans
    WindowGroupLimit (shuffle ≤ k rows/domain/map task)."""
    from xml_to_parquet_spark.functions.text import (
        cap_per_domain,
        with_registrable_domain,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url_col().alias("url")
    )
    kept = cap_per_domain(docs, 5)
    return (
        with_registrable_domain(kept, url_col="url", out_col="domain")
        .select("domain", "doc_id")
        .orderBy("domain", "doc_id")
    )


_Q_DOMAIN_CAP_SQL = f"""
WITH u AS (
  SELECT doc_id, {_URL_CASE_SQL} AS url FROM documents
),
hh AS (
  SELECT doc_id,
         nullif(lower(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)), '')
           AS rawhost
  FROM u
),
d AS (
  SELECT doc_id, {_registrable_sql('rawhost')} AS domain FROM hh
),
r AS (
  SELECT domain, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY domain
           ORDER BY substring(md5(doc_id || ':domcap0'), 1, 6), doc_id
         ) AS rn
  FROM d
)
SELECT domain, doc_id FROM r WHERE rn <= 5 ORDER BY domain, doc_id
"""


# ---------------------------------------------------------------------------
# Sketch family (r7): mergeable fixed-size summaries — the 100 TB answer to
# COUNT(DISTINCT) and per-token frequency queries. Integer-exact in both
# engines (functions/sketches.py module docstring has the overflow budget
# and the decimal-division pitfall that forced pure-BIGINT estimates).
# ---------------------------------------------------------------------------


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-token estimate per language, next to the exact count.

    Plan shape: one distinct over (lang, hash52(token)) — the only
    corpus-sized shuffle — then WindowGroupLimit keeps k=64 rows per
    group; the exact comparison count is a second agg over the same
    distinct set, broadcast back. Sketch state is 64 longs per group,
    mergeable by keeping the 64 smallest of any union."""
    from xml_to_parquet_spark.functions.sketches import kmv_distinct
    from xml_to_parquet_spark.functions.text import norm_text

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(norm_text(F.col("text")), " ")).alias("token")
    )
    return (
        kmv_distinct(toks, key_col="token", group_cols=["lang"])
        .orderBy("lang")
    )


def _q_kmv_sql() -> str:
    from xml_to_parquet_spark.functions.sketches import kmv_distinct_sql

    toks = (
        "SELECT lang, unnest(string_split(" + _NORM_SQL + ", ' ')) AS token "
        "FROM documents"
    )
    return (
        kmv_distinct_sql(
            "tok_t", "token", ["lang"], with_ctes=f"tok_t AS ({toks})"
        )
        + " ORDER BY lang"
    )


def q_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra (q96, sketches.kmv_set_algebra, r8): how many
    distinct customers have fulfilled ('F') orders, open ('O') orders,
    either, BOTH, and their Jaccard — estimated from two fixed-size KMV
    sketches alone (the theta-sketch composition: the union sketch's k
    minima are a uniform sample of A∪B; the both-sketches hit-rate
    estimates the Jaccard; intersection = ratio × union estimate). The
    cross-corpus overlap question whose exact answer co-shuffles both
    key sets costs O(k) on sketches q95 shows can be maintained
    incrementally. Exact columns ride along; the oracle replays sketch
    AND exact bit-for-bit. (The partially-overlapping custkey sets are
    the one non-degenerate set pair in the testdata — the token/user
    columns share one fixed vocabulary across labels.)"""
    from xml_to_parquet_spark.functions.sketches import kmv_set_algebra

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_custkey").cast("string").alias("ck")
    )
    return kmv_set_algebra(
        orders, key_col="ck", label_col="o_orderstatus",
        label_a="F", label_b="O",
    )


def _q_kmv_set_algebra_sql() -> str:
    from xml_to_parquet_spark.functions.sketches import kmv_set_algebra_sql

    return kmv_set_algebra_sql(
        "orders", "CAST(o_custkey AS VARCHAR)", "o_orderstatus", "F", "O"
    )


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (q98, drift.frequency_drift, r8): the
    top-20 tokens whose relative frequency moved most between the src0
    and src1 corpus slices, in exact integer ppm — the refresh-cycle QA
    gate that catches a crawl whose token mix shifted before training
    does. One conditional-sum groupBy folds both slices in a single
    corpus pass; totals broadcast; shuffle ∝ vocabulary."""
    from xml_to_parquet_spark.functions.drift import frequency_drift
    from xml_to_parquet_spark.functions.text import norm_text

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("token"),
    )
    return frequency_drift(
        toks, label_col="source", label_a="src0", label_b="src1",
        key_col="token",
    )


def _q_token_drift_sql() -> str:
    from xml_to_parquet_spark.functions.drift import frequency_drift_sql

    toks = (
        "SELECT source, unnest(string_split(" + _NORM_SQL + ", ' ')) "
        "AS token FROM documents"
    )
    return frequency_drift_sql(
        "tok_t", "source", "src0", "src1", "token",
        with_ctes=f"tok_t AS ({toks})",
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText composite quality rules (q99,
    text.gopher_rules, r8): the canonical published pre-training document
    gate — word-count and mean-word-length bounds, symbol/bullet/
    ellipsis ratios, alpha-word ratio, distinct-stopword floor — every
    threshold an int64 cross-multiplication, zero shuffles/joins/UDFs
    (map-only codegen scan). Catalog thresholds are tuned so the
    synthetic corpus splits on r_words and r_stop; the full rule battery
    (bullets, ellipses, symbols, mwl bounds) is pinned by fixture tests.
    """
    from xml_to_parquet_spark.functions.text import gopher_rules

    docs = _t(spark, sf_dir, "documents")
    return gopher_rules(
        docs, min_words=30, min_stop_distinct=1
    ).orderBy("doc_id")


def _q_gopher_rules_sql() -> str:
    from xml_to_parquet_spark.functions.text import gopher_rules_sql

    return gopher_rules_sql(min_words=30, min_stop_distinct=1)


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-pair PMI / collocation mining (q100, association.pmi_pairs,
    r8): top within-document token pairs by exact integer lift
    (monotone surrogate of PMI — no logs, no floats). One corpus scan →
    presence table; df table map-side combined (shuffle ∝ vocabulary);
    pair self-join bounded BEFORE the join by min_df pruning + a
    deterministic per-doc cap (the a-priori trick)."""
    from xml_to_parquet_spark.functions.association import pmi_pairs

    docs = _t(spark, sf_dir, "documents")
    return pmi_pairs(docs, min_df=3, min_pair_count=3)


def _q_pmi_pairs_sql() -> str:
    from xml_to_parquet_spark.functions.association import pmi_pairs_sql

    return pmi_pairs_sql(norm_sql=_NORM_SQL, min_df=3, min_pair_count=3)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (q101, graph.triangle_counts, r8): per-part
    triangle participation in the co-purchase graph (parts co-ordered in
    the same order at least twice), by degree-ordered orientation — the
    published O(m^1.5) MapReduce recipe whose wedge table stays bounded
    under hub skew. The min-support edge filter is the pre-quadratic
    thinning step a 100 TB basket graph needs anyway."""
    from xml_to_parquet_spark.functions.graph import triangle_counts

    return triangle_counts(_coorder_edges(spark, sf_dir))


def _q_triangles_sql() -> str:
    from xml_to_parquet_spark.functions.graph import triangle_counts_sql

    return triangle_counts_sql(_COORDER_EDGES_SQL)


def q_bucket_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly monitor (q102, drift.bucket_anomalies, r8): hourly
    event-count z-score outliers per stream, the |c-mean| > 2*stddev
    test multiplied out into exact int64 algebra (no floats, no sqrt).
    Bucket table shuffle ∝ groups×buckets (corpus-independent); moments
    aggregate THAT table; broadcast join back."""
    from xml_to_parquet_spark.functions.drift import bucket_anomalies

    ev = _t(spark, sf_dir, "events")
    return bucket_anomalies(ev)


def _q_bucket_anomalies_sql() -> str:
    from xml_to_parquet_spark.functions.drift import bucket_anomalies_sql

    return bucket_anomalies_sql()


def q_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression (q103, sampling.k_anonymize, r8): redact
    quasi-identifier combinations shared by fewer than k=5 documents —
    the privacy step between scrub_pii and release. One class-table
    groupBy (shuffle ∝ distinct quasi combos) + one null-safe equi-join
    back; every row survives, suppression redacts rather than drops."""
    from xml_to_parquet_spark.functions.sampling import k_anonymize

    docs = _t(spark, sf_dir, "documents")
    return k_anonymize(docs, ["lang", "source"], k=5).orderBy("doc_id")


def _q_k_anonymize_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import k_anonymize_sql

    return k_anonymize_sql("documents", ["lang", "source"], k=5)


def _coorder_edges(spark: SparkSession, sf_dir: str):
    """Shared co-purchase edge builder for the graph entries (q101/q104):
    basket arrays + double explode (one corpus shuffle, per-order dedup
    fused into map-side collect_set), min-support w>=2 thinning."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    return (
        baskets.select(F.explode("parts").alias("p1"), "parts")
        .select("p1", F.explode("parts").alias("p2"))
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )


_COORDER_EDGES_SQL = """
  SELECT p1 AS src, p2 AS dst FROM (
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS w
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
  ) WHERE w >= 2
"""


def q_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS levels (q104, graph.bfs_levels, r8): how many
    new parts each seed part reaches at hop 1/2/3 of the co-purchase
    graph — frontier expansion with a visited anti-join, per-round
    localCheckpoint (the iterative hygiene shared with pagerank and
    dedup_clusters); fixed hop count keeps the oracle a finite unrolled
    CTE chain."""
    from xml_to_parquet_spark.functions.graph import bfs_levels

    return bfs_levels(_coorder_edges(spark, sf_dir), seeds=[1, 2, 3])


def _q_bfs_khop_sql() -> str:
    from xml_to_parquet_spark.functions.graph import bfs_levels_sql

    return bfs_levels_sql(_COORDER_EDGES_SQL, seeds=[1, 2, 3])


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (q126, graph.k_core, r9): iterative peeling
    of the co-purchase graph — the link-farm/orphan-chain curation gate.
    Fixed 6 peels keep the oracle a finite unrolled CTE chain; the
    in-band converged flag (sound certificate: survivor counts equal ⇔
    the next peel would remove nothing) proves the true 3-core was
    reached rather than an arbitrary prefix of the peel sequence."""
    from xml_to_parquet_spark.functions.graph import k_core

    return k_core(_coorder_edges(spark, sf_dir), k=3, rounds=6)


def _q_k_core_sql() -> str:
    from xml_to_parquet_spark.functions.graph import k_core_sql

    return k_core_sql(_COORDER_EDGES_SQL, k=3, rounds=6)


_PROBE_FEATURES = ["space_ppm", "digit_ppm", "e_ppm"]


def q_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-probe TRAINING (q127, inference.linear_probe_fit,
    r9): fit is-English from three shape features (space/digit/'e'
    density in ppm) by exact fixed-point batch GD — one corpus scan per
    round producing d+1 gradient sums, weights as plan literals (the
    k-means/BPE action pattern). The oracle replays the identical
    rounds, so every learned weight is bit-reproduced."""
    from xml_to_parquet_spark.functions.inference import linear_probe_fit

    docs = _t(spark, sf_dir, "documents")
    q = 1_000_000
    den = "greatest(length(text), 1)"
    feats = docs.select(
        F.when(F.col("lang") == "en", q).otherwise(0)
        .cast("long").alias("y"),
        F.expr(
            f"div((length(text) - length(replace(text, ' ', ''))) "
            f"* {q}L, {den})"
        ).alias("space_ppm"),
        F.expr(
            f"div(length(regexp_replace(text, '[^0-9]', '')) "
            f"* {q}L, {den})"
        ).alias("digit_ppm"),
        F.expr(
            f"div((length(text) - length(replace(text, 'e', ''))) "
            f"* {q}L, {den})"
        ).alias("e_ppm"),
    )
    return linear_probe_fit(feats, _PROBE_FEATURES).orderBy("pos")


def _q_linear_probe_sql() -> str:
    from xml_to_parquet_spark.functions.inference import linear_probe_fit_sql

    q = 1_000_000
    den = "greatest(length(text), 1)"
    feats = f"""
SELECT CAST(CASE WHEN lang = 'en' THEN {q} ELSE 0 END AS BIGINT) AS y,
       (length(text) - length(replace(text, ' ', ''))) * {q} // {den}
         AS space_ppm,
       length(regexp_replace(text, '[^0-9]', '', 'g')) * {q} // {den}
         AS digit_ppm,
       (length(text) - length(replace(text, 'e', ''))) * {q} // {den}
         AS e_ppm
FROM documents
"""
    return linear_probe_fit_sql(feats, _PROBE_FEATURES)


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity monitor (q105, drift.ngram_diversity, r8):
    per-source word-bigram type/token ratio in integer ppm — the
    templated-content / mode-collapse gate. Grams built row-locally by
    an array transform (zero-shuffle generation); only the two map-side
    aggs shuffle, ∝ slice vocabulary."""
    from xml_to_parquet_spark.functions.drift import ngram_diversity

    return ngram_diversity(_t(spark, sf_dir, "documents"))


def _q_ngram_diversity_sql() -> str:
    from xml_to_parquet_spark.functions.drift import ngram_diversity_sql

    return ngram_diversity_sql(norm_sql=_NORM_SQL)


def q_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact set-similarity join (q106,
    dedup.setsim_prefix_pairs, r8): all shingle-Jaccard >= 0.8 pairs via
    the published AllPairs/PPJoin prefix filter — LOSSLESS (the oracle
    is the brute-force all-pairs join, so a driver match proves no pair
    was missed) while the candidate join touches only each doc's
    rarest ~20% of shingles; hot shingles never enter the join. 0.8 is
    the canonical near-dup threshold (same operating point as the
    minhash family); at 0.5 the same corpus yields the same pairs but
    ~10x the candidates (125k vs ~12k at sf0.1) — the threshold IS the
    prefix filter's selectivity knob."""
    from xml_to_parquet_spark.functions.dedup import setsim_prefix_pairs

    return setsim_prefix_pairs(
        _t(spark, sf_dir, "documents"), t_num=4, t_den=5
    )


def _q_setsim_prefix_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import setsim_bruteforce_sql

    return setsim_bruteforce_sql("documents", t_num=4, t_den=5)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-containment near-dup join (r12, VERDICT r11 item 6,
    dedup.containment_prefix_pairs): every DIRECTED pair with
    |A∩B|/|A| >= 0.8 over word-trigram shingles — the quote/boilerplate
    shape symmetric Jaccard structurally misses (a doc verbatim inside
    a 10x larger doc has containment 1.0 but Jaccard ~0.1). One-sided
    prefix filter: only the contained side is prefix-cut (pigeonhole on
    ceil(t*|A|)); the container side contributes full postings, pruned
    by the szB length filter and the dual positional filter on the
    globally-rarest common token. LOSSLESS: the oracle is the
    brute-force directed all-pairs join, so a driver match proves no
    pair was missed on the real corpus."""
    from xml_to_parquet_spark.functions.dedup import containment_prefix_pairs

    return containment_prefix_pairs(
        _t(spark, sf_dir, "documents"), t_num=4, t_den=5
    )


def _q_containment_pairs_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import containment_bruteforce_sql

    return containment_bruteforce_sql("documents", t_num=4, t_den=5)


# Boilerplate-skew containment fixture: a legal-footer sentence appended
# to 20% of the long docs plus a handful of footer-only docs. Its word
# trigrams land 30-100x above the corpus's p99.9 shingle document
# frequency (sf0.01: df 59 vs p999 6; sf0.1: 603 vs 20), so the
# candidate join has genuinely hot keys — the shape hot_df_cap exists
# for. The footer-only docs are the pa_hot population: their rarest-
# token prefix is ALL hot shingles, so the broadcast branch carries
# real rows, not just an empty plan arm.
_CONTAINMENT_BOILER = (
    "all rights reserved terms and conditions apply to this document"
)


def q_containment_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened exact containment join (r13, VERDICT r12 plan-audit
    residual, dedup.containment_prefix_pairs hot_df_cap): identical
    semantics to q294, run with the hot/cold candidate split on a
    corpus with real boilerplate skew. Shingles with df > 32 (the
    appended legal footer, 30-100x above the p99.9 df) leave the
    shuffle equi-join for a broadcast(prefix-side) ⋈ postings branch,
    so the hot postings lists are never shuffled BY KEY — the 10⁹-doc
    straggler shape is gone from the plan, not just mitigated by AQE.
    LOSSLESS: the oracle is the brute-force directed join over the
    same corpus, so a driver match proves the split misses nothing on
    data where the hot branch carries real candidate pairs."""
    from xml_to_parquet_spark.functions.dedup import containment_prefix_pairs

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("n_chars") >= 250).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat_ws(" ", F.col("text"), F.lit(_CONTAINMENT_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    pure = docs.filter(F.col("doc_id") % 500 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.lit(_CONTAINMENT_BOILER).alias("text"),
    )
    return containment_prefix_pairs(
        base.unionByName(pure), t_num=4, t_den=5, hot_df_cap=32
    )


def _q_containment_skew_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import containment_bruteforce_sql

    corpus = (
        "(SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || "
        f"' {_CONTAINMENT_BOILER}' ELSE text END AS text "
        "FROM documents WHERE n_chars >= 250 "
        f"UNION ALL SELECT doc_id + 100000, '{_CONTAINMENT_BOILER}' "
        "FROM documents WHERE doc_id % 500 = 0)"
    )
    return containment_bruteforce_sql(corpus, t_num=4, t_den=5)


def q_containment_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k containment SCREEN (r12, dedup.containment_sketch_pairs):
    the Mash-screen / containment-MinHash estimator — k=16 smallest
    shingle hashes per doc probed against the full hash postings, est =
    m/s_k, no verification arrays, probe volume O(k) per doc regardless
    of doc size. The billion-doc screening stage in front of the exact
    a148 join (exact 1.0-containment pairs are always found). The
    estimator is DETERMINISTIC (md5-ranked, shingle tie-break, 32-bit
    collision folding identical in both engines), so the oracle is an
    exact SQL replay — the driver match proves the estimator itself."""
    from xml_to_parquet_spark.functions.dedup import containment_sketch_pairs

    return containment_sketch_pairs(
        _t(spark, sf_dir, "documents"), k=16, t_num=4, t_den=5
    )


def _q_containment_sketch_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import containment_sketch_sql

    return containment_sketch_sql("documents", k=16, t_num=4, t_den=5)


def q_containment_screened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen→exact containment COMPOSITION (r13, VERDICT r12 item 3,
    dedup.containment_screened_pairs): the bottom-k sketch screen at a
    permissive 1/2 threshold nominates contained-doc candidates with
    O(k) probes each; the exact one-sided prefix join then re-asks ONLY
    the survivors at the real 4/5 threshold against the full corpus —
    the 10⁹-doc pipeline as one operator, exact-join verdicts on a
    survivor-sized candidate volume. Both stages are deterministic, so
    the oracle replays screen AND exact stage in SQL; the driver match
    proves the composition end to end."""
    from xml_to_parquet_spark.functions.dedup import (
        containment_screened_pairs,
    )

    return containment_screened_pairs(
        _t(spark, sf_dir, "documents"), k=16, t_num=4, t_den=5,
        screen_num=1, screen_den=2,
    )


def _q_containment_screened_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import containment_screened_sql

    return containment_screened_sql(
        "documents", k=16, t_num=4, t_den=5, screen_num=1, screen_den=2
    )


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup APPLIED (r12, dedup.containment_dedup_apply):
    surviving documents after dropping every doc contained ≥0.8 in a
    strictly-greater container (size desc, id asc — mutual containment
    keeps exactly one representative; the drop rule is local/one-pass,
    the C4-style drop-against-the-corpus discipline). Ordered doc_id +
    length so the oracle pins which rows survived, not just how many."""
    from xml_to_parquet_spark.functions.dedup import containment_dedup_apply

    out = containment_dedup_apply(
        _t(spark, sf_dir, "documents"), t_num=4, t_den=5
    )
    return out.select(
        "doc_id", F.length("text").alias("text_len"), "lang", "source"
    ).orderBy("doc_id")


def _q_containment_dedup_sql() -> str:
    from xml_to_parquet_spark.functions.dedup import containment_dedup_sql

    inner = containment_dedup_sql("documents", t_num=4, t_den=5)
    return (
        f"SELECT doc_id, CAST(length(text) AS INT) AS text_len, lang, "
        f"source FROM ({inner.rstrip()}) ORDER BY doc_id"
    )


def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift maintenance (q107,
    file_stream.stream_docs_drift, r8): per-micro-batch conditional
    token counts append-published exactly-once; the reader folds the
    partials into the SAME report as the one-pass batch monitor — the
    associative-merge identity is the oracle (streamed report ==
    q98's whole-table report), with multi_batch pinning ≥2 commits."""
    from xml_to_parquet_spark.streaming.file_stream import stream_docs_drift

    return stream_docs_drift(spark, sf_dir)


def _q_stream_drift_sql() -> str:
    from xml_to_parquet_spark.functions.drift import frequency_drift_sql

    toks = (
        "SELECT source, unnest(string_split(" + _NORM_SQL + ", ' ')) "
        "AS token FROM documents"
    )
    inner = frequency_drift_sql(
        "tok_t", "source", "src0", "src1", "token",
        with_ctes=f"tok_t AS ({toks})",
    )
    return (
        f"SELECT key, cnt_a, cnt_b, ppm_a, ppm_b, dppm, TRUE AS multi_batch"
        f" FROM ({inner})"
    )


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (q108,
    scale.refresh_grouped_agg): publish a lineitem slice, append a
    second slice, then refresh the per-returnflag (count, sum) state
    from the CHANGE FEED only — the q94 append fast path reads just the
    new data dirs, so the refresh is O(delta) with zero base rescans.
    The oracle recomputes the aggregate over the FULL union in DuckDB:
    a match proves the textbook self-maintainable count/sum algebra
    (exact DECIMAL sums — associative, so incremental == full)."""
    from xml_to_parquet_spark.operators.scale import (
        materialize_grouped_agg,
        refresh_grouped_agg,
    )
    from xml_to_parquet_spark.sinks.publish import (
        publish_parquet,
        read_published,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_returnflag", "l_quantity")
    )
    part_a = li.filter((F.col("l_orderkey") / 10).cast("long") % 3 != 0)
    part_b = li.filter((F.col("l_orderkey") / 10).cast("long") % 3 == 0)
    with scratch_dir("q108_mv_") as root:
        publish_parquet(part_a, root)                    # v1 snapshot
        publish_parquet(part_b, root, mode="append")     # v2 append
        prev = materialize_grouped_agg(
            read_published(spark, root, version=1),
            ["l_returnflag"],
            "l_quantity",
        )
        refreshed = refresh_grouped_agg(
            spark, root, prev, ["l_returnflag"], "l_quantity", v_from=1
        )
        out = refreshed.select(
            "l_returnflag",
            F.col("n").cast("long").alias("n"),
            F.col("m_sum").cast("double").alias("qty_sum"),
        ).orderBy("l_returnflag")
        # the published root is ephemeral: materialize before cleanup
        return spark.createDataFrame(out.collect(), out.schema)


_Q_INCREMENTAL_AGG_SQL = """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS qty_sum
FROM lineitem WHERE l_orderkey % 10 = 0
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Poisson bootstrap (q109,
    sampling.poisson_bootstrap_means, r8): 16 bootstrap replicate
    estimates of mean document length from ONE corpus scan — each row
    draws a deterministic Poisson(1) weight per replicate from integer
    CDF thresholds over its md5 hash (the published large-n multinomial
    limit), weighted sums in exact DECIMAL, B agg columns instead of B×
    row explosion. The replicate spread IS the uncertainty estimate a
    100 TB metric pipeline can actually afford."""
    from xml_to_parquet_spark.functions.sampling import (
        poisson_bootstrap_means,
    )

    return poisson_bootstrap_means(
        _t(spark, sf_dir, "documents"), "n_chars", "doc_id"
    )


def _q_poisson_bootstrap_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import (
        poisson_bootstrap_means_sql,
    )

    return poisson_bootstrap_means_sql("documents", "n_chars", "doc_id")


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (q110, aggregation.cohort_retention, r8):
    users grouped by first-seen day, per-offset return rates in exact
    integer ppm — the product-analytics complement of the q97 funnel.
    One min-agg per user + distinct activity pairs + a (cohort, offset)
    groupBy; final shuffle ∝ cohorts × offsets, corpus-independent.
    Epoch-integer bucket arithmetic, so both engines replay it without
    calendar ambiguity."""
    from xml_to_parquet_spark.operators.aggregation import cohort_retention

    return cohort_retention(
        _t(spark, sf_dir, "events"), bucket="1 day", max_offset=5
    )


def _q_cohort_retention_sql() -> str:
    from xml_to_parquet_spark.operators.aggregation import (
        cohort_retention_sql,
    )

    return cohort_retention_sql("events", bucket="1 day", max_offset=5)


def q_pr_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice percentile-rank score normalization (q111,
    sampling.percentile_rank_normalize, r8): each document's length
    score becomes its rank within its OWN source in integer ppm — the
    calibration step that lets one global threshold drop the same
    FRACTION from every source instead of whole low-scoring domains.
    Two windows per slice; the 100 TB mega-slice alternative (quantile
    sketch through a broadcast CDF) is documented in the operator."""
    from xml_to_parquet_spark.functions.sampling import (
        percentile_rank_normalize,
    )

    docs = _t(spark, sf_dir, "documents")
    return percentile_rank_normalize(
        docs, "n_chars", "source"
    ).orderBy("doc_id")


def _q_pr_normalize_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import (
        percentile_rank_normalize_sql,
    )

    return percentile_rank_normalize_sql("documents", "n_chars", "source")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (q97, aggregation.funnel_stages, r8): users whose
    first click follows their first view, and whose first purchase
    follows THAT click — strict first-occurrence ordering, the
    product-analytics funnel (MATCH_RECOGNIZE-lite). One filtered
    min-agg per stage; survivors join forward. The oracle replays the
    same three-stage CTE chain with the same strict inequalities."""
    from xml_to_parquet_spark.operators.aggregation import funnel_stages

    ev = _t(spark, sf_dir, "events")
    return funnel_stages(
        ev, stages=["view", "click", "purchase"]
    ).orderBy("stage_idx")


_Q_FUNNEL_SQL = """
WITH s0 AS (
  SELECT user_id AS u, MIN(ts) AS ts_0 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s1 AS (
  SELECT e.user_id AS u, s0.ts_0, MIN(e.ts) AS ts_1
  FROM events e JOIN s0 ON e.user_id = s0.u
  WHERE e.event_type = 'click' AND e.ts > s0.ts_0
  GROUP BY e.user_id, s0.ts_0
),
s2 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS ts_2
  FROM events e JOIN s1 ON e.user_id = s1.u
  WHERE e.event_type = 'purchase' AND e.ts > s1.ts_1
  GROUP BY e.user_id
),
c AS (
  SELECT (SELECT COUNT(*) FROM s0) AS n0,
         (SELECT COUNT(*) FROM s1) AS n1,
         (SELECT COUNT(*) FROM s2) AS n2
)
SELECT 1 AS stage_idx, 'view' AS stage, CAST(n0 AS BIGINT) AS n_users,
       CAST(n0 * 1000000 // greatest(n0, 1) AS BIGINT) AS conv_ppm FROM c
UNION ALL
SELECT 2, 'click', CAST(n1 AS BIGINT),
       CAST(n1 * 1000000 // greatest(n0, 1) AS BIGINT) FROM c
UNION ALL
SELECT 3, 'purchase', CAST(n2 AS BIGINT),
       CAST(n2 * 1000000 // greatest(n0, 1) AS BIGINT) FROM c
ORDER BY stage_idx
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (r9,
    aggregation.event_transitions): each user's timeline ordered by
    (ts, event_id), every event paired with its immediate successor,
    counted by (src, dst) with exact integer row-conditional ppm —
    the Markov-chain summary of the event stream. One user-keyed
    window shuffle + one (src,dst) groupBy whose shuffle is bounded by
    |types|² regardless of corpus size."""
    from xml_to_parquet_spark.operators.aggregation import (
        event_transitions,
    )

    return event_transitions(_t(spark, sf_dir, "events"))


def _q_event_transitions_sql() -> str:
    from xml_to_parquet_spark.operators.aggregation import (
        event_transitions_sql,
    )

    return event_transitions_sql("events")


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical more-like-this (r9, retrieval.more_like_this):
    top-5 similar docs per query doc by integer tf·idf dot product over
    shared tokens, stopword-df prune before the token join (the
    scale-critical bound), WindowGroupLimit top-k. The inverted-index
    complement of the embedding ANN family."""
    from xml_to_parquet_spark.functions.retrieval import more_like_this

    # The fixture's 31-token shared vocabulary sits at df ~75-80%
    # (measured), so the entry prunes at 85%; on a natural corpus the
    # 50% default drops genuine stopwords instead.
    docs = _t(spark, sf_dir, "documents")
    return more_like_this(
        docs, query_ids=list(range(5)), k=5, max_df_ppm=850_000
    )


def _q_more_like_this_sql() -> str:
    from xml_to_parquet_spark.functions.retrieval import more_like_this_sql

    return more_like_this_sql(
        "documents", query_max=5, k=5, max_df_ppm=850_000
    )


def q_near_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity query (r9, retrieval.near_query): 'part' NEAR/3
    'filter' over the positional index — the |Δpos| ≤ slop predicate
    enumerated into 2·slop+1 equi-join keys (the bounded-range-join
    shape), never a cross product. Both words are corpus-vocabulary
    tokens present at every SF."""
    from xml_to_parquet_spark.functions.retrieval import (
        near_query,
        positional_postings,
    )

    docs = _t(spark, sf_dir, "documents")
    return near_query(positional_postings(docs), "part", "filter", slop=3)


def _q_near_query_sql() -> str:
    from xml_to_parquet_spark.functions.retrieval import near_query_sql

    return near_query_sql("documents", "part", "filter", slop=3)


def q_jl_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage JL ANN (r9, similarity.jl_ann_topk): integer L2 in the
    8-component projected space prefilters 40 candidates per query,
    exact quantized L2 re-ranks to top-5 — the ANN pipeline q131's
    projection exists to feed. Both stages int64, bit-exact oracle;
    recall vs exact top-k is measured in tests/SCALING."""
    from xml_to_parquet_spark.functions.similarity import jl_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return jl_ann_topk(emb, query_ids=list(range(10)), k=5,
                       n_candidates=40)


def _q_jl_ann_sql() -> str:
    from xml_to_parquet_spark.functions.similarity import jl_ann_topk_sql

    return jl_ann_topk_sql("embeddings", query_max=10, k=5,
                           n_candidates=40)


def q_phrase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase matching (r9, retrieval.phrase_query):
    build (token, doc, pos) postings map-only, intersect three
    token-filtered slices offset-aligned on (id, pos) — the classic
    inverted-index phrase query BM25 (a33) can't answer. The bigram
    'part filter' occurs ≥40× in the fixture corpus at every SF
    (measured sf0.001/0.01/0.1), so the entry returns matches at the
    smoke, correctness AND bench scales."""
    from xml_to_parquet_spark.functions.retrieval import (
        phrase_query,
        positional_postings,
    )

    docs = _t(spark, sf_dir, "documents")
    return phrase_query(positional_postings(docs), ["part", "filter"])


def _q_phrase_query_sql() -> str:
    from xml_to_parquet_spark.functions.retrieval import phrase_query_sql

    return phrase_query_sql("documents", ["part", "filter"])


def q_skipgram_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram window co-occurrence (r9,
    association.skipgram_cooccurrence): positional token pairs within
    ±3 — the word2vec/GloVe count matrix, row-local shifted-array zips
    (no self-join), one map-side-combined pair count. PMI's q100/a58
    counts document presence; this counts token positions."""
    from xml_to_parquet_spark.functions.association import (
        skipgram_cooccurrence,
    )

    return skipgram_cooccurrence(
        _t(spark, sf_dir, "documents"), window=3, min_count=5, top_k=50
    )


def _q_skipgram_sql() -> str:
    from xml_to_parquet_spark.functions.association import (
        skipgram_cooccurrence_sql,
    )

    return skipgram_cooccurrence_sql(
        "documents", window=3, min_count=5, top_k=50
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints (r9, text.winnow_fingerprints):
    k-gram md5-prefix hashes, w-window rightmost-min selection —
    entirely row-local HOFs, zero shuffles; any shared substring of
    length ≥ k+w−1 across documents shares a fingerprint. Every 7th
    document (pushed-down filter) keeps the driver compare bounded; the
    oracle replays the same windows with an ORDER BY h, p DESC pick."""
    from xml_to_parquet_spark.functions.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").filter("doc_id % 7 = 0")
    # order-insensitive compare: no presentation sort — at docs100 the
    # global sort of 14.3M fingerprints dominated the soak wall
    return winnow_fingerprints(docs, k=8, w=4)


def _q_winnow_sql() -> str:
    from xml_to_parquet_spark.functions.text import winnow_fingerprints_sql

    return winnow_fingerprints_sql(
        "documents", k=8, w=4, where="doc_id % 7 = 0", order=False
    )


def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 sign projection (r9, similarity.jl_project): 64-dim float
    embeddings → 8 exact integer components under a deterministic
    md5-seeded Rademacher matrix held as a plan literal. Map-only, zero
    shuffles — the dimensionality-reduction front end that lets
    ANN/dedup stages downstream operate on 1/8 of the bytes. The oracle
    regenerates the identical matrix from the same seed and replays the
    quantized sums."""
    from xml_to_parquet_spark.functions.similarity import jl_project

    emb = _t(spark, sf_dir, "embeddings")
    return jl_project(emb, in_dim=64, out_dim=8).orderBy("id")


def _q_jl_project_sql() -> str:
    from xml_to_parquet_spark.functions.similarity import jl_project_sql

    return jl_project_sql("embeddings", in_dim=64, out_dim=8)


def q_audio_fp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup dedup via perceptual fingerprint (r10 — the audio
    twin of q138's image dHash, completing the dedup modality matrix).
    Deterministic 260-sample mono PCM16 WAV clips are BUILT from doc ids
    (an Arrow-batched numpy kernel assembling a 65-frame amplitude walk
    that encodes a per-group bit pattern plus a per-doc one-bit flip —
    bit-identical to the original JVM-expression build, see
    _audio_clips_batch), then the REAL pipeline runs: stdlib `wave`
    parse → numpy frame energies → 64-bit energy-delta fingerprint
    (audio_fingerprint64, Arrow kernel) → pigeonhole Hamming blocking
    (simhash_blocked_pairs at bits=64). Clips in the same group of 4
    differ by ≤1 fingerprint bit; the oracle replays the generative bit
    formula and the exact Hamming join — a driver match proves a real
    audio container was decoded and its envelope fingerprinted
    bit-exactly."""
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)
    from xml_to_parquet_spark.functions.dedup import simhash_blocked_pairs
    from xml_to_parquet_spark.functions.multimodal import (
        audio_fingerprint_batch,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # r14-opt (VERDICT r13 item 7): the WAV-byte fixture is built by the
    # Arrow-batched kernel below — bit-identical to the old interpreted-
    # HOF expression build (pinned by test_audio_clip_batch_matches_
    # expression_build), which was ~87% of the entry's cost. The decode
    # → fingerprint → Hamming-blocking pipeline it exercises is
    # unchanged, and the oracle replays fingerprint VALUES, not the
    # construction mechanism.
    clips = _audio_clips_batch(docs)
    # checkpoint the tiny sig table so construction + wave-parse kernel
    # run once, not once per blocked-join side (the a75 note)
    sig = (
        audio_fingerprint_batch(clips)
        .select(F.col("id").alias("doc_id"), F.col("afp").alias("simhash"))
        .localCheckpoint()
    )
    return simhash_blocked_pairs(sig, max_hamming=3, bits=64)


def _audio_clips_expr(docs: DataFrame) -> DataFrame:
    """The original JVM-expression WAV build — kept as the reference
    twin for the bit-identity test of :func:`_audio_clips_batch`.

    Per-group 63-bit envelope pattern + per-doc flip (bit 63
    structurally 0 → fingerprint stays BIGINT-safe for the oracle);
    amp[f+1] − amp[f] = 2·bit(f) − 1, so frame-energy comparison f
    (4 equal samples per frame, amplitudes positive) IS bit f. The
    cumulative walk comes from the same log-doubling prefix-sum as the
    a75 image entry: amp[f] = 100 + 2·P[min(f,63)] − f (min handles
    the structural-zero bit 63 — P caps at 63 ones while f reaches 64).
    """
    from xml_to_parquet_spark.functions.multimodal import pcm16_wav_expr

    d = docs.withColumn(
        "bits", _envelope_bits_expr("aud", flip_mod=1)
    )
    d, prefix_col = _prefix_doubling(d, "bits")
    amps = F.transform(
        F.sequence(F.lit(0), F.lit(64)),
        lambda f: F.when(f == 0, F.lit(100).cast("long")).otherwise(
            F.lit(100)
            + 2
            * F.coalesce(
                F.try_element_at(
                    F.col(prefix_col), F.least(f, F.lit(63)).cast("int")
                ),
                F.lit(0).cast("long"),
            )
            - f
        ),
    )
    samples = F.flatten(
        F.transform(amps, lambda a: F.array_repeat(a.cast("int"), 4))
    )
    return d.select(
        F.col("doc_id").alias("id"), samples.alias("samples")
    ).select("id", pcm16_wav_expr("samples", sample_rate=8000).alias("payload"))


def _audio_clips_batch(docs: DataFrame) -> DataFrame:
    """Arrow-batched twin of :func:`_audio_clips_expr`: the identical
    deterministic mono PCM16 RIFF/WAVE bytes, assembled with numpy in a
    mapInPandas kernel instead of interpreted higher-order transforms
    (hex-assembly + unhex per sample). Bit-identity is pinned by
    ``test_audio_clip_batch_matches_expression_build``; the md5-nibble
    bit pattern, per-doc flip, prefix-sum amplitude walk, 4-sample
    frames and canonical 44-byte header replicate the expression build
    value for value. Per-GROUP bit patterns are memoized inside the
    task (4 docs share one pattern), and each batch is one numpy pass —
    no per-sample Python.
    """
    import pandas as pd

    def _run(batches):
        import hashlib
        import struct

        import numpy as np

        # canonical 44-byte header for 260 int16 mono samples @ 8 kHz
        hdr = struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + 520, b"WAVE", b"fmt ", 16, 1, 1,
            8000, 16000, 2, 16, b"data", 520,
        )
        group_bits: dict[int, object] = {}
        f = np.arange(1, 65)
        fcap = np.minimum(f, 63) - 1  # 0-based index into the prefix sum
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                g = did // 4
                bits = group_bits.get(g)
                if bits is None:
                    bits = np.array(
                        [
                            int(
                                hashlib.md5(
                                    f"{g}:{i}:aud".encode()
                                ).hexdigest()[0],
                                16,
                            )
                            & 1
                            for i in range(63)
                        ],
                        dtype=np.int64,
                    )
                    group_bits[g] = bits
                b = bits
                if did % 4 == 1:
                    b = bits.copy()
                    b[did % 63] ^= 1
                p = np.cumsum(b)
                amps = np.empty(65, dtype=np.int64)
                amps[0] = 100
                amps[1:] = 100 + 2 * p[fcap] - f
                samples = np.repeat(amps, 4).astype("<i2")
                ids.append(did)
                payloads.append(hdr + samples.tobytes())
            yield pd.DataFrame({"id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(_run, "id long, payload binary")


# Exact replay: fingerprint bit i of clip = group base bit XOR per-doc
# flip (bit 63 structurally 0), hash = Σ bit·2^i, pairs = exact
# Hamming-≤-3 join — q138's oracle shape with the audio constants.
_Q_AUDIO_FP_SQL = """
WITH d AS (SELECT doc_id, doc_id // 4 AS g FROM documents),
b AS (
  SELECT d.doc_id, i.i,
         (CAST('0x' || substr(md5(d.g || ':' || i.i || ':aud'), 1, 1)
               AS BIGINT) % 2
          + CASE WHEN d.doc_id % 4 = 1 AND i.i = d.doc_id % 63
                 THEN 1 ELSE 0 END) % 2 AS bit
  FROM d CROSS JOIN (SELECT unnest(range(0, 63)) AS i) i
),
h AS (
  SELECT doc_id,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << i)) AS BIGINT) AS h
  FROM b GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
       CAST(bit_count(xor(a.h, b2.h)) AS INT) AS hamming
FROM h a JOIN h b2 ON a.doc_id < b2.doc_id
WHERE bit_count(xor(a.h, b2.h)) <= 3
"""


def q_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode in the catalog (r9, the a45-netpbm pattern for
    the AUDIO modality): deterministic mono PCM16 RIFF/WAVE payloads are
    BUILT from doc ids entirely with JVM expressions (int16-LE hex
    assembly + unhex — multimodal.pcm16_wav_expr), then PARSED BACK by
    the stdlib `wave` module + numpy (an independent code path) into
    exact integer clip features. The oracle recomputes the features from
    the generative sample formula, so a driver match proves the real
    container round-trips bit-exactly."""
    from xml_to_parquet_spark.functions.multimodal import (
        pcm16_wav_expr,
        wav_features_batch,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.expr(
            "transform(sequence(0, CAST(15 + doc_id % 33 AS INT)), i -> "
            "CAST(((doc_id * 7919 + i * 104729) % 2001) - 1000 AS INT))"
        ).alias("samples"),
    )
    clips = docs.select(
        "id", pcm16_wav_expr("samples", sample_rate=8000).alias("payload")
    )
    return wav_features_batch(clips)


_Q_WAV_FEATURES_SQL = """
WITH d AS (SELECT doc_id AS id, 16 + doc_id % 33 AS n FROM documents),
s AS (
  SELECT id, n, i, ((id * 7919 + i * 104729) % 2001) - 1000 AS v
  FROM d, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS t(i)
),
sx AS (
  SELECT id, n, v,
         LEAD(v) OVER (PARTITION BY id ORDER BY i) AS nv
  FROM s
)
SELECT id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS channels,
       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       CAST(MAX(abs(v)) AS BIGINT) AS max_abs,
       CAST(COALESCE(SUM(CASE WHEN v * nv < 0 THEN 1 END), 0) AS BIGINT)
         AS zero_crossings
FROM sx GROUP BY id, n ORDER BY id
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking (r9, sampling.chunk_documents):
    200-char windows advancing 150 chars (50 overlap) — the
    RAG/embedding preprocessing cut. Map-only: chunk count is one
    integer expression, indices come from posexplode(sequence),
    substring slices in-place; zero shuffles, output stays partition-
    local to the corpus. The oracle replays the identical count formula
    and 1-based substring slicing via generate_series."""
    from xml_to_parquet_spark.functions.sampling import chunk_documents

    # no presentation sort: the driver/verify compare is
    # order-insensitive and the exact row set needs no LIMIT — at the
    # docs100 soak the orderBy WAS the wall (1.77M-row range exchange)
    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_chars=200, overlap=50
    )


def _q_chunk_documents_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import chunk_documents_sql

    return chunk_documents_sql("documents", chunk_chars=200, overlap=50, order=False)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate per language (64 registers),
    with the published small-range linear-counting correction as a baked
    integer table. Shuffle bytes ∝ groups·64 whatever the corpus; the
    harmonic estimate is one BIGINT division (no floats — see
    functions/sketches.py for the DuckDB decimal-rounding trap)."""
    from xml_to_parquet_spark.functions.sketches import hll_distinct
    from xml_to_parquet_spark.functions.text import norm_text

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(norm_text(F.col("text")), " ")).alias("token")
    )
    return (
        hll_distinct(toks, key_col="token", group_cols=["lang"])
        .select("lang", "s_sum", "v_zero", "est_distinct", "exact_distinct")
        .orderBy("lang")
    )


def _q_hll_sql() -> str:
    from xml_to_parquet_spark.functions.sketches import hll_distinct_sql

    toks = (
        "SELECT lang, unnest(string_split(" + _NORM_SQL + ", ' ')) AS token "
        "FROM documents"
    )
    return (
        hll_distinct_sql(
            "tok_t", "token", ["lang"], with_ctes=f"tok_t AS ({toks})"
        )
        + " ORDER BY lang"
    )


_CM_PROBES = [
    "table", "row", "data", "query", "join", "spark", "window", "value",
    "batch", "merge", "the", "zz_absent_token",
]


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 users by event count WITHOUT a full-cardinality
    shuffle (r13, functions/sketches.mg_heavy_hitters): per-Arrow-batch
    Misra–Gries summaries (≤4096 counters each, mergeable by plain
    SUM per Agarwal et al. PODS'12) screen the candidates with their
    total trim slack TRACKED exactly; the survivors are recounted
    exactly and the operator raises unless the k-th count clears the
    slack — so a returned result is PROVABLY the exact top-k on any
    batch layout. The oracle is therefore the plain exact GROUP BY /
    ORDER BY / LIMIT with the same value tie-break."""
    from xml_to_parquet_spark.functions.sketches import mg_heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return mg_heavy_hitters(ev, "user_id", k=10, counters=4096)


def _q_mg_heavy_hitters_sql() -> str:
    from xml_to_parquet_spark.functions.sketches import mg_heavy_hitters_sql

    return mg_heavy_hitters_sql("events", "user_id", k=10)


def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point estimates for a fixed probe vocabulary.

    The sketch is 3×1024 counter cells built in one map-side-combined
    groupBy (state size independent of corpus size); probes broadcast-
    join against the cells. est_cnt ≥ true count is the CM guarantee —
    the paired exact counts ride along so the row shows the error."""
    from xml_to_parquet_spark.functions.sketches import (
        countmin_estimate,
        countmin_sketch_counts,
    )
    from xml_to_parquet_spark.functions.text import norm_text

    docs = _t(spark, sf_dir, "documents")
    # ONE corpus pass: the vocab-sized count table feeds both the sketch
    # generator (d rows per DISTINCT token) and the paired exact column
    counts = (
        docs.select(
            F.explode(F.split(norm_text(F.col("text")), " ")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sketch = countmin_sketch_counts(counts)
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _CM_PROBES])).alias("token")
    )
    est = countmin_estimate(sketch, probes)
    true_cnt = counts.filter(F.col("token").isin(_CM_PROBES)).select(
        "token", F.col("cnt").alias("true_cnt")
    )
    return (
        est.join(F.broadcast(true_cnt), on="token", how="left")
        .withColumn("true_cnt", F.coalesce("true_cnt", F.lit(0)).cast("long"))
        .orderBy("token")
    )


def _q_countmin_sql() -> str:
    from xml_to_parquet_spark.functions.sketches import countmin_sql

    toks = (
        "SELECT unnest(string_split(" + _NORM_SQL + ", ' ')) AS token "
        "FROM documents"
    )
    probes = ", ".join(f"('{t}')" for t in _CM_PROBES)
    return f"""
WITH est AS ({countmin_sql(toks, _CM_PROBES)}),
true_t AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM ({toks}) GROUP BY token
)
SELECT est.token, est.est_cnt,
       CAST(COALESCE(true_t.true_cnt, 0) AS BIGINT) AS true_cnt
FROM est LEFT JOIN true_t USING (token)
ORDER BY est.token
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: top-40 documents by target-likeness.

    Target = source 'src0'; hashed-unigram bucket weights are integer
    fixed-point target/raw ratios (functions/sampling.dsir_scores). The
    1024-row weight table broadcasts; the only corpus-sized shuffle is
    the per-doc score agg. Deterministic ties via doc_id."""
    from xml_to_parquet_spark.functions.sampling import dsir_scores

    docs = _t(spark, sf_dir, "documents")
    scores = dsir_scores(docs, target_pred=F.col("source") == "src0")
    return scores.orderBy(F.col("dsir_score").desc(), "doc_id").limit(40)


def _q_dsir_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import dsir_scores_sql

    inner = dsir_scores_sql("documents", "source = 'src0'", _NORM_SQL)
    return f"""
WITH scored AS ({inner})
SELECT doc_id, dsir_score FROM scored
ORDER BY dsir_score DESC, doc_id LIMIT 40
"""


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the deterministic hash gate is
    keyed on the near-dup CLUSTER id (sampling.leakage_safe_split), so a
    duplicate cluster moves between splits as one unit — keying on doc_id
    would put near-identical twins on both sides of the eval boundary.
    Clustering cost is bounded by the near-dup subgraph; the split itself
    is one row-local expression."""
    from xml_to_parquet_spark.functions.dedup import minhash_lsh_candidates
    from xml_to_parquet_spark.functions.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    return leakage_safe_split(
        docs, minhash_lsh_candidates(docs), iterations=3
    ).orderBy("doc_id")


def _q_leakage_split_sql(iterations: int = 3) -> str:
    from xml_to_parquet_spark.functions.sampling import assign_split_sql

    ctes, final = _cluster_label_ctes(iterations)
    return f"""
WITH {ctes},
labeled AS (
  SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN {final} l ON d.doc_id = l.node
)
SELECT doc_id, cluster_id, {assign_split_sql("cluster_id")} AS split
FROM labeled ORDER BY doc_id
"""


_BLOOM_M = 1024  # demo-sized so false positives are visible at sf0.01;
_BLOOM_K = 2     # production sizes m for the target FP rate (fill^k)


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter join pruning — Spark's runtime-filter shape,
    oracle-checked: build a fixed-size bitmap over BUILDING customers
    (bounded ≤ m-row distinct + driver fold, sketches.bloom_bitmap), probe
    every order with a row-local k-nibble expression (no join, no shuffle,
    codegen), and compare against the exact semi-join per priority class.
    false_pos = bloom_pass − exact_pass ≥ 0 (never negative: a Bloom
    filter has no false negatives)."""
    from xml_to_parquet_spark.functions.sketches import (
        bloom_bitmap,
        bloom_might_contain,
    )

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    build = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    bm = bloom_bitmap(build, "key", m=_BLOOM_M, k=_BLOOM_K)
    probed = orders.withColumn(
        "bloom_pass",
        bloom_might_contain(F.col("o_custkey"), bm, m=_BLOOM_M, k=_BLOOM_K),
    )
    exact = build.select(
        F.col("key").alias("o_custkey"), F.lit(1).alias("exact_hit")
    )
    joined = probed.join(exact, on="o_custkey", how="left")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("bloom_pass").cast("int")).alias("bloom_pass"),
            F.sum(F.coalesce(F.col("exact_hit"), F.lit(0)))
            .cast("long")
            .alias("exact_pass"),
        )
        .withColumn("false_pos", F.col("bloom_pass") - F.col("exact_pass"))
        .orderBy("o_orderpriority")
    )


def _q_bloom_sql() -> str:
    from xml_to_parquet_spark.functions.sketches import bloom_membership_sql

    m, k = _BLOOM_M, _BLOOM_K
    build = (
        "SELECT DISTINCT c_custkey AS key FROM customer "
        "WHERE c_mktsegment = 'BUILDING'"
    )
    bloom_ctes = bloom_membership_sql(build, "o_custkey", m=m, k=k)
    h = (
        "CAST('0x'||substr(md5(CAST(r.i AS VARCHAR)||':'||"
        "CAST(p.key AS VARCHAR)),1,13) AS BIGINT)"
    )
    return f"""
WITH {bloom_ctes},
pkeys AS (SELECT DISTINCT o_custkey AS key FROM orders
          WHERE o_custkey IS NOT NULL),
ppos AS (SELECT p.key, {h} % {m} AS pos
         FROM pkeys p CROSS JOIN (SELECT unnest(range({k})) AS i) r),
pflag AS (SELECT key,
                 CAST(MIN(CASE WHEN pos IN (SELECT pos FROM bpos)
                               THEN 1 ELSE 0 END) AS BIGINT) AS might
          FROM ppos GROUP BY key)
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(f.might) AS BIGINT) AS bloom_pass,
       CAST(SUM(CASE WHEN b.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_pass,
       CAST(SUM(f.might)
            - SUM(CASE WHEN b.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS false_pos
FROM orders o
JOIN pflag f ON o.o_custkey = f.key
LEFT JOIN bkeys b ON o.o_custkey = b.key
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


_BM25_TERMS = ["hash", "join", "window", "stream"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (functions/retrieval.bm25_topk): top-20 documents
    for a fixed bag-of-words query, scored in BIGINT fixed point — the
    monotone hex-MSB ilog2 stands in for ln (ranking-invariant rescale),
    k1/b rationals cleared by multiplying through by 40·avgdl. The only
    corpus-sized work is one token scan (doc-length agg + IN-filtered
    tf agg); df/avgdl broadcast."""
    from xml_to_parquet_spark.functions.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20)


def _q_bm25_sql() -> str:
    from xml_to_parquet_spark.functions.retrieval import bm25_topk_sql

    return bm25_topk_sql(_BM25_TERMS, _NORM_SQL, k=20)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (r10,
    retrieval.rrf_fuse): the lexical channel (a33's integer BM25 top-20)
    and the semantic channel (q26's exact cosine top-20 for the query
    vector, doc_id == vec_id in the testdata) merge by Σ 1e9 div
    (60 + rank) — the standard hybrid-search combiner, all-integer so
    the fused ranking replays bit-exactly in SQL. Channel outputs are
    model-sized (top-C), so fusion adds one tiny groupBy + window on top
    of whatever the channels cost."""
    from pyspark.sql import Window

    from xml_to_parquet_spark.functions.retrieval import bm25_topk, rrf_fuse
    from xml_to_parquet_spark.functions.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, _BM25_TERMS, k=20).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_fp").desc(), F.col("doc_id")))
        .cast("int")
        .alias("rank"),
    )
    sem = cosine_topk(emb, query_ids=[0], k=20).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, sem], k_const=60, k=15)


def _q_hybrid_rrf_sql() -> str:
    from xml_to_parquet_spark.functions.retrieval import bm25_topk_sql

    bm25 = bm25_topk_sql(_BM25_TERMS, _NORM_SQL, k=20)
    return f"""
WITH lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25_fp DESC, doc_id) AS INT)
           AS rank
  FROM ({bm25}) t
),
sem_scored AS (
  SELECT c.vec_id AS doc_id,
         list_cosine_similarity(q.embedding, c.embedding) AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id = 0
),
sem AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC) AS INT)
           AS rank
  FROM sem_scored QUALIFY rank <= 20
),
u AS (SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM sem),
f AS (
  SELECT doc_id, CAST(SUM(1000000000 // (60 + rank)) AS BIGINT) AS rrf_ppb,
         CAST(COUNT(*) AS INT) AS n_channels
  FROM u GROUP BY doc_id
)
SELECT doc_id, rrf_ppb, n_channels,
       CAST(row_number() OVER (ORDER BY rrf_ppb DESC, doc_id) AS INT)
         AS fused_rank
FROM f QUALIFY fused_rank <= 15 ORDER BY fused_rank
"""


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size pre-flight (r13, scale.join_cardinality_estimate):
    estimate |lineitem ⋈ orders| from a deterministic 5% KEY-space
    sample of both sides — Σ f_L·f_R over sampled keys scaled by
    1/rate, unbiased whatever the key-frequency correlation (row
    sampling underestimates join size quadratically; key sampling is
    the planner-correct way). The gate prunes ~95% of rows BEFORE the
    counting shuffles; the exact count rides along so the row itself
    shows the estimation error. Deterministic gate ⇒ the oracle
    replays estimate AND error exactly."""
    from xml_to_parquet_spark.operators.scale import (
        join_cardinality_estimate,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey")
    )
    od = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey")
    )
    return join_cardinality_estimate(li, od, "orderkey", rate=0.05)


def _q_join_cardinality_sql() -> str:
    from xml_to_parquet_spark.operators.scale import (
        join_cardinality_estimate_sql,
    )

    return join_cardinality_estimate_sql(
        "(SELECT l_orderkey AS orderkey FROM lineitem)",
        "(SELECT o_orderkey AS orderkey FROM orders)",
        "orderkey",
        rate=0.05,
    )


_CONSTRAINT_CHECKS = None  # built lazily: functions.constraints Columns


def _constraint_checks():
    global _CONSTRAINT_CHECKS
    if _CONSTRAINT_CHECKS is None:
        from xml_to_parquet_spark.functions import constraints as C

        _CONSTRAINT_CHECKS = [
            C.not_null("o_custkey", name="c1_custkey_not_null"),
            C.unique("o_orderkey", name="c2_orderkey_unique"),
            C.in_range(
                "o_totalprice", 0.0, 10_000_000.0,
                name="c3_totalprice_sane",
            ),
            C.member_of(
                "o_orderstatus", ["O", "F", "P"], name="c4_status_domain"
            ),
            C.matches(
                "o_orderpriority", "^[1-5]-", name="c5_priority_shape"
            ),
            # deliberately failing band: demonstrates the failure path in
            # the same report (almost no order totals under 1000)
            C.in_range(
                "o_totalprice", 0.0, 1000.0, min_ppm=900_000,
                name="c6_totalprice_tight",
            ),
            C.ref_integrity(
                "o_custkey", "customer", "c_custkey",
                name="c7_custkey_in_customer",
            ),
        ]
    return _CONSTRAINT_CHECKS


def q_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality constraint suite
    (functions/constraints.constraint_report): seven declared checks —
    completeness, key distinctness, two value-range bands (one
    deliberately failing), set membership, pattern shape, and
    referential integrity against customer — all compiled into ONE
    aggregate pass over orders (ref keys broadcast, rate checks
    map-side CASE sums, integer-ppm metrics). The table-level
    counterpart of the reference's per-file XML validation gate
    (R/validate_xml.R via validation/xml_validation.py)."""
    from xml_to_parquet_spark.functions.constraints import (
        constraint_report,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return constraint_report(
        orders, _constraint_checks(), dims={"customer": customer}
    )


def _q_constraint_suite_sql() -> str:
    from xml_to_parquet_spark.functions.constraints import (
        constraint_report_sql,
    )

    return constraint_report_sql("orders", _constraint_checks())


_PROBE_SCORE_EXPR = (
    "aggregate(transform(sequence(0, size(embedding) - 1), "
    "d -> CAST(FLOOR(CAST(element_at(embedding, d + 1) AS DOUBLE) "
    "* 1024 + 0.5) AS BIGINT) * (pmod(d * 37, 19) - 9)), "
    "0L, (acc, x) -> acc + x)"
)

_PROBE_SCORE_SQL = (
    "SELECT vec_id, CAST(label >= 5 AS BIGINT) AS pos, "
    "(SELECT SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)"
    " * ((d * 37) % 19 - 9)) "
    " FROM (SELECT UNNEST(embedding) AS x, "
    "              UNNEST(range(len(embedding))) AS d)) AS score "
    "FROM embeddings"
)


def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep (inference.threshold_metrics): confusion
    counts + precision/recall/F1 ppm for the a221 linear probe at five
    candidate cuts, ONE aggregate pass (each threshold = four
    conditional sums in the same agg; F1 via the division-free
    identity 2tp/(2tp+fp+fn)). The "where do we set the gate?"
    companion to the a221 reliability table."""
    from xml_to_parquet_spark.functions.inference import (
        threshold_metrics,
    )

    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.expr(_PROBE_SCORE_EXPR).alias("score"),
        (F.col("label") >= 5).cast("long").alias("pos"),
    )
    return threshold_metrics(
        scored, "score", "pos", [-40_000, -20_000, 0, 20_000, 40_000]
    )


def _q_threshold_sweep_sql() -> str:
    from xml_to_parquet_spark.functions.inference import (
        threshold_metrics_sql,
    )

    return threshold_metrics_sql(
        f"({_PROBE_SCORE_SQL})",
        "score",
        "pos",
        [-40_000, -20_000, 0, 20_000, 40_000],
    )


def q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual kNN graph (similarity.mutual_knn_edges): undirected
    edges where BOTH endpoints rank each other top-5 by int64 inner
    product — the reciprocity filter that prunes hub-vector false
    neighbors before density clustering. Exact form on the label-0/1
    slice (the all-pairs stage is the documented small-data oracle;
    at corpus scale the candidate stage swaps to ivf/lsh_topk and the
    reciprocity equi-join is unchanged)."""
    from xml_to_parquet_spark.functions.similarity import (
        mutual_knn_edges,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("label") <= 1)
    return mutual_knn_edges(emb, k=5)


def _q_mutual_knn_sql() -> str:
    from xml_to_parquet_spark.functions.similarity import (
        mutual_knn_edges_sql,
    )

    return mutual_knn_edges_sql(
        "(SELECT * FROM embeddings WHERE label <= 1)", k=5
    )


def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned reliability table (inference.calibration_report): score
    every embedding with a deterministic int64 linear probe (quantized
    components × literal weights w(d) = (37d mod 19) − 9, all JVM
    expressions), target = label ≥ 5, then audit whether higher score
    ⇒ higher positive rate across 10 equal-width bins — per-bin ppm
    rates, score ranges, and localized monotonicity violations, all
    integer-exact in both engines."""
    from xml_to_parquet_spark.functions.inference import (
        calibration_report,
    )

    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.expr(_PROBE_SCORE_EXPR).alias("score"),
        (F.col("label") >= 5).cast("long").alias("pos"),
    )
    return calibration_report(scored, "score", "pos", n_bins=10)


def _q_score_calibration_sql() -> str:
    from xml_to_parquet_spark.functions.inference import (
        calibration_report_sql,
    )

    return calibration_report_sql(
        f"({_PROBE_SCORE_SQL})", "score", "pos", n_bins=10
    )


def q_vocab_top_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus vocabulary truncation (sampling.top_p_select): per
    language, the smallest set of tokens covering 80% of that
    language's token mass — heaviest first, id tie-break, the keep
    rule multiplied through so no division ever happens. The
    vocab/mixture/source-capping primitive; kept SET reproducible
    across partitionings, oracle replays every row."""
    from xml_to_parquet_spark.functions.sampling import top_p_select

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "lang",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return top_p_select(
        counts, ["lang"], "n", "token", p_num=4, p_den=5
    )


def _q_vocab_top_p_sql() -> str:
    from xml_to_parquet_spark.functions.sampling import top_p_select_sql

    counts = (
        "SELECT lang, token, COUNT(*) AS n FROM ("
        "  SELECT lang,"
        "         UNNEST(regexp_split_to_array(trim(text), '\\s+'))"
        "             AS token"
        "  FROM documents) WHERE token <> '' GROUP BY lang, token"
    )
    return top_p_select_sql(
        f"({counts})", ["lang"], "n", "token", p_num=4, p_den=5
    )


def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-log rate limiting replayed offline
    (operators/window.rate_limit_flags): flag events whose user
    exceeded 4 events in the trailing 24 h, then aggregate throttle
    rates per event_type — the audit a platform runs BEFORE deploying
    a limiter. RANGE frame on epoch seconds ⇒ same-second events get
    the same verdict (tie-deterministic), one shuffle on user_id."""
    from xml_to_parquet_spark.operators.window import rate_limit_flags

    ev = _t(spark, sf_dir, "events")
    flagged = rate_limit_flags(
        ev, "user_id", "ts", limit=4, window_s=86_400
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("throttled").cast("long")).alias("n_throttled"),
            F.max("win_count").alias("max_win"),
        )
        .withColumn(
            "throttle_ppm", F.expr("div(1000000 * n_throttled, n)")
        )
        .orderBy("event_type")
    )


_Q_RATE_LIMIT_SQL = """
WITH f AS (
  SELECT event_type,
         COUNT(*) OVER (PARTITION BY user_id
                        ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                        RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
             AS win_count
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN win_count > 4 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_throttled,
       CAST(MAX(win_count) AS BIGINT) AS max_win,
       CAST(1000000 * SUM(CASE WHEN win_count > 4 THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS throttle_ppm
FROM f GROUP BY event_type ORDER BY event_type
"""


def q_embedding_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding diversity via the moment identity
    (similarity.embedding_diversity): mean pairwise squared distance
    from TWO one-pass integer moments — 2n·Σ‖x‖² − 2‖Σx‖² over
    n(n−1) — where the naive estimator is an O(n²) self-join. The
    collapse/near-dup-flood health metric for an embedding corpus,
    exact to the last integer digit in both engines."""
    from xml_to_parquet_spark.functions.similarity import (
        embedding_diversity,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_diversity(emb)


def _q_embedding_diversity_sql() -> str:
    from xml_to_parquet_spark.functions.similarity import (
        embedding_diversity_sql,
    )

    return embedding_diversity_sql("embeddings")


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking (text.chunk_documents): overlapping 16-token
    windows with 4-token carryover over documents — the ingest step
    between raw docs and an embedding index. Pure JVM expressions
    (split/sequence/explode/slice), no UDF, no shuffle; every token
    covered, final chunk pinned to the doc tail, empty docs keep one
    empty chunk (doc coverage preserved), md5 chunk keys as the
    incremental re-embedding handle. Oracle replays every boundary."""
    from xml_to_parquet_spark.functions.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=16, overlap_tokens=4)


def _q_doc_chunks_sql() -> str:
    from xml_to_parquet_spark.functions.text import chunk_documents_sql

    return chunk_documents_sql(
        "documents", chunk_tokens=16, overlap_tokens=4
    )


def q_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group score normalization (aggregation.group_normalize):
    percent-rank (RANK tie semantics, exact ppm) and min-max position
    of every order's totalprice WITHIN its priority class — the
    order-preserving maps that make scores comparable across groups
    before mixing. One shuffle; degenerate groups map to 0, not NULL."""
    from xml_to_parquet_spark.operators.aggregation import (
        group_normalize,
    )

    orders = _t(spark, sf_dir, "orders")
    return group_normalize(
        orders, ["o_orderpriority"], "o_totalprice", "o_orderkey"
    )


def _q_group_normalize_sql() -> str:
    from xml_to_parquet_spark.operators.aggregation import (
        group_normalize_sql,
    )

    return group_normalize_sql(
        "orders", ["o_orderpriority"], "o_totalprice", "o_orderkey"
    )


def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust grouped means (aggregation.robust_group_stats): plain,
    5%-trimmed, and 5%-winsorized mean of o_totalprice per
    o_orderpriority in ONE shuffle — rank cut + boundary order
    statistics ride two window frames over the same partitioning. The
    cut is tie-invariant (any k-smallest multiset is the same values),
    sums are exact decimals, each mean one double division — so the
    oracle replays all three columns bit-for-bit."""
    from xml_to_parquet_spark.operators.aggregation import (
        robust_group_stats,
    )

    orders = _t(spark, sf_dir, "orders")
    return robust_group_stats(
        orders, ["o_orderpriority"], "o_totalprice", trim_ppm=50_000
    )


def _q_robust_stats_sql() -> str:
    from xml_to_parquet_spark.operators.aggregation import (
        robust_group_stats_sql,
    )

    return robust_group_stats_sql(
        "orders", ["o_orderpriority"], "o_totalprice", trim_ppm=50_000
    )


def q_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (constraints.functional_dep):
    ppm of rows agreeing with their lhs-group's majority rhs value —
    1e6 iff lhs → rhs holds exactly. Three declared FDs on orders:
    o_orderkey → o_orderstatus holds (orderkey is a key), o_custkey →
    o_orderstatus is far from holding (customers order in every
    status), and the composite (o_custkey, o_orderdate) →
    o_orderpriority sits between. Each FD is one two-stage
    partial-agg-friendly aggregation; the report rides the same
    engine-exact integer-ppm schema as a212."""
    from xml_to_parquet_spark.functions.constraints import (
        constraint_report,
    )

    orders = _t(spark, sf_dir, "orders")
    return constraint_report(orders, _fd_profile_checks())


def _fd_profile_checks():
    from xml_to_parquet_spark.functions import constraints as C

    return [
        C.functional_dep("o_orderkey", "o_orderstatus",
                         name="f1_orderkey_det_status"),
        C.functional_dep("o_custkey", "o_orderstatus",
                         name="f2_custkey_det_status"),
        C.functional_dep(
            ("o_custkey", "o_orderdate"), "o_orderpriority",
            name="f3_cust_date_det_priority",
        ),
    ]


def _q_fd_profile_sql() -> str:
    from xml_to_parquet_spark.functions.constraints import (
        constraint_report_sql,
    )

    return constraint_report_sql("orders", _fd_profile_checks())


def q_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skip-rate report (operators/scale.zonemap_skip_report):
    simulates parquet min/max file skipping for a 2-D box predicate
    (middle 3/8..5/8 band of o_custkey × o_totalprice) under three
    layouts of orders — bucketed by custkey, by totalprice, and by
    their Morton Z-key (the write_zordered layout). The decision tool
    for OPTIMIZE ZORDER: single-column layouts skip on their own
    column and scan everything for the other, the Z-layout prunes on
    BOTH. rows_matching is layout-invariant (skipping is lossless);
    the SF-adaptive rational box and pure-integer Morton/ppm
    arithmetic make the whole report oracle-exact."""
    from xml_to_parquet_spark.operators.scale import zonemap_skip_report

    orders = _t(spark, sf_dir, "orders")
    return zonemap_skip_report(orders, "o_custkey", "o_totalprice")


def _q_zonemap_pruning_sql() -> str:
    from xml_to_parquet_spark.operators.scale import (
        zonemap_skip_report_sql,
    )

    return zonemap_skip_report_sql("orders", "o_custkey", "o_totalprice")


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew pre-flight (operators/scale.skew_report): hottest keys
    + integer ppm share + the salt factor that bounds per-task rows. The
    measurement that picks between plain groupBy, salted_grouped_sum, and
    AQE skew hints — one counting shuffle, N-row output."""
    from xml_to_parquet_spark.operators.scale import skew_report

    ev = _t(spark, sf_dir, "events")
    return skew_report(
        ev, ["user_id"], target_rows_per_task=50, top_n=10
    )


_Q_SKEW_SQL = """
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows FROM counts)
SELECT user_id, cnt,
       CAST(total_rows AS BIGINT) AS total_rows,
       cnt * 1000000 // total_rows AS share_ppm,
       (cnt + 49) // 50 AS salt_factor
FROM counts CROSS JOIN tot
ORDER BY cnt DESC, user_id LIMIT 10
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph
    (functions/graph.pagerank): per-user lag-window edges → one
    map-side-combined count agg (the only corpus-sized pass) → 3
    integer power-iteration rounds, each an edge⋈rank join + groupBy
    with per-round localCheckpoint. The web-corpus quality-weighting
    shape (link-graph importance next to the text gates)."""
    from pyspark.sql import Window

    from xml_to_parquet_spark.functions.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
    )
    edges = trans.groupBy(
        F.col("prev").alias("src"), F.col("event_type").alias("dst")
    ).agg(F.count(F.lit(1)).alias("weight"))
    return pagerank(edges, iterations=3).orderBy(
        F.col("rank").desc(), "node"
    )


def _q_pagerank_sql() -> str:
    from xml_to_parquet_spark.functions.graph import pagerank_sql

    edges = """SELECT prev AS src, event_type AS dst,
       CAST(COUNT(*) AS BIGINT) AS weight
FROM (SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events) t
WHERE prev IS NOT NULL GROUP BY 1, 2"""
    ctes, final = pagerank_sql(edges, iterations=3)
    return (
        f"WITH {ctes}\n"
        f"SELECT node, rank FROM {final} ORDER BY rank DESC, node"
    )


def q_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV mergeability, proven in the oracle: per-(lang, source)
    sketches merged per lang (k smallest of the union of per-source
    k-minima) give BIT-IDENTICAL estimates to a sketch built directly
    on the whole group — the property that lets 1000 executors sketch
    independently and combine at the driver. Output carries est_merged,
    est_direct (equal by the identity), and the exact count."""
    from xml_to_parquet_spark.functions.sketches import (
        HASH52_MAX,
        KMV_K,
        md5_hash52,
    )
    from xml_to_parquet_spark.functions.text import norm_text
    from xml_to_parquet_spark.operators.window import grouped_topk

    k = KMV_K
    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select(
        "lang",
        "source",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("token"),
    ).select("lang", "source", md5_hash52(F.col("token")).alias("h")).distinct()

    def _est(n_col: str, kth_col: str) -> Column:
        return F.when(F.col(n_col) < k, F.col(n_col)).otherwise(
            F.expr(f"div({(k - 1) * HASH52_MAX}L, {kth_col})")
        ).cast("long")

    per_src = grouped_topk(
        hashed, group_cols=["lang", "source"],
        order_cols=[F.col("h").asc()], k=k,
    ).select("lang", "h").distinct()
    merged = (
        grouped_topk(per_src, ["lang"], [F.col("h").asc()], k=k)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_m"), F.max("h").alias("kth_m"))
    )
    direct = (
        grouped_topk(
            hashed.select("lang", "h").distinct(),
            ["lang"], [F.col("h").asc()], k=k,
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_d"), F.max("h").alias("kth_d"))
    )
    exact = (
        hashed.select("lang", "h").distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    return (
        merged.join(direct, on="lang")
        .join(exact, on="lang")
        .select(
            "lang",
            _est("n_m", "kth_m").alias("est_merged"),
            _est("n_d", "kth_d").alias("est_direct"),
            "exact_distinct",
        )
        .orderBy("lang")
    )


def _q_kmv_merge_sql() -> str:
    from xml_to_parquet_spark.functions.sketches import HASH52_MAX, KMV_K

    k = KMV_K
    h = "CAST('0x'||substr(md5(token),1,13) AS BIGINT)"
    est = (
        "CAST(CASE WHEN {n} < %d THEN {n} ELSE %d // {kth} END AS BIGINT)"
        % (k, (k - 1) * HASH52_MAX)
    )
    return f"""
WITH toks AS (
  SELECT lang, source, unnest(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
),
hashed AS (SELECT DISTINCT lang, source, {h} AS h FROM toks),
persrc AS (
  SELECT lang, h,
         ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY h) AS rn
  FROM hashed
),
unioned AS (SELECT DISTINCT lang, h FROM persrc WHERE rn <= {k}),
mranked AS (
  SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM unioned
),
msk AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_m, MAX(h) AS kth_m
  FROM mranked WHERE rn <= {k} GROUP BY lang
),
dall AS (SELECT DISTINCT lang, h FROM hashed),
dranked AS (
  SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM dall
),
dsk AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_d, MAX(h) AS kth_d
  FROM dranked WHERE rn <= {k} GROUP BY lang
),
exact AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM dall GROUP BY lang
)
SELECT msk.lang,
       {est.format(n="n_m", kth="kth_m")} AS est_merged,
       {est.format(n="n_d", kth="kth_d")} AS est_direct,
       exact_distinct
FROM msk JOIN dsk ON msk.lang = dsk.lang JOIN exact ON msk.lang = exact.lang
ORDER BY msk.lang
"""


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (sketches.histogram_quantiles): dyadic
    1/16-bit log-bucket histogram — sketch state (cnt, vmin) per
    occupied bucket, build = one map-side-combined groupBy with shuffle
    bytes ∝ groups×buckets, estimates within 4.4% relative error of the
    exact ceil-position quantiles that ride along. Completes the sketch
    family: distinct / frequency / membership / quantile."""
    from xml_to_parquet_spark.functions.sketches import histogram_quantiles

    docs = _t(spark, sf_dir, "documents")
    return histogram_quantiles(
        docs, "n_chars", ["lang"], qs=[50, 90, 99]
    ).orderBy("lang")


def _q_hist_quantiles_sql() -> str:
    from xml_to_parquet_spark.functions.sketches import (
        histogram_quantiles_sql,
    )

    return (
        histogram_quantiles_sql("documents", "n_chars", ["lang"])
        + " ORDER BY lang"
    )


QUERIES: dict[str, QuerySpec] = {
    "q01_star_revenue": QuerySpec(
        q_star_revenue, _Q_STAR_REVENUE_SQL, "flagship 5-way star join + agg"
    ),
    "q192_grouped_multi_agg": QuerySpec(
        q_grouped_multi_agg, _Q_GROUPED_MULTI_AGG_SQL, "A2 {col}_{fn} agg"
    ),
    "a238_count_by_group": QuerySpec(
        q_count_by_group, _Q_COUNT_BY_GROUP_SQL, "A3 count-by-group"
    ),
    "q194_project_filter": QuerySpec(
        q_project_filter, _Q_PROJECT_FILTER_SQL, "P1/P3 projection+filter"
    ),
    "a239_distinct": QuerySpec(q_distinct, _Q_DISTINCT_SQL, "U2 distinct"),
    "q196_sort_limit": QuerySpec(
        q_sort_limit, _Q_SORT_LIMIT_SQL, "O1/O2 sort+limit"
    ),
    "q197_union_by_name": QuerySpec(
        q_union_by_name, _Q_UNION_BY_NAME_SQL, "U1 ragged union"
    ),
    "q198_surrogate_keys": QuerySpec(
        q_surrogate_keys, _Q_SURROGATE_KEYS_SQL, "W1 surrogate keys"
    ),
    "q199_star_dim_keys": QuerySpec(
        q_star_dim_keys, _Q_STAR_DIM_KEYS_SQL, "J1/J3/W1 star build"
    ),
    "a240_cast_null_on_fail": QuerySpec(
        q_cast_null_on_fail, _Q_CAST_NULL_SQL, "F1 null-on-fail cast"
    ),
    "q201_regex_extract": QuerySpec(
        q_regex_extract, _Q_REGEX_EXTRACT_SQL, "F4/F5 regex"
    ),
    "a241_conditional_classify": QuerySpec(
        q_conditional_classify, _Q_CONDITIONAL_SQL, "P7 case ladder"
    ),
    "q203_json_extract": QuerySpec(
        q_json_extract, _Q_JSON_EXTRACT_SQL, "JSON path extraction"
    ),
    "q266_profile_classify": QuerySpec(
        q_profile_classify, _profile_oracle(), "A1/A4 schema profiling"
    ),
    "q267_star_build": QuerySpec(
        q_star_build, _Q_STAR_BUILD_SQL, "catalog-driven star transform"
    ),
    "q204_token_count": QuerySpec(
        q_token_count, _Q_TOKEN_COUNT_SQL, "token + BPE-ish subtoken counts"
    ),
    "q205_text_quality": QuerySpec(
        q_text_quality, _Q_TEXT_QUALITY_SQL, "doc quality features"
    ),
    "q206_lang_id": QuerySpec(
        q_lang_id, _lang_id_sql(), "heuristic language ID confusion"
    ),
    "q207_fingerprint": QuerySpec(
        q_fingerprint, _Q_FINGERPRINT_SQL, "normalized-text fingerprints"
    ),
    "a242_dedup_exact": QuerySpec(
        q_dedup_exact, _Q_DEDUP_EXACT_SQL, "exact dedup (hash groupBy)"
    ),
    "q344_dedup_ngram_jaccard": QuerySpec(
        q_dedup_ngram_jaccard,
        _ngram_jaccard_sql(),
        "LSH candidates + exact 3-gram Jaccard verify",
    ),
    "a243_dedup_minhash_sig": QuerySpec(
        q_dedup_minhash_sig, _minhash_sig_sql(), "MinHash signatures"
    ),
    "a244_dedup_minhash_lsh": QuerySpec(
        q_dedup_minhash_lsh, _minhash_lsh_sql(), "MinHash LSH candidates"
    ),
    "a245_dedup_simhash": QuerySpec(
        q_dedup_simhash, _simhash_sql(), "SimHash signatures"
    ),
    "a246_dedup_embedding": QuerySpec(
        q_dedup_embedding, _Q_DEDUP_EMBEDDING_SQL, "embedding-cosine near-dups"
    ),
    "q213_knn_brute": QuerySpec(
        q_knn_brute, _Q_KNN_BRUTE_SQL, "brute-force cosine top-k"
    ),
    "q214_knn_lsh": QuerySpec(
        q_knn_lsh, _q_knn_lsh_sql(), "sign-LSH bucketed top-k"
    ),
    "q215_multimodal_meta": QuerySpec(
        q_multimodal_meta, _Q_MULTIMODAL_META_SQL, "binary payload metadata"
    ),
    "q268_multimodal_decode": QuerySpec(
        q_multimodal_decode,
        _Q_MULTIMODAL_DECODE_SQL,
        "mapInPandas decode plumbing (deterministic stand-in kernel)",
    ),
    "q216_window_running_sum": QuerySpec(
        q_window_running_sum, _Q_WINDOW_RUNNING_SQL, "analytic running sum"
    ),
    "q217_time_bucket": QuerySpec(
        q_time_bucket, _Q_TIME_BUCKET_SQL, "tumbling event-time window"
    ),
    "q219_semi_join": QuerySpec(q_semi_join, _Q_SEMI_JOIN_SQL, "left semi join"),
    "a247_anti_join": QuerySpec(q_anti_join, _Q_ANTI_JOIN_SQL, "left anti join"),
    "q221_rollup": QuerySpec(q_rollup, _Q_ROLLUP_SQL, "rollup grouping sets"),
    "q222_sql_frontend": QuerySpec(
        q_sql_frontend, _Q_SQL_FRONTEND_SQL, "spark.sql frontend (TPC-H q6)"
    ),
    "q269_streaming_window": QuerySpec(
        q_streaming_window,
        _Q_TIME_BUCKET_SQL,
        "Structured Streaming tumbling window (AvailableNow == batch)",
    ),
    # the single deepest path in the catalog
    "q270_xml_star_golden": QuerySpec(
        q_xml_star_golden,
        _Q_XML_STAR_GOLDEN_SQL,
        "XML ingest -> star transform vs fully-determined golden values",
    ),
    "a248_date_arith": QuerySpec(
        q_date_arith, _Q_DATE_ARITH_SQL, "date extraction/arithmetic/diffs"
    ),
    "q224_set_ops": QuerySpec(
        q_set_ops, _Q_SET_OPS_SQL, "row-set intersect / exceptAll"
    ),
    "q225_pivot": QuerySpec(q_pivot, _Q_PIVOT_SQL, "pivot wide by event type"),
    "q226_string_funcs": QuerySpec(
        q_string_funcs, _Q_STRING_FUNCS_SQL, "string function battery"
    ),
    "q227_percentile": QuerySpec(
        q_percentile, _Q_PERCENTILE_SQL, "exact interpolated percentiles"
    ),
    "a249_cube": QuerySpec(q_cube, _Q_CUBE_SQL, "cube grouping sets"),
    "a250_asof_join": QuerySpec(
        q_asof_join, _Q_ASOF_JOIN_SQL, "as-of join composed from window"
    ),
    "q230_sessionize": QuerySpec(
        q_sessionize,
        _Q_SESSIONIZE_SQL,
        "session windows (batch twin of the stateful streaming operator)",
    ),
    "q231_range_join": QuerySpec(
        q_range_join, _Q_RANGE_JOIN_SQL, "binned range join (price bands)"
    ),
    "q232_knn_ivf": QuerySpec(
        q_knn_ivf, _Q_KNN_IVF_SQL, "IVF approximate nearest neighbors"
    ),
    "q233_incremental_dim": QuerySpec(
        q_incremental_dim,
        _Q_INCREMENTAL_DIM_SQL,
        "incremental dimension merge with stable keys",
    ),
    "q234_rollup_cascade": QuerySpec(
        q_rollup_cascade,
        _Q_ROLLUP_CASCADE_SQL,
        "daily-from-hourly rollup cascade (continuous aggregate)",
    ),
    "q235_salted_agg": QuerySpec(
        q_salted_agg,
        _Q_SALTED_AGG_SQL,
        "skew-salted two-stage aggregation (bit-identical to direct)",
    ),
    "q324_substring_dedup": QuerySpec(
        q_substring_dedup,
        _Q_SUBSTRING_DEDUP_SQL,
        "repeated-k-gram span detection (substring-level dedup)",
    ),
    "q301_bpe_tokens": QuerySpec(
        q_bpe_tokens,
        _Q_BPE_TOKENS_SQL,
        "real BPE merge-loop token counts (broadcast merges table)",
    ),
    "q341_bpe_learn": QuerySpec(
        q_bpe_learn,
        _BPE_LEARN_SQL,
        "distributed BPE merge training (greedy pair-count rounds)",
    ),
    "q347_ivf_pq_adc": QuerySpec(
        q_ivf_pq_adc,
        _Q_IVF_PQ_ADC_SQL,
        "IVF-PQ asymmetric-distance ANN with exact integer re-rank",
    ),
    "q337_audio_fp_dedup": QuerySpec(
        q_audio_fp_dedup,
        _Q_AUDIO_FP_SQL,
        "audio near-dup dedup: WAV decode → energy-delta fp → Hamming",
    ),
    "a269_image_phash_dedup": QuerySpec(
        q_image_phash_dedup,
        _Q_IMAGE_PHASH_SQL,
        "image near-dup dedup: netpbm decode → dHash → Hamming blocking",
    ),
    "q253_netpbm_real": QuerySpec(
        q_netpbm_real_kernel,
        _Q_NETPBM_REAL_SQL,
        "REAL netpbm decode + raster resample (md5-matched output bytes)",
    ),
    "q348_sessionize_tws": QuerySpec(
        q_sessionize_tws,
        _Q_SESSIONIZE_TWS_SQL,
        "transformWithStateInPandas sessions (real state protocol)",
    ),
    "q271_gapfill": QuerySpec(
        q_gapfill, _Q_GAPFILL_SQL, "time-spine gap fill (dense hourly grid)"
    ),
    "q272_hash_sample": QuerySpec(
        q_hash_sample,
        _hash_sample_sql(),
        "deterministic md5-gate sampling (partition-independent)",
    ),
    "q273_stratified_sample": QuerySpec(
        q_stratified_sample,
        _stratified_sample_sql(),
        "per-stratum sampling rates in one pushed-down filter",
    ),
    "q276_grouped_topk": QuerySpec(
        q_grouped_topk,
        _Q_GROUPED_TOPK_SQL,
        "per-group top-k via WindowGroupLimit rank filter",
    ),
    "q282_contamination": QuerySpec(
        q_contamination,
        _contamination_sql(),
        "benchmark contamination scan (broadcast eval shingles)",
    ),
    "q274_length_histogram": QuerySpec(
        q_length_histogram,
        _Q_LENGTH_HISTOGRAM_SQL,
        "doc-length width_bucket histogram",
    ),
    "q277_mixture": QuerySpec(
        q_mixture,
        _mixture_sql(),
        "weighted source mixture with deterministic shuffle order",
    ),
    "q283_tfidf_terms": QuerySpec(
        q_tfidf_terms,
        _Q_TFIDF_SQL,
        "top distinctive terms per doc (integer tf/df ranking)",
    ),
    "q278_label_centroids": QuerySpec(
        q_label_centroids,
        _Q_LABEL_CENTROIDS_SQL,
        "per-label embedding centroids (exact quantized vector sums)",
    ),
    # char-n-gram LM quality gate (the CCNet/KenLM perplexity-filter
    # shape, integer-exact)
    "q327_rare_gram_lm": QuerySpec(
        q_rare_gram_lm,
        _q_rare_gram_sql(),
        "char-trigram rare-fraction LM gate (relative-frequency rarity)",
    ),
    "q346_simhash_blocked": QuerySpec(
        q_simhash_blocked,
        _simhash_blocked_sql(),
        "SimHash Hamming pairs via pigeonhole chunk blocking",
    ),
    "q279_business_keys": QuerySpec(
        q_business_keys,
        _Q_BUSINESS_KEYS_SQL,
        "S6 comment business keys attached per file (golden fixture)",
    ),
    "q254_validation_gate": QuerySpec(
        q_validation_gate,
        _Q_VALIDATION_GATE_SQL,
        "P4 validation gate excludes malformed files (golden fixture)",
    ),
    "a251_default_count_measure": QuerySpec(
        q_default_count_measure,
        _Q_DEFAULT_COUNT_MEASURE_SQL,
        "A6 default record_count measure (golden fixture)",
    ),
    "q237_generated_ids": QuerySpec(
        q_generated_ids,
        _Q_GENERATED_IDS_SQL,
        "F13 generated record ids: non-null + unique invariants",
    ),
    "q238_make_unique": QuerySpec(
        q_make_unique,
        _Q_MAKE_UNIQUE_SQL,
        "F14 make.unique repeated-tag columns (golden fixture)",
    ),
    "q239_report_rates": QuerySpec(
        q_report_rates,
        _Q_REPORT_RATES_SQL,
        "F15 processing-report rate math from Spark-side counts",
    ),
    "q293_repetition_features": QuerySpec(
        q_repetition_features,
        _Q_REPETITION_INT_SQL,
        "Gopher-style within-doc repetition signals",
    ),
    "q328_quality_gate": QuerySpec(
        q_quality_gate,
        _q_quality_gate_sql(),
        "composite quality gate with named drop reasons",
    ),
    "q343_corpus_line_dedup": QuerySpec(
        q_corpus_line_dedup,
        _Q_CORPUS_LINE_DEDUP_SQL,
        "corpus-level repeated-line removal (C4 boilerplate rule)",
    ),
    "q218_hamming_ann": QuerySpec(
        q_hamming_ann,
        _q_hamming_ann_sql(),
        "binary sign-signature ANN: Hamming-ball candidates + exact re-rank",
    ),
    "a270_hybrid_rrf": QuerySpec(
        q_hybrid_rrf,
        _q_hybrid_rrf_sql(),
        "hybrid retrieval: BM25 + cosine channels fused by integer RRF",
    ),
    "a253_pack_nosplit": QuerySpec(
        q_pack_nosplit,
        _q_pack_nosplit_sql(),
        "no-split NFD sequence packing (shard-parallel, recursive-CTE oracle)",
    ),
    "q284_pack_sequences": QuerySpec(
        q_pack_sequences,
        _Q_PACK_SEQUENCES_SQL,
        "concat-and-chunk sequence packing planner (sharded windows)",
    ),
    "q350_dedup_clusters": QuerySpec(
        q_dedup_clusters,
        _q_dedup_clusters_sql(),
        "near-dup clustering: LSH pairs -> connected components",
    ),
    "q255_kmeans_cells": QuerySpec(
        q_kmeans_cells,
        _q_kmeans_sql(),
        "Lloyd k-means cell assignment in exact integer arithmetic",
    ),
    "q285_scrub_pii": QuerySpec(
        q_scrub_pii,
        _Q_SCRUB_PII_SQL,
        "PII scrubbing with typed placeholders (golden fixture)",
    ),
    "q256_dedup_incremental": QuerySpec(
        q_dedup_incremental,
        _Q_DEDUP_INCREMENTAL_SQL,
        "incremental dedup against an existing corpus (anti-join)",
    ),
    "q286_assign_split": QuerySpec(
        q_assign_split,
        _q_assign_split_sql(),
        "deterministic train/val/test split assignment",
    ),
    "q299_dedup_apply": QuerySpec(
        q_dedup_apply,
        _q_dedup_apply_sql(),
        "end-to-end dedup: LSH -> clusters -> keep one per cluster",
    ),
    "q326_stream_dedup": QuerySpec(
        q_stream_dedup,
        _Q_STREAM_DEDUP_SQL,
        "streaming dedup with watermark-bounded state",
    ),
    "q342_dedup_clusters_star": QuerySpec(
        q_dedup_clusters_star,
        _q_dedup_clusters_star_sql(),
        "connected components via alternating star contraction",
    ),
    "q257_sliding_window": QuerySpec(
        q_sliding_window,
        _Q_SLIDING_WINDOW_SQL,
        "sliding/hopping event-time windows (2h size, 1h hop)",
    ),
    "q258_session_window": QuerySpec(
        q_session_window_native,
        _Q_SESSION_WINDOW_SQL,
        "native session_window gap-merged sessions",
    ),
    "q280_variant_json": QuerySpec(
        q_variant_json,
        _Q_VARIANT_JSON_SQL,
        "VariantType JSON: parse once, typed binary field access",
    ),
    "q259_pq_codes": QuerySpec(
        q_pq_codes,
        _q_pq_codes_sql(),
        "product-quantization codes (per-subspace integer kmeans)",
    ),
    "q287_zorder_key": QuerySpec(
        q_zorder_key,
        _q_zorder_key_sql(),
        "Morton Z-order keys for multi-column file skipping",
    ),
    "q288_upsert": QuerySpec(
        q_upsert, _Q_UPSERT_SQL, "keyed MERGE-style upsert"
    ),
    "q289_scd2": QuerySpec(
        q_scd2, _Q_SCD2_SQL, "SCD Type 2 dimension history maintenance"
    ),
    "q290_fuzzy_pairs": QuerySpec(
        q_fuzzy_pairs,
        _Q_FUZZY_PAIRS_SQL,
        "length-blocked levenshtein fuzzy matching",
    ),
    "q275_window_battery": QuerySpec(
        q_window_battery,
        _Q_WINDOW_BATTERY_SQL,
        "analytic window battery (lag/lead/rank/ntile/cume_dist)",
    ),
    "q298_atomic_publish": QuerySpec(
        q_atomic_publish,
        _Q_ATOMIC_PUBLISH_SQL,
        "manifest-pointer commit: killed writer, reader sees last snapshot",
    ),
    "q335_diff_published": QuerySpec(
        q_diff_published,
        _Q_DIFF_PUBLISHED_SQL,
        "version change feed: append fast path + exceptAll general path",
    ),
    "a226_stream_kmv": QuerySpec(
        q_stream_kmv,
        _q_stream_kmv_sql(),
        "streaming KMV maintenance: per-batch sketches published "
        "exactly-once, merged estimate == whole-table sketch",
    ),
    "q362_stream_quarantine": QuerySpec(
        q_stream_quarantine,
        _q_stream_quarantine_sql(),
        "constraint-gated dead-letter routing: one stream, two "
        "exactly-once published tables (good + quarantine with "
        "first-failing-check reasons)",
    ),
    "q325_stream_publish": QuerySpec(
        q_stream_publish,
        _Q_STREAM_PUBLISH_SQL,
        "exactly-once streaming publish: batch-id dedup through the pointer",
    ),
    # SemDeDup-shape semantic dedup (k-means cells + within-cell
    # integer-exact cosine pruning)
    "q345_semantic_dedup": QuerySpec(
        q_semantic_dedup,
        _q_semantic_dedup_sql(n_probe=3),
        "semantic dedup: multi-probe k-means cells + exact-cosine "
        "keep-min-id",
    ),
    "a271_html_extract": QuerySpec(
        q_html_extract,
        _q_html_extract_sql(),
        "HTML→text curation: element drops, entity decode, title extract",
    ),
    "a260_line_clean": QuerySpec(
        q_line_clean,
        _q_line_clean_sql(),
        "line-level curation: min-word filter + within-doc line dedup",
    ),
    "a258_mojibake": QuerySpec(
        q_mojibake,
        _q_mojibake_sql(),
        "encoding QA: mojibake detection + literal repair",
    ),
    "a257_mojibake_deep": QuerySpec(
        q_mojibake_deep,
        _q_mojibake_deep_sql(),
        "multi-round byte-level encoding repair (ftfy-shape kernel)",
    ),
    "q291_grouping_sets": QuerySpec(
        q_grouping_sets,
        _Q_GROUPING_SETS_SQL,
        "explicit GROUPING SETS with grouping_id",
    ),
    "q240_null_battery": QuerySpec(
        q_null_battery,
        _Q_NULL_BATTERY_SQL,
        "null-handling battery (coalesce/nullif/greatest/null-safe eq)",
    ),
    "q292_fuzzy_qgram": QuerySpec(
        q_fuzzy_qgram,
        _Q_FUZZY_QGRAM_SQL,
        "q-gram prefix-filtered levenshtein fuzzy matching (general path)",
    ),
    "q349_stream_join": QuerySpec(
        q_stream_interval_join,
        _Q_STREAM_JOIN_SQL,
        "stream-stream interval join (funnel attribution, bounded state)",
    ),
    "q260_batch_score": QuerySpec(
        q_batch_score,
        _Q_BATCH_SCORE_SQL,
        "REAL quantized-logreg batch inference (int64 matmul, exact oracle)",
    ),
    # the two mapInPandas stages the multimodal docstring promises:
    # resize (aspect-fit, stand-in kernel; the real netpbm/Pillow twin is
    # pytest-covered) and binary feature-extract (numpy byte stats)
    "q261_multimodal_resize": QuerySpec(
        q_multimodal_resize,
        _Q_MULTIMODAL_RESIZE_SQL,
        "mapInPandas resize plumbing (aspect-fit, stand-in kernel)",
    ),
    "q281_byte_features": QuerySpec(
        q_byte_features,
        _Q_BYTE_FEATURES_SQL,
        "binary feature-extract (numpy byte statistics over Arrow batches)",
    ),
    "q262_stream_enrich": QuerySpec(
        q_stream_enrich,
        _Q_STREAM_ENRICH_SQL,
        "stream-static enrichment join (stateless, per-micro-batch dim)",
    ),
    "q263_dedup_keep_best": QuerySpec(
        q_dedup_keep_best,
        _Q_DEDUP_KEEP_BEST_SQL,
        "quality-aware dedup retention (best member per cluster)",
    ),
    # URL/domain curation pair
    "q264_url_normalize": QuerySpec(
        q_url_normalize,
        _Q_URL_NORMALIZE_SQL,
        "canonical URL dedup keys + registrable domains",
    ),
    "q265_domain_cap": QuerySpec(
        q_domain_cap,
        _Q_DOMAIN_CAP_SQL,
        "per-domain anti-domination cap (deterministic survivors)",
    ),
    # r7 sketch family: mergeable fixed-size summaries (KMV / HLL /
    # count-min) + DSIR importance selection — all pure-BIGINT estimates.
    "a263_kmv_distinct": QuerySpec(
        q_kmv_distinct,
        _q_kmv_sql(),
        "KMV k-minimum-values distinct sketch (integer estimate vs exact)",
    ),
    "a261_kmv_set_algebra": QuerySpec(
        q_kmv_set_algebra,
        _q_kmv_set_algebra_sql(),
        "sketch set algebra: union/intersection/Jaccard from two KMV "
        "sketches",
    ),
    "q336_funnel": QuerySpec(
        q_funnel,
        _Q_FUNNEL_SQL,
        "ordered funnel: strict first-occurrence stage sequencing",
    ),
    "a236_token_drift": QuerySpec(
        q_token_drift,
        _q_token_drift_sql(),
        "distribution-drift monitor: top token frequency movers in ppm",
    ),
    "a273_gopher_rules": QuerySpec(
        q_gopher_rules,
        _q_gopher_rules_sql(),
        "Gopher-style composite quality rules, integer-exact map-only gate",
    ),
    "a235_pmi_pairs": QuerySpec(
        q_pmi_pairs,
        _q_pmi_pairs_sql(),
        "token-pair PMI via exact integer lift, a-priori-bounded self-join",
    ),
    "a233_triangles": QuerySpec(
        q_triangles,
        _q_triangles_sql(),
        "triangle counting by degree-ordered orientation (O(m^1.5) wedges)",
    ),
    "q339_bucket_anomalies": QuerySpec(
        q_bucket_anomalies,
        _q_bucket_anomalies_sql(),
        "time-bucket volume anomalies: integer z-score test, no floats",
    ),
    "a265_k_anonymize": QuerySpec(
        q_k_anonymize,
        _q_k_anonymize_sql(),
        "k-anonymity suppression of small quasi-identifier classes",
    ),
    "q334_bfs_khop": QuerySpec(
        q_bfs_khop,
        _q_bfs_khop_sql(),
        "multi-source BFS hop levels: frontier expansion + visited anti-join",
    ),
    "a264_k_core": QuerySpec(
        q_k_core,
        _q_k_core_sql(),
        "k-core peeling with in-band convergence certificate",
    ),
    "a259_linear_probe": QuerySpec(
        q_linear_probe,
        _q_linear_probe_sql(),
        "linear probe training: exact fixed-point batch GD rounds",
    ),
    "q340_event_transitions": QuerySpec(
        q_event_transitions,
        _q_event_transitions_sql(),
        "Markov event-transition matrix: lead() pairs, ppm row probs",
    ),
    "q333_chunk_documents": QuerySpec(
        q_chunk_documents,
        _q_chunk_documents_sql(),
        "overlapping RAG chunking: map-only sequence+substring, 0 shuffles",
    ),
    "a228_wav_features": QuerySpec(
        q_wav_features,
        _Q_WAV_FEATURES_SQL,
        "REAL WAV audio round-trip: JVM-built PCM16, stdlib-wave parse",
    ),
    "a266_jl_project": QuerySpec(
        q_jl_project,
        _q_jl_project_sql(),
        "JL sign projection: literal Rademacher matrix, map-only, exact",
    ),
    "a229_winnow_fingerprints": QuerySpec(
        q_winnow_fingerprints,
        _q_winnow_sql(),
        "winnowing (MOSS) fingerprints: row-local HOFs, rightmost-min",
    ),
    "a230_skipgram_cooc": QuerySpec(
        q_skipgram_cooc,
        _q_skipgram_sql(),
        "skip-gram window co-occurrence: shifted-array zips, no self-join",
    ),
    "a231_phrase_query": QuerySpec(
        q_phrase_query,
        _q_phrase_query_sql(),
        "positional-index phrase query: offset-aligned postings joins",
    ),
    "a267_jl_ann": QuerySpec(
        q_jl_ann,
        _q_jl_ann_sql(),
        "two-stage ANN: JL integer prefilter, exact quantized re-rank",
    ),
    "a255_near_query": QuerySpec(
        q_near_query,
        _q_near_query_sql(),
        "proximity NEAR/slop query: offset-enumerated bounded range join",
    ),
    "a256_more_like_this": QuerySpec(
        q_more_like_this,
        _q_more_like_this_sql(),
        "sparse tf-idf more-like-this: df-pruned token join, integer dot",
    ),
    "a254_ngram_diversity": QuerySpec(
        q_ngram_diversity,
        _q_ngram_diversity_sql(),
        "per-source bigram type/token ratio (ppm) — diversity monitor",
    ),
    "a227_setsim_prefix": QuerySpec(
        q_setsim_prefix,
        _q_setsim_prefix_sql(),
        "AllPairs/PPJoin prefix-filtered exact Jaccard join vs brute oracle",
    ),
    "a232_stream_drift": QuerySpec(
        q_stream_drift,
        _q_stream_drift_sql(),
        "streaming drift monitor: published partial counts == batch report",
    ),
    "a268_incremental_agg": QuerySpec(
        q_incremental_agg,
        _Q_INCREMENTAL_AGG_SQL,
        "O(delta) materialized-view refresh from the publish change feed",
    ),
    "a234_poisson_bootstrap": QuerySpec(
        q_poisson_bootstrap,
        _q_poisson_bootstrap_sql(),
        "one-pass Poisson bootstrap: 16 deterministic replicate means",
    ),
    "q338_cohort_retention": QuerySpec(
        q_cohort_retention,
        _q_cohort_retention_sql(),
        "cohort retention matrix: first-seen buckets x offset, integer ppm",
    ),
    "a237_pr_normalize": QuerySpec(
        q_pr_normalize,
        _q_pr_normalize_sql(),
        "per-slice percentile-rank score normalization (integer ppm)",
    ),
    "q323_hll_distinct": QuerySpec(
        q_hll_distinct,
        _q_hll_sql(),
        "HyperLogLog (64 registers, integer harmonic + linear counting)",
    ),
    "q330_countmin": QuerySpec(
        q_countmin,
        _q_countmin_sql(),
        "count-min sketch point estimates vs true counts (3x1024 cells)",
    ),
    "q331_dsir_select": QuerySpec(
        q_dsir_select,
        _q_dsir_sql(),
        "DSIR importance selection (hashed-ngram integer LLR ranking)",
    ),
    "q329_leakage_split": QuerySpec(
        q_leakage_split,
        _q_leakage_split_sql(),
        "leakage-safe split (near-dup clusters move between splits whole)",
    ),
    "q332_bloom_prune": QuerySpec(
        q_bloom_prune,
        _q_bloom_sql(),
        "Bloom-filter join pruning (row-local probe vs exact semi-join)",
    ),
    "q297_bm25_topk": QuerySpec(
        q_bm25_topk,
        _q_bm25_sql(),
        "BM25 top-k retrieval (integer fixed-point, hex-MSB ilog2)",
    ),
    "a252_skew_report": QuerySpec(
        q_skew_report,
        _Q_SKEW_SQL,
        "shuffle-skew pre-flight (hot keys, ppm share, salt factor)",
    ),
    "q295_xsd_typed_star": QuerySpec(
        q_xsd_typed_star,
        _Q_XSD_TYPED_STAR_SQL,
        "XSD leaf types flow to the star output (decimal/bigint/bool/"
        "date/ts)",
    ),
    "q294_containment_pairs": QuerySpec(
        q_containment_pairs,
        _q_containment_pairs_sql(),
        "directed containment >= 0.8 via one-sided prefix filter vs brute",
    ),
    "q300_containment_sketch": QuerySpec(
        q_containment_sketch,
        _q_containment_sketch_sql(),
        "bottom-k containment screen (Mash-style estimator, exact replay)",
    ),
    "q351_containment_screened": QuerySpec(
        q_containment_screened,
        _q_containment_screened_sql(),
        "screen->exact containment composition (sketch survivors feed "
        "the exact prefix join)",
    ),
    "q352_containment_skew": QuerySpec(
        q_containment_skew,
        _q_containment_skew_sql(),
        "hot/cold split containment join on a boilerplate-skewed corpus "
        "(hot postings never shuffle by key)",
    ),
    "q353_priority_sample": QuerySpec(
        q_priority_sample,
        _q_priority_sample_sql(),
        "priority sampling (DLT): weighted top-k draw + unbiased "
        "subset-sum estimators, exact SQL replay",
    ),
    "q354_mg_heavy_hitters": QuerySpec(
        q_mg_heavy_hitters,
        _q_mg_heavy_hitters_sql(),
        "self-certifying Misra-Gries heavy hitters: screened candidates "
        "+ exact recount, provably exact top-k",
    ),
    "q355_frame_sample": QuerySpec(
        q_frame_sample,
        _Q_FRAME_SAMPLE_SQL,
        "video frame-sampling plan: metadata-only sequence+explode, "
        "payload column pruned, md5 frame keys",
    ),
    "q356_mmr_select": QuerySpec(
        q_mmr_select,
        _q_mmr_select_sql(),
        "greedy MMR diverse selection (int64-exact, oracle replays all "
        "k rounds)",
    ),
    "q357_grouped_priority_sample": QuerySpec(
        q_grouped_priority_sample,
        _q_grouped_priority_sample_sql(),
        "stratified DLT priority sampling: per-group draw + per-group "
        "unbiased estimators in one window pass",
    ),
    "q358_join_cardinality": QuerySpec(
        q_join_cardinality,
        _q_join_cardinality_sql(),
        "join-size pre-flight: unbiased key-sampled estimate of "
        "|lineitem JOIN orders| with the exact error alongside",
    ),
    "q371_group_normalize": QuerySpec(
        q_group_normalize,
        _q_group_normalize_sql(),
        "per-group percent-rank + min-max normalization of totalprice "
        "within priority classes, exact integer ppm",
    ),
    "q370_threshold_sweep": QuerySpec(
        q_threshold_sweep,
        _q_threshold_sweep_sql(),
        "operating-point sweep: confusion counts + P/R/F1 ppm for the "
        "linear probe at 5 thresholds, one aggregate pass",
    ),
    "q369_mutual_knn": QuerySpec(
        q_mutual_knn,
        _q_mutual_knn_sql(),
        "mutual kNN graph: reciprocal top-5 inner-product edges on "
        "the label-0/1 embedding slice",
    ),
    "q368_score_calibration": QuerySpec(
        q_score_calibration,
        _q_score_calibration_sql(),
        "binned reliability table: 10-bin positive rates + localized "
        "monotonicity violations for an int64 linear probe",
    ),
    "q367_vocab_top_p": QuerySpec(
        q_vocab_top_p,
        _q_vocab_top_p_sql(),
        "nucleus vocab truncation: smallest per-language token set "
        "covering 80% of token mass, division-free keep rule",
    ),
    "q366_rate_limit": QuerySpec(
        q_rate_limit,
        _Q_RATE_LIMIT_SQL,
        "sliding-log rate limiter replay: per-type throttle rates for "
        "4 events / 24h per user, tie-deterministic RANGE frame",
    ),
    "q365_embedding_diversity": QuerySpec(
        q_embedding_diversity,
        _q_embedding_diversity_sql(),
        "per-label embedding diversity from one-pass integer moments "
        "(no pairwise join)",
    ),
    "q364_doc_chunks": QuerySpec(
        q_doc_chunks,
        _q_doc_chunks_sql(),
        "RAG chunking: overlapping token windows over documents, "
        "JVM-side explode/slice, md5 chunk keys",
    ),
    "q363_robust_stats": QuerySpec(
        q_robust_stats,
        _q_robust_stats_sql(),
        "robust grouped means: plain/trimmed/winsorized o_totalprice "
        "per priority, one shuffle, exact decimal sums",
    ),
    "q361_fd_profile": QuerySpec(
        q_fd_profile,
        _q_fd_profile_sql(),
        "functional-dependency profiling: majority-agreement ppm for "
        "three declared FDs on orders (holds / violated / composite)",
    ),
    "q360_zonemap_pruning": QuerySpec(
        q_zonemap_pruning,
        _q_zonemap_pruning_sql(),
        "zone-map skip report: file/row skip rates for a 2-D box "
        "predicate under bycol_a/bycol_b/zorder layouts of orders",
    ),
    "q359_constraint_suite": QuerySpec(
        q_constraint_suite,
        _q_constraint_suite_sql(),
        "Deequ-style constraint suite: 7 declared quality checks "
        "(completeness/distinctness/ranges/membership/pattern/RI) in "
        "one aggregate pass, integer-ppm report",
    ),
    "q296_containment_dedup": QuerySpec(
        q_containment_dedup,
        _q_containment_dedup_sql(),
        "containment dedup applied: drop docs subsumed by a greater doc",
    ),
    "a225_pagerank": QuerySpec(
        q_pagerank,
        _q_pagerank_sql(),
        "weighted PageRank over event transitions (integer fixed point)",
    ),
    "a262_kmv_merge": QuerySpec(
        q_kmv_merge,
        _q_kmv_merge_sql(),
        "KMV sketch merge == direct sketch (mergeability identity)",
    ),
    "a272_hist_quantiles": QuerySpec(
        q_hist_quantiles,
        _q_hist_quantiles_sql(),
        "mergeable log-bucket quantile sketch (est vs exact, <=4.4% err)",
    ),
}

# entries iterate in sorted key order, whatever order they are declared in
QUERIES = {name: QUERIES[name] for name in sorted(QUERIES)}

# The slug, the part of a key after the first underscore, is the name an
# entry kept through the key renames of earlier rounds; perfbench picks
# its entries by slug, qtime accepts slugs, and bench_diff matches old
# sidecars by slug.
KEY_BY_SLUG: dict[str, str] = {
    name.split("_", 1)[1]: name for name in QUERIES
}
assert len(KEY_BY_SLUG) == len(QUERIES), "catalog slugs must be unique"
