"""Star-schema transformer (SURVEY §2, §3.3) — the reference's heart.

Reference parity (/root/reference/R/star_transformer.R):
- build_star_schema          star_transformer.R:4-46
- build_dimension_table      star_transformer.R:49-71 (project → null-filter →
                             distinct → sort → row_number key → metadata cols)
- fact build + measure cast  star_transformer.R:74-97 (numeric coercion with
                             null-on-fail; record_count=1 when no measures)
- dim-key attach             star_transformer.R:100-107, 127-145 (a join
                             fold there; a map lookup here)
- load metadata columns      star_transformer.R:111-116
- aggregate_fact_data        star_transformer.R:148-165
- validate integrity         star_transformer.R:167-199

Deliberate departures from the reference (SURVEY §2.12 — intended semantics):
- surrogate keys are GLOBAL, not per-batch (quirk 1): one deterministic key
  per value across the whole input, the value's position in the sorted
  distinct values (tiny by the dimension cardinality cap)
- counts come from Spark aggregates, not driver-side mutable counters
  (quirk 2)

Scale design:
- each dimension is ≤50 distinct values (classifier cap), so
  ``build_star_schema`` runs ONE aggregate job,
  ``array_sort(collect_set(c))`` for every dimension column at once, and
  brings the sorted values to the driver.  Key = position + 1: the same
  dense, value-ordered keys as ``surrogate_keys``' global row_number, with
  no per-dimension distinct → single-partition window sort.
- each dimension table is a literal frame over those values; writing it
  is its only job and never re-reads the input
- the fact gets ``<c>_key`` from a constant-folded map lookup
  (``try_element_at(map_literal, c)``): no join, no broadcast, no
  exchange — the fact stays one narrow pass over its input
- measures cast with try_cast (null-on-fail, ANSI-safe) — JVM codegen path
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from itertools import chain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class StarSchema:
    fact: DataFrame
    dimensions: dict[str, DataFrame] = field(default_factory=dict)


def dimension_values(df: DataFrame, cols: list[str]) -> dict[str, list]:
    """Sorted distinct non-null values of every column in ``cols``, from
    ONE aggregate job (``array_sort(collect_set(c))`` per column).

    Bounded by the dimension cardinality cap: the same scale envelope as
    the single-partition window sort it replaces (operators/window.py).
    """
    if not cols:
        return {}
    row = df.agg(
        *[
            F.array_sort(F.collect_set(F.col(c))).alias(f"_d{i}")
            for i, c in enumerate(cols)
        ]
    ).first()
    return {c: row[i] for i, c in enumerate(cols)}


def build_dimension_table(
    df: DataFrame, dim_col: str, values: list, include_metadata: bool = True
) -> DataFrame:
    """Dimension table: (``<col>_key``, value, created_date, is_active).

    ``values`` are the column's sorted distinct values
    (``dimension_values``); key = position + 1, which equals
    ``surrogate_keys``' dense sorted row_number (reference semantics,
    fixed to be batch-independent).  The table is a literal frame: it
    never re-reads ``df``, whose only role here is the value type.
    """
    key, dtype = f"{dim_col}_key", df.schema[dim_col].dataType
    row_type = T.ArrayType(
        T.StructType(
            [T.StructField(key, T.IntegerType()), T.StructField(dim_col, dtype)]
        )
    )
    rows = F.array(
        *[
            F.struct(F.lit(i + 1), F.lit(v).cast(dtype))
            for i, v in enumerate(values)
        ]
    ).cast(row_type)
    dim = df.sparkSession.range(1, numPartitions=1).select(F.inline(rows))
    if include_metadata:
        dim = dim.withColumn("created_date", F.current_date()).withColumn(
            "is_active", F.lit(True)
        )
    return dim


def _key_lookup(dim_col: str, dtype: T.DataType, values: list) -> F.Column:
    """``<col>_key`` for each row: a constant-folded map literal looked up
    by value; null for a null value (the left join's no-match)."""
    if not values:
        return F.lit(None).cast(T.IntegerType())
    keys = F.create_map(
        *chain.from_iterable(
            (F.lit(v).cast(dtype), F.lit(i + 1)) for i, v in enumerate(values)
        )
    )
    return F.try_element_at(keys, F.col(dim_col))


def build_star_schema(
    df: DataFrame,
    catalog: dict[str, dict],
    id_column: str | None = None,
    batch_id: str | None = None,
    include_audit: bool = True,
) -> StarSchema:
    """Catalog-driven star build: one fact + one dimension per dimension col.

    ``catalog`` is ``analyze_schema`` output ({col: {classification, ...}}).
    Runs one job, the dimension-value aggregate; the fact and dimension
    frames it returns execute only when the caller writes/collects them.
    """
    by_cls: dict[str, list[str]] = {}
    for col, info in catalog.items():
        if col in df.columns:
            by_cls.setdefault(info["classification"], []).append(col)

    identifiers = by_cls.get("identifier", [])
    measures = by_cls.get("measure", [])
    dims = by_cls.get("dimension", [])
    audits = [c for c in by_cls.get("audit", []) if c in df.columns]

    if id_column and id_column in df.columns:
        identifiers = [id_column] + [c for c in identifiers if c != id_column]
    if not identifiers:
        # reference fallback seq_len (star_transformer.R:27-30); the scalable
        # equivalent is a partition-local monotonic id (no global sort)
        df = df.withColumn("record_id", F.monotonically_increasing_id())
        identifiers = ["record_id"]

    values = dimension_values(df, dims)
    dimensions = {c: build_dimension_table(df, c, values[c]) for c in dims}

    fact_cols = identifiers + measures + dims + audits
    fact = df.select(*fact_cols)
    # numeric coercion, null-on-fail (as.numeric parity, ANSI-safe).
    # r12: a measure that is ALREADY numeric keeps its type — an
    # XSD-typed decimal/bigint (sources.xml_source.apply_xsd_types)
    # must not be silently widened back to double
    for m in measures:
        if not isinstance(fact.schema[m].dataType, T.NumericType):
            fact = fact.withColumn(m, F.col(m).try_cast("double"))
    if not measures:
        # default count measure (reference A6, star_transformer.R:82-86)
        fact = fact.withColumn("record_count", F.lit(1))

    # attach surrogate keys by map lookup on the dim value columns
    fact = fact.select(
        "*",
        *[
            _key_lookup(c, df.schema[c].dataType, values[c]).alias(f"{c}_key")
            for c in dims
        ],
    )
    # drop the dimension value columns from the fact (reference P2)
    fact = fact.drop(*dims)

    if include_audit:
        fact = (
            fact.withColumn("load_date", F.current_date())
            .withColumn("load_time", F.date_format(F.current_timestamp(), "HH:mm:ss"))
            .withColumn("batch_id", F.lit(batch_id or uuid.uuid4().hex))
        )
    return StarSchema(fact=fact, dimensions=dimensions)


def aggregate_fact_data(
    star: StarSchema,
    group_keys: list[str],
    measures: list[str],
) -> DataFrame:
    """Grouped {col}_{fn} rollup of the fact (reference aggregate_fact_data)."""
    from xml_to_parquet_spark.operators.aggregation import grouped_multi_agg

    return grouped_multi_agg(star.fact, group_keys, measures)


def validate_star_schema(star: StarSchema) -> dict[str, list[str]]:
    """Integrity checks (reference validate_star_schema_integrity):
    non-empty fact, non-empty dims, unique surrogate keys, no orphan FKs.

    Returns {check: [issues...]}; empty lists = pass. Runs Spark-side counts
    (fixes reference quirk 2 — no driver-mutated counters).
    """
    issues: dict[str, list[str]] = {"fact": [], "dimensions": []}
    if star.fact.isEmpty():
        issues["fact"].append("fact table is empty")
    for name, dim in star.dimensions.items():
        key = f"{name}_key"
        total, distinct_keys = (
            dim.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col(key)).alias("d"),
            )
            .collect()[0]
        )
        if total == 0:
            issues["dimensions"].append(f"dim_{name} is empty")
        elif total != distinct_keys:
            issues["dimensions"].append(
                f"dim_{name} has duplicate surrogate keys ({total} rows, "
                f"{distinct_keys} distinct)"
            )
    return issues
