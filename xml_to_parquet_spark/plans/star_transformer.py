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
- each dimension's values become one literal array; the dimension table
  is that array ``posexplode``d (key = pos + 1), so writing it is its
  only job and never re-reads the input
- the fact gets ``<c>_key`` from a constant-folded map lookup
  (``try_element_at(map_from_arrays(values, sequence(1, n)), c)``): no
  join, no broadcast, no exchange — the fact stays one narrow pass over
  its input
- measures cast with try_cast (null-on-fail, ANSI-safe) — JVM codegen path
- the fact is ONE select whose columns are SQL text (``sql_text``), and
  each value is one ``lit``: a ``Column`` method costs about ten py4j
  round trips in PySpark's call-site capture, and a ``withColumn`` chain
  re-analyzes the growing plan at every step
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xml_to_parquet_spark.sql_text import ident, string_literal


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
    row = df.selectExpr(
        *[f"array_sort(collect_set({ident(c)}))" for c in cols]
    ).first()
    return {c: row[i] for i, c in enumerate(cols)}


def value_array(values: list, dtype: T.DataType) -> Column:
    """A dimension's sorted values as one literal ``array<dtype>``: one
    ``lit`` per value and a single cast.  It feeds both the dimension
    table and the fact's key lookup."""
    return F.array(*[F.lit(v) for v in values]).cast(T.ArrayType(dtype))


def build_dimension_table(
    spark: SparkSession,
    dim_col: str,
    values: Column,
    include_metadata: bool = True,
) -> DataFrame:
    """Dimension table: (``<col>_key``, value, created_date, is_active).

    ``values`` is the column's sorted distinct values as a literal array
    (``value_array`` over ``dimension_values``); key = position + 1,
    which equals ``surrogate_keys``' dense sorted row_number (reference
    semantics, fixed to be batch-independent).  The table is a literal
    frame: it never re-reads the input.
    """
    rows = spark.range(1, numPartitions=1).select(F.posexplode(values))
    # try_add keeps the key nullable (an optional Parquet column), as a
    # surrogate key from a join is; pos + 1 would be declared non-null
    key = ident(f"{dim_col}_key")
    cols = [f"try_add(pos, 1) AS {key}", f"col AS {ident(dim_col)}"]
    if include_metadata:
        cols += ["current_date() AS created_date", "true AS is_active"]
    return rows.selectExpr(*cols)


def _key_lookup(dim_col: str, values: Column, n: int) -> Column:
    """``<col>_key`` for each row: a constant-folded map from the ``n``
    values to their positions, looked up by value; null for a null value
    (the left join's no-match)."""
    key = f"{dim_col}_key"
    if not n:
        return F.expr(f"CAST(NULL AS INT) AS {ident(key)}")
    keys = F.map_from_arrays(values, F.sequence(F.lit(1), F.lit(n)))
    return F.try_element_at(keys, ident(dim_col)).alias(key)


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
    The fact is one select: identifiers, measures, audit columns, the
    default count measure when there are no measures, the dimension keys
    and the load metadata, in that order.
    """
    schema = df.schema
    by_cls: dict[str, list[str]] = {}
    for col, info in catalog.items():
        if col in schema.names:
            by_cls.setdefault(info["classification"], []).append(col)

    identifiers = by_cls.get("identifier", [])
    measures = by_cls.get("measure", [])
    dims = by_cls.get("dimension", [])
    audits = by_cls.get("audit", [])

    if id_column and id_column in schema.names:
        identifiers = [id_column] + [c for c in identifiers if c != id_column]
    head = [ident(c) for c in identifiers]
    if not identifiers:
        # reference fallback seq_len (star_transformer.R:27-30); the scalable
        # equivalent is a partition-local monotonic id (no global sort)
        head = ["monotonically_increasing_id() AS record_id"]

    values = dimension_values(df, dims)
    arrays = {c: value_array(values[c], schema[c].dataType) for c in dims}
    dimensions = {
        c: build_dimension_table(df.sparkSession, c, arrays[c]) for c in dims
    }

    # numeric coercion, null-on-fail (as.numeric parity, ANSI-safe).
    # r12: a measure that is ALREADY numeric keeps its type — an
    # XSD-typed decimal/bigint (sources.xml_source.apply_xsd_types)
    # must not be silently widened back to double
    for m in measures:
        if isinstance(schema[m].dataType, T.NumericType):
            head.append(ident(m))
        else:
            head.append(f"try_cast({ident(m)} AS DOUBLE) AS {ident(m)}")
    head += [ident(c) for c in audits]
    if not measures:
        # default count measure (reference A6, star_transformer.R:82-86)
        head.append("1 AS record_count")
    # surrogate keys by map lookup on the dimension values, which the
    # fact itself does not carry (reference P2)
    keys = [_key_lookup(c, arrays[c], len(values[c])) for c in dims]
    tail = []
    if include_audit:
        tail = [
            "current_date() AS load_date",
            "date_format(current_timestamp(), 'HH:mm:ss') AS load_time",
            f"{string_literal(batch_id or uuid.uuid4().hex)} AS batch_id",
        ]
    fact = df.select(
        *[F.expr(sql) for sql in head], *keys, *[F.expr(sql) for sql in tail]
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
