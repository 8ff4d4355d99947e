"""Catalyst SQL text for the package's own plans.

PySpark captures a call site for ``F.col`` and for every ``Column``
method (``spark.python.sql.dataFrameDebugging.enabled``, on by default),
which costs about ten py4j round trips per call; a plan assembled from
per-column ``Column`` objects pays that thousands of times.  The same
expressions written as SQL text cost one round trip each inside
``selectExpr``, so the ETL's per-column and per-value plans are built
from text with these helpers.  User code keeps its call sites: the conf
is left at its default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted with backticks
    doubled, so dots, spaces and backticks stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def string_literal(value: str) -> str:
    """``value`` as a SQL string literal for Spark's default parser,
    which reads backslash escapes."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def with_sql_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``df.withColumns`` over SQL text, as one ``selectExpr``: a column
    whose name matches a key (case-insensitively, as the default resolver
    does) is replaced in place, and the other keys are appended in
    order."""
    if not exprs:
        return df
    pending = {name.lower(): (name, sql) for name, sql in exprs.items()}
    out = []
    for c in df.columns:
        name, sql = pending.pop(c.lower(), (None, None))
        out.append(ident(c) if sql is None else f"{sql} AS {ident(name)}")
    out += [f"{sql} AS {ident(name)}" for name, sql in pending.values()]
    return df.selectExpr(*out)
