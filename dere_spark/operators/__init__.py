"""Relational operators of the engine.

Constant expressions are built as SQL text (``F.expr`` / ``selectExpr``)
rather than nested Column API calls: each Column call is one py4j round
trip from Python to the JVM, while an SQL string is parsed JVM-side in one.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal (backslashes and single
    quotes escaped, so regex patterns pass through verbatim)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def string_table(
    spark: SparkSession, columns: Sequence[str], rows: Sequence[Sequence[str]]
) -> DataFrame:
    """A small constant table of strings as an inline SQL ``VALUES``
    relation: a LocalRelation broadcast straight from the JVM, where
    ``createDataFrame`` would build an RDD that needs a Python worker job
    and dozens of py4j round trips."""
    names = ", ".join(f"`{c}`" for c in columns)
    if not rows:
        nulls = ", ".join("CAST(NULL AS STRING)" for _ in columns)
        return spark.sql(f"SELECT * FROM VALUES ({nulls}) AS t({names}) WHERE false")
    values = ", ".join("(" + ", ".join(sql_str(v) for v in row) + ")" for row in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names})")
