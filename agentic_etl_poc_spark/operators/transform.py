"""SQL transform stage: temp views + lazy ``spark.sql`` chaining.

The reference materializes every step back to pandas eagerly (reference:
etl_agent/templates.py:108,119 — ``con.execute(sql).df()`` per step).
Here each step just registers a temp view; Catalyst fuses the whole chain
into one optimized plan, collapsing projections across steps and pushing
filters into the scan — nothing materializes until the DQ gate or sink
acts (SURVEY §1.2 calls this the deliberate improvement).

``python_udf`` reproduces the reference's pandas-eval expression UDF
(reference: etl_agent/tools.py:67-72) via Catalyst ``expr`` — arithmetic /
comparison / boolean expressions over columns stay JVM-side, codegen'd;
no Python round trip at all.  For genuinely-Python per-row logic use
``map_rows`` (one Arrow-batched ``mapInPandas`` loop shared by every
per-row kernel), never a row-at-a-time Python UDF.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from agentic_etl_poc_spark.functions.dialect import rewrite_duckdb_sql
from agentic_etl_poc_spark.plans.model import TransformStep


def run_steps(
    spark: SparkSession,
    steps: list[TransformStep],
    dialect_rewrite: bool = True,
) -> DataFrame:
    """Run transform.steps: each step's output is registered under its name
    so later steps can reference earlier ones; the last step's frame is the
    pipeline output (reference: etl_agent/templates.py:99-113)."""
    if not steps:
        raise ValueError("transform.steps is empty")
    out: DataFrame | None = None
    for st in steps:
        sql = rewrite_duckdb_sql(st.sql) if dialect_rewrite else st.sql
        out = spark.sql(sql)
        out.createOrReplaceTempView(st.name)
    return out


def run_single_sql(
    spark: SparkSession, sql: str, dialect_rewrite: bool = True
) -> DataFrame:
    """Back-compat single-SQL transform over the registered source views
    (reference: etl_agent/templates.py:115-121)."""
    if dialect_rewrite:
        sql = rewrite_duckdb_sql(sql)
    return spark.sql(sql)


def python_udf(df: DataFrame, expression: str, new_col: str) -> DataFrame:
    """Row-wise expression column (pandas ``DataFrame.eval`` surface) —
    compiled to a Catalyst expression, fully JVM-side."""
    return df.withColumn(new_col, F.expr(expression))


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """The escape hatch for real Python logic: ``fn(*row)`` runs once per
    row of ``df`` (columns in ``df``'s order) and returns an iterable of
    output tuples in ``schema``'s column order — one for a 1->1 kernel,
    several to explode a row, none to drop it.  Arrow-batched through
    ``mapInPandas``: each input batch becomes one pandas frame.  The
    column names are parsed from the DDL ``schema`` once, on the driver."""
    names = StructType.fromDDL(schema).names

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = [
                out
                for row in pdf.itertuples(index=False, name=None)
                for out in fn(*row)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema=schema)
