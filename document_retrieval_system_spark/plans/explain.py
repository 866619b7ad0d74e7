"""Helpers to inspect physical plans — used by tests that pin down the
scan-level properties a 100 TB deployment depends on:

- term filters reach the Parquet scan (PushedFilters), so a query touches
  only the row groups of its query terms (the moral equivalent of the
  reference's dict lookup, indexer.py:145-155);
- column pruning keeps pos_bytes out of BM25 scans (ReadSchema);
- partition pruning limits scans to the shards requested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> str:
    plan = formatted_plan(df)
    return "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)


def read_schemas(df: DataFrame) -> str:
    plan = formatted_plan(df)
    return "\n".join(l for l in plan.splitlines() if "ReadSchema" in l)
