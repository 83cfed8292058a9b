"""Nested-JSON payload handling (SURVEY §1.1 nested payload table).

The reference's staging contract packs all non-key columns into a
``content`` JSON string next to the primary key and capture timestamp
(reference: pipelines/rj_smtr/tasks.py:1402-1505
``transform_raw_to_nested_structure``; pipelines/utils/utils.py:657-688
``to_json_dataframe``). Downstream SQL parses it back out.

Spark-native: ``to_json(struct(...))`` / ``from_json`` — columnar,
codegen'd, no row-at-a-time Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelines_spark.naming import quote_name


def nest_payload(
    df: DataFrame,
    keys: list[str],
    *,
    content_col: str = "content",
    capture_ts_col: str | None = "timestamp_captura",
) -> DataFrame:
    """Pack all non-key columns into a JSON ``content`` column.

    Payload values are cast to string first (the staging layer is
    all-string by contract, SURVEY §1.2) so JSON formatting is stable
    across engines and re-runs.
    """
    payload = [quote_name(c) for c in df.columns if c not in keys and c != capture_ts_col]
    struct = ", ".join(f"CAST({q} AS STRING) AS {q}" for q in payload)
    out = [*map(quote_name, keys), f"to_json(struct({struct})) AS {quote_name(content_col)}"]
    if capture_ts_col and capture_ts_col in df.columns:
        out.append(quote_name(capture_ts_col))
    return df.selectExpr(*out)


def unnest_payload(
    df: DataFrame, schema: T.StructType | str, content_col: str = "content"
) -> DataFrame:
    """Parse ``content`` back into typed columns (SAFE_CAST semantics:
    unparseable payloads become NULL struct fields)."""
    parsed = F.from_json(F.col(content_col), schema)
    keep = [c for c in df.columns if c != content_col]
    return df.select(*keep, parsed.alias("_payload")).select(*keep, "_payload.*")


def flatten_struct(df: DataFrame, struct_col: str, prefix: str | None = None) -> DataFrame:
    """Flatten one struct column into top-level columns
    (``json_normalize`` equivalent, SURVEY O7)."""
    fields = [f.name for f in df.schema[struct_col].dataType.fields]
    keep = [c for c in df.columns if c != struct_col]
    flat = [
        F.col(f"{struct_col}.{f}").alias(f"{prefix}_{f}" if prefix else f) for f in fields
    ]
    return df.select(*keep, *flat)
