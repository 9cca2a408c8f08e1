"""Semi-structured flattening (SURVEY §2 A4-A6, B14; spec
``Stream_Analytics_Platform.md:88``).

Generalizes the reference's hand-written 24-column flatten of
transactions (``etl_job.py:31-64``: explode ``line_items``, dot-path
select of ``item.*`` and ``billing_address.*`` with aliases) into
reusable operators: a recursive struct flattener, array explode
helpers, and JSON-string parsing.

All pure projections/generators — Catalyst prunes unreferenced nested
fields down to the parquet/JSON scan (schema pruning), so flattening
wide structs stays cheap at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


def flatten_struct(df: DataFrame, sep: str = "_", max_depth: int = 10) -> DataFrame:
    """Recursively flatten all struct columns: ``a.b.c`` → ``a_b_c``.

    Arrays are left intact (use explode_array first if row-per-element
    is wanted). Single projection per nesting level.
    """
    out = df
    for _ in range(max_depth):
        struct_cols = [
            f.name for f in out.schema.fields if isinstance(f.dataType, StructType)
        ]
        if not struct_cols:
            break
        cols: list[Column] = []
        for field in out.schema.fields:
            if isinstance(field.dataType, StructType):
                cols.extend(
                    F.col(f"`{field.name}`.`{sub.name}`").alias(
                        f"{field.name}{sep}{sub.name}"
                    )
                    for sub in field.dataType.fields
                )
            else:
                cols.append(F.col(f"`{field.name}`"))
        out = out.select(*cols)
    return out


def explode_array(
    df: DataFrame, array_col: str, out: str = "item", keep_empty: bool = False
) -> DataFrame:
    """One output row per array element (A4, ``etl_job.py:29``).

    ``keep_empty=True`` uses ``explode_outer`` so rows with null/empty
    arrays survive with a null element (the reference's inner explode
    silently drops them — SURVEY §2 A4).
    """
    fn = F.explode_outer if keep_empty else F.explode
    return df.withColumn(out, fn(F.col(array_col))).drop(array_col)


def parse_json_column(
    df: DataFrame, json_col: str, schema: StructType | ArrayType | str,
    out: str | None = None,
) -> DataFrame:
    """Parse a JSON-string column into typed nested columns (B14).

    Bronze keeps the raw string (VARIANT parity, SURVEY §1.5); silver
    calls this with an explicit schema. PERMISSIVE by default: a
    malformed row yields nulls rather than failing the job.
    """
    return df.withColumn(out or json_col, F.from_json(F.col(json_col), schema))
