"""Schema normalization: heterogeneous source → canonical columns.

Reimplements the reference's alias-resolve/cast/default projection
(src/ingest.py:27-44) as a single Catalyst ``select``:

- first candidate source column present in the frame wins (candidate order:
  canonical name, then aliases);
- present → ``cast(target_type).alias(target_name)``;
- absent with a declared default → ``lit(default)`` cast;
- absent and nullable → typed ``lit(NULL)``;
- absent and required → **warn and drop the column** (the reference warns and
  omits rather than failing the file, src/ingest.py:40-42).

One projection node; Catalyst folds the literals and prunes the source scan to
exactly the matched columns.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gridiron_spark.schema.registry import TableSchema

log = logging.getLogger(__name__)

_INTEGRAL = {"bigint", "int", "smallint", "tinyint"}


def _permissive_cast(col, target) -> "F.Column":
    """Permissive cast matching the reference's ``ignore_errors=True`` CSV
    contract (src/ingest.py:23): malformed values become NULL, never a job
    failure (Spark 4 runs ANSI mode by default, where plain cast throws).

    Integral targets route through double first: tracking CSVs carry
    float-formatted ids like ``"4365.0"`` (FIXTURES.md §1), which a direct
    string→int cast rejects but float→int truncates. CSV ingest reads every
    column as text, so the source text is always what gets cast here.
    """
    if target.simpleString() in _INTEGRAL:
        return col.try_cast("double").try_cast(target)
    return col.try_cast(target)


def normalize(df: DataFrame, schema: TableSchema) -> DataFrame:
    """Project ``df`` onto the canonical schema. Case-sensitive candidate
    match first (exact spelling is an alias contract), then case-insensitive
    fallback (CSV headers vary in casing across competition years)."""
    source_cols = df.columns
    lower_map = {}
    for c in source_cols:
        lower_map.setdefault(c.lower(), c)

    exprs = []
    dropped: list[str] = []
    for col in schema.columns:
        src = next((c for c in col.candidates if c in source_cols), None)
        if src is None:
            src = next(
                (lower_map[c.lower()] for c in col.candidates if c.lower() in lower_map),
                None,
            )
        if src is not None:
            e = _permissive_cast(F.col(src), col.spark_type)
            if col.min_value is not None or col.max_value is not None:
                # declared range (unsigned-widening contract): out-of-range
                # values null out, mirroring the permissive-cast behavior —
                # one extra CASE in the same projection, still codegen'd.
                cond = F.lit(True)
                if col.min_value is not None:
                    cond = cond & (e >= F.lit(col.min_value))
                if col.max_value is not None:
                    cond = cond & (e <= F.lit(col.max_value))
                e = F.when(cond, e)
            exprs.append(e.alias(col.name))
        elif col.default is not None:
            exprs.append(F.lit(col.default).cast(col.spark_type).alias(col.name))
        elif col.nullable:
            exprs.append(F.lit(None).cast(col.spark_type).alias(col.name))
        else:
            dropped.append(col.name)

    if dropped:
        log.warning(
            "normalize(%s): required columns missing from source and dropped: %s",
            schema.name,
            ", ".join(dropped),
        )
    return df.select(*exprs)
