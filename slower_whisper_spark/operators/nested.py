"""Explode helper for nested arrays-of-structs.

The child-table half of nested validation (rules/nested.py holds the
zero-shuffle HOF half): flatten ``parent(key, segments[])`` into one row per
element — ``(key, pos, <element fields...>)`` — so ANY ConstraintSuite or
aggregate runs at element grain; validating with ``partition_col="key"``
attributes the verdicts back to the parent key.

Reference semantics: per-segment / per-word contracts and rollups
(ref: transcription/models.py:524-579, transcription/turns.py:46-148).

Scale notes: ``posexplode`` is narrow (no shuffle) — the child table
inherits the parent's partitioning, so a suite over it shuffles exactly as
it would over a flat table of the same size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def explode_child(
    df: DataFrame,
    *,
    key_col: str,
    array_col: str,
    keep_cols: list[str] | None = None,
    outer: bool = False,
) -> DataFrame:
    """One row per element of ``array_col``: (key, pos, *element fields).

    Struct elements are flattened to top-level columns; scalar elements land
    in a single ``value`` column. ``outer=True`` keeps parents with
    empty/null arrays (pos/value NULL) — the validate-presence case."""
    explode = F.posexplode_outer if outer else F.posexplode
    base = [F.col(key_col).alias("key")] + [F.col(c) for c in (keep_cols or [])]
    out = df.select(*base, explode(F.col(array_col)).alias("pos", "__elem"))
    elem_type = df.schema[array_col].dataType
    if isinstance(elem_type, T.ArrayType) and isinstance(elem_type.elementType, T.StructType):
        fields = [F.col(f"__elem.{f.name}").alias(f.name) for f in elem_type.elementType.fields]
        return out.select("key", *(keep_cols or []), "pos", *fields)
    return out.select("key", *(keep_cols or []), "pos", F.col("__elem").alias("value"))
