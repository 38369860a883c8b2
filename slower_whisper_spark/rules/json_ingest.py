"""JSON-ingest validation: ``from_json`` + corrupt-record routing, open-key
MapType rules, and discriminated-union payload checks.

SURVEY §1.2 maps the reference's JSON-Schema atoms with no columnar analog to
ingest-time enforcement:

* ``additionalProperties: false`` on a typed object → parse with an explicit
  struct schema; anything unparseable routes to ``_corrupt_record``
  (``JsonParsable``). The reference rejects undeclared keys at parse time
  (ref: transcription/schemas/stream_event.schema.json:18 —
  ``additionalProperties: false`` at the envelope).
* open-key objects (maps of unknown keys) → ``MapType`` columns with
  key-membership and value-range rules (``MapKeysAllowed``,
  ``MapValueRange``).
* the 14-type discriminated union (``if type == X then payload matches P_X``,
  ref: stream_event.schema.json:54-195) → ``DiscriminatedUnion``: a CASE
  chain of per-type payload predicates; an undeclared type value FAILS.

All predicates are Spark SQL expressions (zero per-row Python); each rule is
a ``RowRule``, so it folds into the suite's single wide pass-1 aggregate next
to NotNull/Pattern/..., which also yields its violation rows.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slower_whisper_spark.rules.base import RowRule, _str

CORRUPT_COL = "_corrupt_record"


def parse_json_column(
    df: DataFrame,
    json_col: str,
    schema_ddl: str,
    *,
    parsed_col: str = "parsed",
    corrupt_col: str = CORRUPT_COL,
) -> DataFrame:
    """PERMISSIVE-parse a JSON string column against a struct DDL schema,
    routing malformed rows to ``corrupt_col`` inside the parsed struct
    (Spark's columnNameOfCorruptRecord contract: the corrupt field holds the
    raw text when parsing failed, NULL otherwise). One projection, JVM-side.

    ``schema_ddl`` example: ``"k INT, name STRING"`` — the declared fields;
    the corrupt field is appended automatically."""
    full = f"{schema_ddl}, {corrupt_col} STRING"
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col}
    return df.withColumn(parsed_col, F.from_json(F.col(json_col), full, opts))


class JsonParsable(RowRule):
    """Row passes iff its JSON column parses against the declared schema.

    The predicate re-derives the corrupt field from the raw column, so the
    rule works whether or not the caller already ran ``parse_json_column``
    (Catalyst subexpression elimination dedups the parse within a
    projection). NULL input fails unless ``allow_null``."""

    def __init__(
        self,
        column: str,
        schema_ddl: str,
        rule_id: str | None = None,
        allow_null: bool = False,
    ):
        self.column = column
        self.schema_ddl = schema_ddl
        self.allow_null = allow_null
        self.rule_id = rule_id or f"json_parsable({column})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "json_parsable",
            "column": self.column,
            "schema_ddl": self.schema_ddl,
            "allow_null": self.allow_null,
            "rule_id": self.rule_id,
        }

    def _corrupt(self) -> Column:
        full = f"{self.schema_ddl}, {CORRUPT_COL} STRING"
        opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
        return F.from_json(F.col(self.column), full, opts)[CORRUPT_COL]

    def predicate(self) -> Column:
        return F.when(F.col(self.column).isNull(), F.lit(bool(self.allow_null))).otherwise(
            self._corrupt().isNull()
        )

    def observed(self) -> Column:
        return F.coalesce(F.substring(F.col(self.column), 1, 80), F.lit("NULL"))

    def expected(self) -> Column:
        return F.lit(f"JSON matching ({self.schema_ddl})")


class MapKeysAllowed(RowRule):
    """Open-key object rule: every key of a MapType column (or map-typed SQL
    expression, e.g. ``from_json(props, 'map<string,int>')``) must be in the
    allowed set — JSON-Schema ``additionalProperties: false`` for objects
    ingested as maps. NULL map passes when ``allow_null`` (a separate
    JsonParsable/NotNull owns that failure)."""

    def __init__(
        self,
        map_expr: str,
        allowed_keys: list[str],
        rule_id: str | None = None,
        allow_null: bool = True,
    ):
        self.map_expr = map_expr
        self.allowed_keys = sorted(allowed_keys)
        self.allow_null = allow_null
        self.rule_id = rule_id or f"map_keys({map_expr})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "map_keys_allowed",
            "map_expr": self.map_expr,
            "allowed_keys": self.allowed_keys,
            "allow_null": self.allow_null,
            "rule_id": self.rule_id,
        }

    def _extra_keys(self) -> Column:
        m = F.expr(self.map_expr)
        return F.array_except(F.map_keys(m), F.array(*[F.lit(k) for k in self.allowed_keys]))

    def predicate(self) -> Column:
        m = F.expr(self.map_expr)
        return F.when(m.isNull(), F.lit(bool(self.allow_null))).otherwise(
            F.coalesce(F.size(self._extra_keys()) == 0, F.lit(False))
        )

    def observed(self) -> Column:
        return _str(F.concat_ws(",", F.sort_array(self._extra_keys())))

    def expected(self) -> Column:
        return F.lit(f"keys within {{{','.join(self.allowed_keys)}}}")


class MapValueRange(RowRule):
    """Every value of a map must lie in [min_value, max_value] (either bound
    optional): JSON-Schema ``additionalProperties: {minimum, maximum}`` for
    open-key objects. Expressed as a forall higher-order function — no
    explode, no shuffle."""

    def __init__(
        self,
        map_expr: str,
        min_value: float | None = None,
        max_value: float | None = None,
        rule_id: str | None = None,
        allow_null: bool = True,
    ):
        if min_value is None and max_value is None:
            raise ValueError("at least one bound required")
        self.map_expr = map_expr
        self.min_value = min_value
        self.max_value = max_value
        self.allow_null = allow_null
        self.rule_id = rule_id or f"map_values({map_expr})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "map_value_range",
            "map_expr": self.map_expr,
            "min": self.min_value,
            "max": self.max_value,
            "allow_null": self.allow_null,
            "rule_id": self.rule_id,
        }

    def _in_range(self, v: Column) -> Column:
        conds = F.lit(True)
        if self.min_value is not None:
            conds = conds & (v >= F.lit(self.min_value))
        if self.max_value is not None:
            conds = conds & (v <= F.lit(self.max_value))
        return F.coalesce(conds, F.lit(False))  # NULL value inside the map fails

    def predicate(self) -> Column:
        m = F.expr(self.map_expr)
        ok = F.forall(F.map_values(m), self._in_range)
        return F.when(m.isNull(), F.lit(bool(self.allow_null))).otherwise(
            F.coalesce(ok, F.lit(False))
        )

    def observed(self) -> Column:
        m = F.expr(self.map_expr)
        bad = F.filter(F.map_values(m), lambda v: ~self._in_range(v))
        return _str(F.concat_ws(",", bad))

    def expected(self) -> Column:
        return F.lit(f"map values in [{self.min_value}, {self.max_value}]")


class DiscriminatedUnion(RowRule):
    """``if type == X then payload matches P_X`` over a type-tag column — the
    reference's 14-variant stream-event contract
    (ref: stream_event.schema.json:54-195) as ONE case-chain predicate:

    * a type value not declared in ``branches`` FAILS (closed union);
    * a declared type passes iff its branch predicate (a SQL expression
      string over the row, e.g. payload field checks) holds;
    * a branch of ``None``/"true" means the variant has no extra payload
      constraint.

    The whole union evaluates in the single pass-1 scan — 14 variants cost
    one CASE expression, not 14 jobs."""

    def __init__(
        self,
        type_col: str,
        branches: dict[str, str | None],
        rule_id: str | None = None,
        allow_null_type: bool = False,
    ):
        self.type_col = type_col
        self.branches = {k: (v if v is not None else "true") for k, v in branches.items()}
        self.allow_null_type = allow_null_type
        self.rule_id = rule_id or f"union({type_col})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "discriminated_union",
            "type_col": self.type_col,
            "branches": dict(sorted(self.branches.items())),
            "allow_null_type": self.allow_null_type,
            "rule_id": self.rule_id,
        }

    def predicate(self) -> Column:
        t = F.col(self.type_col)
        chain: Column | None = None
        for tval, expr in sorted(self.branches.items()):
            cond = t == F.lit(tval)
            branch_ok = F.coalesce(F.expr(expr), F.lit(False))
            chain = F.when(cond, branch_ok) if chain is None else chain.when(cond, branch_ok)
        assert chain is not None, "discriminated union needs at least one branch"
        closed = chain.otherwise(F.lit(False))  # undeclared type value fails
        return F.when(t.isNull(), F.lit(bool(self.allow_null_type))).otherwise(closed)

    def observed(self) -> Column:
        return _str(F.col(self.type_col))

    def expected(self) -> Column:
        return F.lit(f"one of {{{','.join(sorted(self.branches))}}} with valid payload")
