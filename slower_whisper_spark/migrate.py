"""Suite-version detection and migration.

Mirrors the reference's migration machinery
(ref: transcription/schema/migration.py:19-156 — a registry of
``MigrationPath(from, to, func, description)``; ``detect_version`` with a v1
heuristic; ``auto_migrate`` chaining detect → migrate). Suites are pure
metadata, so migration never touches Spark — it rewrites the suite-spec dict
and the engine recompiles it.

Spec format v1 (legacy, hypothetical prior tool): rules keyed by ``checks``
with ``kind`` field. v2 (current): ``rules`` with ``type`` field as emitted
by ``ConstraintSuite.spec()``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable


class SuiteVersionError(ValueError):
    pass


@dataclass(frozen=True)
class MigrationPath:
    from_version: int
    to_version: int
    func: Callable[[dict[str, Any]], dict[str, Any]]
    description: str


class MigrationRegistry:
    def __init__(self):
        self._paths: dict[tuple[int, int], MigrationPath] = {}

    def register(self, path: MigrationPath) -> None:
        self._paths[(path.from_version, path.to_version)] = path

    def get(self, from_version: int, to_version: int) -> MigrationPath:
        key = (from_version, to_version)
        if key not in self._paths:
            raise SuiteVersionError(f"no migration path {from_version} -> {to_version}")
        return self._paths[key]

    def migrate(self, spec: dict[str, Any], to_version: int) -> dict[str, Any]:
        cur = detect_version(spec)
        out = dict(spec)
        while cur < to_version:
            # single-step chaining: always try cur -> cur+1
            path = self.get(cur, cur + 1)
            out = path.func(out)
            cur = cur + 1
        return out


def detect_version(spec: dict[str, Any]) -> int:
    """Spec FORMAT version — distinct from the suite's own semantic
    ``version`` number: a suite at version 1 whose spec already uses the
    ``rules`` key is FORMAT v2 and must not be mangled by the v1→v2
    migration (which reads ``checks``). Precedence:

    1. an explicit ``spec_format`` field (emitted by ``ConstraintSuite.spec``
       since format 2) — so a future format 3 that still carries a ``rules``
       key is NOT misdetected as 2 (ADVICE r2);
    2. structure (``rules`` ⇒ 2, ``checks`` ⇒ 1) — disambiguates the known
       v1-semantic-version-vs-format collision for old lockfiles written
       before ``spec_format`` existed;
    3. the explicit ``version`` field, only for rule-less specs
    (ref detect shape: transcription/schema/migration.py:159-195)."""
    if "spec_format" in spec and isinstance(spec["spec_format"], int):
        fmt = spec["spec_format"]
        if fmt >= 2 and "checks" in spec and "rules" not in spec:
            raise SuiteVersionError(
                f"spec_format={fmt} conflicts with v1 'checks' structure"
            )
        return fmt
    if "rules" in spec:
        return 2
    if "checks" in spec:
        return 1
    if "version" in spec and isinstance(spec["version"], int):
        return spec["version"]
    raise SuiteVersionError("cannot detect suite version")


def _migrate_v1_to_v2(spec: dict[str, Any]) -> dict[str, Any]:
    """v1 'checks' (kind/col/args) → v2 'rules' (type/column/...). Keeps the
    suite name, stamps version=2, defaults missing fields — the defaulting
    discipline of migrate_v1_to_v2 (ref: migration.py:198-273)."""
    kind_map = {
        "required": "not_null",
        "regex": "pattern",
        "in_set": "enum",
        "bounds": "range",
    }
    rules = []
    for ch in spec.get("checks", []):
        kind = ch.get("kind")
        rtype = kind_map.get(kind, kind)
        rule: dict[str, Any] = {"type": rtype, "column": ch.get("col") or ch.get("column")}
        if rtype == "pattern":
            rule["pattern"] = ch.get("args", {}).get("pattern", ch.get("pattern"))
        if rtype == "enum":
            rule["values"] = sorted(map(str, ch.get("args", {}).get("values", [])))
        if rtype == "range":
            rule["min"] = ch.get("args", {}).get("min")
            rule["max"] = ch.get("args", {}).get("max")
        rule["allow_null"] = bool(ch.get("allow_null", False))
        rule["rule_id"] = ch.get("id") or f"{rtype}({rule['column']})"
        rules.append(rule)
    return {
        "name": spec.get("name", "migrated-suite"),
        "version": 2,
        "spec_format": 2,
        "rules": rules,
    }


DEFAULT_REGISTRY = MigrationRegistry()
DEFAULT_REGISTRY.register(
    MigrationPath(1, 2, _migrate_v1_to_v2, "v1 checks[] -> v2 rules[]")
)


def auto_migrate(spec: dict[str, Any], to_version: int = 2) -> dict[str, Any]:
    return DEFAULT_REGISTRY.migrate(spec, to_version)


def _build_unique(r: dict[str, Any]):
    from slower_whisper_spark.rules import Unique

    # a stored salt is ignored: it never changed the groups
    return Unique(r["column"], rule_id=r.get("rule_id"))


def _build_drift(r: dict[str, Any]):
    from slower_whisper_spark.rules.drift import Baseline, Drift

    return Drift(
        r["column"],
        Baseline.from_dict(r["baseline"]),
        metric=r.get("metric", "psi"),
        threshold=r.get("threshold", 0.25),
        min_rows=r.get("min_rows", 100),
        rule_id=r.get("rule_id"),
    )


def _build_extraction(r: dict):
    from slower_whisper_spark.rules.invariant import ExtractionInvariant

    return ExtractionInvariant(
        html_col=r.get("html_column", "html"),
        text_col=r.get("text_column", "text"),
        from_binary=r.get("from_binary", True),
        rule_id=r.get("rule_id"),
    )


def _build_quality(r: dict[str, Any]):
    from slower_whisper_spark.rules.quality import Quality

    return Quality(
        r["kind"],
        column=r.get("column", "text"),
        value=r.get("value"),
        langs=tuple(r.get("langs", ("en",))),
        rule_id=r.get("rule_id"),
    )


def _json_rules():
    import slower_whisper_spark.rules.json_ingest as m

    return m


def suite_from_spec(spec: dict[str, Any]):
    """Recompile a v2 spec dict into a live ConstraintSuite (inverse of
    ``ConstraintSuite.spec()`` for the schema/row rule families)."""
    from slower_whisper_spark.rules import (
        Conditional,
        Const,
        Enum,
        Expr,
        Length,
        Nested,
        NotNull,
        Pattern,
        Range,
        TypeCheck,
    )
    from slower_whisper_spark.suite import ConstraintSuite

    builders: dict[str, Callable[[dict[str, Any]], Any]] = {
        "not_null": lambda r: NotNull(r["column"], rule_id=r.get("rule_id")),
        "const": lambda r: Const(r["column"], r["value"], rule_id=r.get("rule_id"), allow_null=r.get("allow_null", False)),
        "enum": lambda r: Enum(r["column"], r["values"], rule_id=r.get("rule_id"), allow_null=r.get("allow_null", False)),
        "pattern": lambda r: Pattern(r["column"], r["pattern"], rule_id=r.get("rule_id"), allow_null=r.get("allow_null", False)),
        "range": lambda r: Range(r["column"], min=r.get("min"), max=r.get("max"), rule_id=r.get("rule_id"), allow_null=r.get("allow_null", False)),
        "length": lambda r: Length(r["column"], min=r.get("min"), max=r.get("max"), kind=r.get("kind", "string"), rule_id=r.get("rule_id"), allow_null=r.get("allow_null", False)),
        "type_check": lambda r: TypeCheck(r["column"], r["dtype"], rule_id=r.get("rule_id"), allow_null=r.get("allow_null", False)),
        "nested": lambda r: Nested(r["column"], r["element_predicate"], rule_id=r.get("rule_id"), allow_null=r.get("allow_null", False), min_size=r.get("min_size"), max_size=r.get("max_size")),
        "expr": lambda r: Expr(r["predicate"], rule_id=r["rule_id"], observed_expr=r.get("observed"), expected=r.get("expected")),
        "quality": lambda r: _build_quality(r),
        "conditional": lambda r: Conditional(r["when"], r["then"], rule_id=r["rule_id"], observed_expr=r.get("observed")),
        "unique": lambda r: _build_unique(r),
        "drift": lambda r: _build_drift(r),
        "extraction_invariant": lambda r: _build_extraction(r),
        "json_parsable": lambda r: _json_rules().JsonParsable(r["column"], r["schema_ddl"], rule_id=r.get("rule_id"), allow_null=r.get("allow_null", False)),
        "map_keys_allowed": lambda r: _json_rules().MapKeysAllowed(r["map_expr"], r["allowed_keys"], rule_id=r.get("rule_id"), allow_null=r.get("allow_null", True)),
        "map_value_range": lambda r: _json_rules().MapValueRange(r["map_expr"], min_value=r.get("min"), max_value=r.get("max"), rule_id=r.get("rule_id"), allow_null=r.get("allow_null", True)),
        "discriminated_union": lambda r: _json_rules().DiscriminatedUnion(r["type_col"], r["branches"], rule_id=r.get("rule_id"), allow_null_type=r.get("allow_null_type", False)),
    }
    rules = []
    for r in spec.get("rules", []):
        rtype = r.get("type")
        if rtype not in builders:
            raise SuiteVersionError(f"cannot build rule type {rtype!r} from spec")
        rules.append(builders[rtype](r))
    return ConstraintSuite(spec.get("name", "suite"), rules, version=spec.get("version", 2))
