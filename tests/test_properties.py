"""Property-style invariants (SURVEY §5.8): results must not depend on
physical layout — verdicts invariant under repartitioning; salted dedup
equals naive dedup (also covered in test_table_rules)."""

from __future__ import annotations

from pyspark.sql import functions as F

from slower_whisper_spark import ConstraintSuite, NotNull, Pattern, Unique

LANG_RE = r"^[a-z]{2}(-[A-Z]{2})?$"


def _suite():
    return ConstraintSuite(
        "prop", [NotNull("url"), Pattern("lang", LANG_RE), Unique("url")]
    )


def _verdict_key(res):
    pdf = res.verdicts.toPandas().sort_values(["partition", "rule_id"]).reset_index(drop=True)
    return list(zip(pdf["partition"], pdf["rule_id"], pdf["passed"], pdf["violations"]))


def test_verdicts_invariant_under_repartitioning(docs_small):
    docs, _, _ = docs_small
    base = _suite().validate(docs, key_col="url", partition_col="warc_day")
    k0 = _verdict_key(base)
    for layout in [docs.repartition(3), docs.repartition(57, "lang"), docs.coalesce(1)]:
        res = _suite().validate(layout, key_col="url", partition_col="warc_day")
        assert _verdict_key(res) == k0


def test_violations_set_invariant_under_repartitioning(docs_small):
    docs, _, _ = docs_small
    lim = 10_000
    base = _suite().validate(docs, key_col="url", partition_col="warc_day", violation_limit=lim)
    s0 = {tuple(r) for r in base.violations.toPandas().itertuples(index=False)}
    res = _suite().validate(
        docs.repartition(7), key_col="url", partition_col="warc_day", violation_limit=lim
    )
    s1 = {tuple(r) for r in res.violations.toPandas().itertuples(index=False)}
    assert s0 == s1


def test_suite_hash_independent_of_rule_construction_site(docs_small):
    a = _suite()
    b = _suite()
    assert a.suite_hash == b.suite_hash


def test_violation_limit_first_n_by_key(docs_small):
    """The two-level violation limit (per-partition top-k in pass 1 → global
    cap) must still return exactly the first N violating keys per rule."""
    docs, _, _ = docs_small
    lim = 5
    # a limit of the table's row count keeps every violation row
    full = ConstraintSuite("lim", [NotNull("url"), Pattern("lang", LANG_RE)]).validate(
        docs, key_col="url", partition_col="warc_day", violation_limit=docs.count()
    )
    fv = full.violations.toPandas()
    capped = ConstraintSuite("lim", [NotNull("url"), Pattern("lang", LANG_RE)]).validate(
        docs.repartition(13), key_col="url", partition_col="warc_day", violation_limit=lim
    )
    cv = capped.violations.toPandas()
    for rid, grp in cv.groupby("rule_id"):
        expect = sorted(fv[fv["rule_id"] == rid]["key"])[:lim]
        assert sorted(grp["key"]) == expect


def test_suite_hash_ignores_spec_format_marker():
    """spec_format is a serialization marker, not semantics: bumping it must
    NOT change suite_hash (which would force a one-time re-validation of
    every checkpointed partition and break lockfile hash-matches). A v1-era
    spec without the key hashes identically."""
    from slower_whisper_spark.functions.hashing import canonical_hash, spec_hash

    s = _suite()
    spec = s.spec()
    assert spec["spec_format"] == 2
    legacy = {k: v for k, v in spec.items() if k != "spec_format"}
    assert s.suite_hash == spec_hash(spec) == canonical_hash(legacy)
    # but semantic changes still change the hash
    bumped = dict(spec)
    bumped["version"] = spec["version"] + 1
    assert spec_hash(bumped) != s.suite_hash
