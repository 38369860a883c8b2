"""Unique / ForeignKey / HashInvariant / Drift table rules.

Includes the equivalence proofs SURVEY §7.2 requires: two-phase
uniqueness == naive dropDuplicates; Bloom refint ⊆ exact anti-join refint.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from slower_whisper_spark import ConstraintSuite, ForeignKey, HashInvariant, Unique
from slower_whisper_spark.rules.drift import Baseline, Drift, compute_baseline


# --------------------------------------------------------------------- #
# Unique
# --------------------------------------------------------------------- #
def test_unique_matches_naive_dedup(docs_small):
    docs, _, _ = docs_small
    suite = ConstraintSuite("u", [Unique("url")])
    res = suite.validate(docs, key_col="url", partition_col="warc_day", violation_limit=10_000)

    n_total = docs.count()
    n_distinct = docs.select("url").distinct().count()
    naive_dup_rows = (
        docs.groupBy("url").count().filter("count > 1").agg(F.sum("count")).first()[0] or 0
    )
    assert n_distinct < n_total  # corruption plan guarantees duplicates

    verd = res.verdicts.toPandas()
    assert verd["violations"].sum() == naive_dup_rows
    # unpartitioned: the suite groups by its synthetic '__all' constant
    whole = suite.validate(docs, key_col="url").verdicts.collect()
    assert [(r["partition"], r["violations"]) for r in whole] == [("ALL", naive_dup_rows)]

    viol = res.violations.toPandas()
    dup_keys_naive = {
        r["url"] for r in docs.groupBy("url").count().filter("count > 1").collect()
    }
    assert set(viol["key"]) == dup_keys_naive


def test_unique_clean_column_passes(docs_small):
    docs, _, _ = docs_small
    # synthesize a guaranteed-unique key
    uniq = docs.withColumn("rid", F.monotonically_increasing_id())
    res = ConstraintSuite("u2", [Unique("rid")]).validate(
        uniq, key_col="rid", partition_col="warc_day"
    )
    assert res.overall_passed()


# --------------------------------------------------------------------- #
# ForeignKey
# --------------------------------------------------------------------- #
HOST_EXPR = "parse_url(url, 'HOST')"


def test_fk_broadcast_anti_join(docs_small):
    docs, _, ref = docs_small
    rule = ForeignKey(HOST_EXPR, ref, "host", rule_id="host_known")
    res = ConstraintSuite("fk", [rule]).validate(
        docs, key_col="url", partition_col="warc_day", violation_limit=100_000
    )
    # oracle: exact anti-join via isin on the collected dim
    known = {r["host"] for r in ref.collect()}
    n_bad = docs.filter(~F.expr(HOST_EXPR).isin(list(known))).count()
    assert n_bad > 0  # corruption plan guarantees unknown hosts
    assert res.verdicts.agg(F.sum("violations")).first()[0] == n_bad
    viol = res.violations.toPandas()
    assert (viol["rule_id"] == "host_known").all()
    assert set(viol["observed"]) <= {f"h{i:05d}.example.org" for i in range(100_000)} - known


def test_fk_bloom_reports_only_real_violations(docs_small):
    docs, _, ref = docs_small
    exact = ForeignKey(HOST_EXPR, ref, "host", rule_id="fk_exact")
    bloom = ForeignKey(HOST_EXPR, ref, "host", rule_id="fk_bloom", mode="bloom", fp_rate=1e-4)

    exact_v, _ = exact.evaluate(
        docs, key_col="url", partition_col="warc_day", violation_limit=10**9
    )
    bloom_v, bloom_rows = bloom.evaluate(
        docs, key_col="url", partition_col="warc_day", violation_limit=10**9
    )
    n_exact = exact_v.agg(F.sum("violations")).first()[0] or 0
    n_bloom = bloom_v.agg(F.sum("violations")).first()[0] or 0
    # Bloom can only MISS violations (false positives pass bad rows), never invent them
    assert 0 < n_bloom <= n_exact
    # and at this fp rate it should find essentially all of them
    assert n_bloom >= 0.95 * n_exact


def test_fk_bloom_evaluate_matches_suite_fold(docs_small):
    """Bloom ``evaluate`` and the suite's pass-1 fold test membership with
    one predicate: same failing partitions and counts, and with
    allow_null=False a NULL foreign key is a violation on both paths."""
    docs, _, ref = docs_small
    # no scheme → parse_url(..., 'HOST') is NULL
    df = docs.unionByName(docs.limit(1).withColumn("url", F.lit("no-host-row")))
    rule = ForeignKey(HOST_EXPR, ref, "host", rule_id="fk_bloom_nn", mode="bloom", allow_null=False)
    ev_v, ev_rows = rule.evaluate(
        df, key_col="url", partition_col="warc_day", violation_limit=100_000
    )
    res = ConstraintSuite("bloom", [rule]).validate(
        df, key_col="url", partition_col="warc_day", violation_limit=100_000
    )
    ev = {(r["partition"], r["violations"]) for r in ev_v.collect()}
    folded = {
        (r["partition"], r["violations"])
        for r in res.verdicts.filter(~F.col("passed")).collect()
    }
    assert ev and ev == folded
    assert "no-host-row" in {r["key"] for r in ev_rows.collect()}


def test_fk_bloom_refuses_a_filter_past_sparks_bound(spark, docs_small):
    """The Bloom bits ride in the plan, so the build is held to Spark's own
    runtime-filter bound and points at the broadcast mode past it."""
    docs, _, ref = docs_small
    rule = ForeignKey(HOST_EXPR, ref, "host", rule_id="fk_big", mode="bloom")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "64")
    try:
        with pytest.raises(ValueError, match=re.escape('mode="broadcast"')):
            rule.row_predicate(docs)
    finally:
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")


def test_fk_bloom_empty_dimension_fails_every_key(spark):
    """Spark's Bloom aggregate over no rows yields no filter; an empty
    dimension must still fail every non-NULL key, as the broadcast mode does."""
    fact = spark.createDataFrame(
        [("u1", "a", "p"), ("u2", "b", "p"), ("u3", None, "p")], "url string, fk string, part string"
    )
    dim = spark.createDataFrame([], "host string")
    for mode in ("broadcast", "bloom"):
        rule = ForeignKey("fk", dim, "host", rule_id=f"fk_{mode}", mode=mode)
        verdicts, rows = rule.evaluate(fact, key_col="url", partition_col="part", violation_limit=10)
        assert [r["violations"] for r in verdicts.collect()] == [2], mode
        assert sorted(r["key"] for r in rows.collect()) == ["u1", "u2"], mode


# --------------------------------------------------------------------- #
# HashInvariant
# --------------------------------------------------------------------- #
def test_hash_invariant_detects_exact_mutations(docs_small):
    docs, expected, _ = docs_small
    rule = HashInvariant("text", expected, rule_id="text_bytes")
    res = ConstraintSuite("hi", [rule]).validate(
        docs, key_col="url", partition_col="warc_day", violation_limit=100_000
    )
    # oracle: recompute in-Spark
    n_bad = (
        docs.select("url", F.sha2(F.col("text").cast("binary"), 256).alias("h"))
        .join(expected, "url")
        .filter(F.col("h") != F.col("text_sha256"))
        .count()
    )
    assert n_bad > 0
    assert res.verdicts.agg(F.sum("violations")).first()[0] == n_bad
    viol = res.violations.toPandas()
    assert (viol["observed"] != viol["expected"]).all()


@pytest.mark.parametrize("shuffle_partitions", [1, 8])
def test_hash_invariant_limit_ties_keep_smallest_rows(spark, shuffle_partitions):
    """A duplicated key at the violation_limit boundary keeps its smallest
    (key, observed, expected) rows, whatever the shuffle partitioning."""
    import hashlib

    texts = ["t1", "t2", "z", "m", "b", "y", "q", "w"]
    facts = spark.createDataFrame(
        [("a", texts[0], 0), ("b", texts[1], 1)] + [("c", t, i % 3) for i, t in enumerate(texts[2:])],
        "url string, text string, part int",
    ).repartition(4)
    expected = spark.createDataFrame(
        [(u, "0" * 64) for u in "abc"], "url string, text_sha256 string"
    )
    rule = HashInvariant("text", expected, rule_id="hi", expected_version="v1")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        res = ConstraintSuite("ties", [rule]).validate(
            facts, key_col="url", partition_col="part", violation_limit=4
        )
        got = [(r["key"], r["observed"]) for r in res.violations.orderBy("key", "observed").collect()]
        res.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    def sha(t):
        return hashlib.sha256(t.encode()).hexdigest()

    c_rows = sorted(sha(t) for t in texts[2:])[:2]
    assert got == [("a", sha("t1")), ("b", sha("t2"))] + [("c", h) for h in c_rows]


# --------------------------------------------------------------------- #
# Drift
# --------------------------------------------------------------------- #
def test_drift_in_distribution_passes(docs_small, spark):
    docs, _, _ = docs_small
    base = compute_baseline(docs.withColumn("tl", F.length("text")), "tl", "hist", n_buckets=20)
    rule = Drift("tl", base, metric="psi", threshold=0.25)
    res = ConstraintSuite("d", [rule]).validate(
        docs.withColumn("tl", F.length("text")), key_col="url", partition_col="warc_day"
    )
    verd = res.verdicts.toPandas()
    assert verd["passed"].all()
    # real partitions get a psi stat; the tiny out-of-window day is skipped
    assert (
        verd["observed"].str.startswith("psi=") | verd["observed"].str.startswith("skipped:")
    ).all()
    assert verd["observed"].str.startswith("psi=").sum() >= 30


def test_drift_shifted_distribution_fails(docs_small, spark):
    docs, _, _ = docs_small
    with_len = docs.withColumn("tl", F.length("text"))
    base = compute_baseline(with_len, "tl", "hist", n_buckets=20)
    shifted = docs.withColumn("tl", (F.length("text") * 1.6).cast("long"))
    for metric, thr in [("psi", 0.25), ("ks", 0.1)]:
        rule = Drift("tl", base, metric=metric, threshold=thr)
        res = ConstraintSuite(f"d-{metric}", [rule]).validate(
            shifted, key_col="url", partition_col="warc_day"
        )
        verd = res.verdicts.toPandas()
        scored = verd[~verd["observed"].str.startswith("skipped:")]
        assert len(scored) >= 30 and not scored["passed"].any(), metric


def test_drift_categorical(docs_small, spark):
    docs, _, _ = docs_small
    base = compute_baseline(docs, "lang", "cat")
    ok = ConstraintSuite("dc", [Drift("lang", base, metric="psi", threshold=0.25)]).validate(
        docs, key_col="url", partition_col="warc_day"
    )
    assert ok.verdicts.toPandas()["passed"].all()

    # lang mix flipped → breach
    flipped = docs.withColumn("lang", F.when(F.col("lang") == "en", "zh").otherwise(F.lit("en")))
    bad = ConstraintSuite("dc2", [Drift("lang", base, metric="psi", threshold=0.25)]).validate(
        flipped, key_col="url", partition_col="warc_day"
    )
    bverd = bad.verdicts.toPandas()
    scored = bverd[~bverd["observed"].str.startswith("skipped:")]
    assert len(scored) >= 30 and not scored["passed"].any()


def test_baseline_roundtrip():
    b = Baseline(column="x", kind="hist", counts=[1, 2, 3], lo=0.0, hi=10.0, n_buckets=1)
    assert Baseline.from_dict(b.to_dict()) == b


# --------------------------------------------------------------------- #
# round-2 fixes: null-safe invariant, content fingerprints, salt engage
# --------------------------------------------------------------------- #
def test_hash_invariant_null_actual_is_violation(spark):
    """sha2(NULL) = NULL must FAIL against a recorded expected hash — a
    plain != comparison silently passed it (ADVICE r1)."""
    facts = spark.createDataFrame(
        [("u1", "hello"), ("u2", None)], "url string, text string"
    )
    expected = facts.filter(F.col("text").isNotNull()).select(
        "url", F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256")
    ).unionByName(
        spark.createDataFrame([("u2", "deadbeef")], "url string, text_sha256 string")
    )
    suite = ConstraintSuite("hi", [HashInvariant("text", expected, expected_key="url")])
    res = suite.validate(facts, key_col="url")
    viol = res.violations.toPandas()
    assert set(viol["key"]) == {"u2"}
    assert (viol["observed"] == "NULL").all()


def test_fk_dim_content_change_changes_suite_hash(spark):
    dim1 = spark.createDataFrame([("a",), ("b",)], "host string")
    dim2 = spark.createDataFrame([("a",), ("c",)], "host string")
    s1 = ConstraintSuite("fk", [ForeignKey("url", dim1, "host", rule_id="r")])
    s2 = ConstraintSuite("fk", [ForeignKey("url", dim2, "host", rule_id="r")])
    s1b = ConstraintSuite("fk", [ForeignKey("url", dim1.orderBy("host"), "host", rule_id="r")])
    assert s1.suite_hash != s2.suite_hash  # content change ⇒ new identity
    assert s1.suite_hash == s1b.suite_hash  # row order is irrelevant
    # explicit version string skips the fingerprint job and wins
    s3 = ConstraintSuite("fk", [ForeignKey("url", dim1, "host", rule_id="r", dim_version="v7")])
    assert s3.suite_hash != s1.suite_hash


def test_content_fingerprint_sees_changes_among_duplicated_rows(spark):
    """Equal xxhash64 values cancel under bit_xor, so a fingerprint of count
    and XOR alone gives [x, x, y] and [z, z, y] the same identity."""
    from slower_whisper_spark.rules.base import content_fingerprint

    def fp(values):
        return content_fingerprint(spark.createDataFrame([(v,) for v in values], "c string"), ["c"])

    assert fp(["x", "x", "y"]) != fp(["z", "z", "y"])
    assert fp(["x", "y", "x"]) == fp(["x", "x", "y"])  # row order is irrelevant


def test_hash_invariant_expected_content_in_suite_hash(spark):
    e1 = spark.createDataFrame([("u1", "h1")], "url string, text_sha256 string")
    e2 = spark.createDataFrame([("u1", "h2")], "url string, text_sha256 string")
    s1 = ConstraintSuite("hi", [HashInvariant("text", e1, rule_id="r")])
    s2 = ConstraintSuite("hi", [HashInvariant("text", e2, rule_id="r")])
    assert s1.suite_hash != s2.suite_hash


def test_suite_unpersist_releases_storage(docs_small, spark):
    docs, _, _ = docs_small
    suite = ConstraintSuite("up", [Unique("url")])
    res = suite.validate(docs, key_col="url", partition_col="warc_day")
    res.verdicts.collect()
    res.violations.collect()
    assert res.persisted, "validate() should track its cached intermediates"
    res.unpersist()
    for df in res.persisted:
        assert df.storageLevel.useMemory is False and df.storageLevel.useDisk is False


def test_drift_handles_nonidentifier_and_expression_columns(spark):
    """Column-reference regression: names F.expr would mis-parse (hyphens →
    subtraction) must stay plain column lookups; strings with '(' are SQL
    expressions. Both paths bucket and score correctly."""
    from slower_whisper_spark.rules.drift import Baseline, Drift, compute_baseline

    df = spark.createDataFrame(
        [(f"k{i}", float(i % 10), "p") for i in range(400)],
        ["key", "content-length", "part"],
    )
    # hyphenated plain column (would parse as `content - length` under
    # F.expr): compute a baseline and self-check drift ≈ 0
    base = compute_baseline(df, "content-length", kind="hist", n_buckets=5)
    rule = Drift("content-length", base, metric="psi", threshold=0.1, min_rows=10)
    verdicts, _ = rule.evaluate(df, key_col="key", partition_col="part", violation_limit=10)
    rows = verdicts.collect()
    assert len(rows) == 1 and rows[0]["passed"], rows

    # expression column ('(' present → F.expr path)
    base2 = compute_baseline(df, "abs(`content-length`)", kind="hist", n_buckets=5)
    rule2 = Drift("abs(`content-length`)", base2, metric="psi", threshold=0.1, min_rows=10)
    v2, _ = rule2.evaluate(df, key_col="key", partition_col="part", violation_limit=10)
    assert v2.collect()[0]["passed"]


def test_catalog_read_merges_evolved_schema(spark, tmp_path):
    """Append-mostly schema evolution: a column added in a later partition
    unions into the scan schema; pre-evolution partitions read it as NULL,
    so a NotNull rule localizes violations to exactly the old partition."""
    from slower_whisper_spark import ConstraintSuite, NotNull
    from slower_whisper_spark.sources.catalog import read

    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [("u1", "t1", "d1")], "url string, text string, day string"
    ).write.partitionBy("day").parquet(path)
    spark.createDataFrame(
        [("u2", "t2", "en", "d2")], "url string, text string, lang string, day string"
    ).write.mode("append").partitionBy("day").parquet(path)

    df = read(spark, path)
    assert "lang" in df.columns
    got = {r.url: r.lang for r in df.collect()}
    assert got == {"u1": None, "u2": "en"}

    suite = ConstraintSuite("ev", [NotNull("lang", rule_id="r_lang")])
    res = suite.validate(df, key_col="url", partition_col="day")
    v = {r.partition: r.violations for r in res.verdicts.collect()}
    assert v == {"d1": 1, "d2": 0}


def test_drift_categorical_backslash_category(docs_small, spark):
    """Category values containing backslashes must bucket identically to
    the F.lit Column path the SQL-text literals replaced: Spark's SQL
    parser treats \\ as an escape inside string literals, so unescaped
    values were silently mis-bucketed (ADVICE r5 #4)."""
    docs, _, _ = docs_small
    weird = docs.withColumn(
        "lang", F.concat(F.lit("x\\"), F.col("lang"))
    )
    base = compute_baseline(weird, "lang", "cat")
    assert any("\\" in c for c in base.categories)
    res = ConstraintSuite(
        "dbs", [Drift("lang", base, metric="psi", threshold=0.25)]
    ).validate(weird, key_col="url", partition_col="warc_day")
    verd = res.verdicts.toPandas()
    scored = verd[~verd["observed"].str.startswith("skipped:")]
    # identical distribution vs its own baseline → no drift anywhere; with
    # the escape bug every backslash category fell into the absent bucket
    # and the PSI breached
    assert len(scored) > 0 and scored["passed"].all()


@pytest.mark.parametrize(
    "kind,metric", [("hist", "psi"), ("hist", "ks"), ("cat", "psi"), ("quantile", "psi"), ("quantile", "ks")]
)
def test_drift_evaluate_matches_suite_fold(docs_small, kind, metric):
    """Drift.evaluate (what the CLI drift gate calls) and the suite's
    pass-1 fold must give the same verdict rows for every baseline kind
    and metric — one PSI/KS definition, whichever entry point runs it."""
    import numpy as np

    from slower_whisper_spark.functions.kll import KLLSketch
    from slower_whisper_spark.rules.drift import baseline_from_kll

    docs, _, _ = docs_small
    even_day = F.dayofmonth("warc_day") % 2 == 0
    if kind == "cat":
        column = "lang"
        base = compute_baseline(docs, column, "cat")
        df = docs.withColumn(column, F.when(even_day & (F.col("lang") == "en"), "zh").otherwise(F.col("lang")))
    else:
        column = "tl"
        tl = docs.withColumn(column, F.length("text"))
        if kind == "hist":
            base = compute_baseline(tl, column, "hist", n_buckets=20)
        else:
            sk = KLLSketch()
            sk.update_batch(np.array([r[0] for r in tl.select(column).collect() if r[0] is not None], dtype=float))
            base = baseline_from_kll(sk, column, n_buckets=10)
        # shift half the days so both verdicts occur
        df = tl.withColumn(column, F.when(even_day, (F.col(column) * 1.3).cast("long")).otherwise(F.col(column)))
    rule = Drift(column, base, metric=metric, threshold=0.1 if metric == "ks" else 0.25, rule_id="d")

    cols = ["partition", "rule_id", "passed", "violations", "observed", "expected"]
    direct, extra = rule.evaluate(df, key_col="url", partition_col="warc_day", violation_limit=10)
    assert extra is None
    folded = ConstraintSuite("parity", [rule]).validate(df, key_col="url", partition_col="warc_day").verdicts
    got = sorted(tuple(r) for r in direct.select(*cols).collect())
    want = sorted(tuple(r) for r in folded.select(*cols).collect())
    assert got == want
    assert {r[2] for r in got} == {True, False}, got


# --------------------------------------------------------------------- #
# Rendered verdict / violation rows of the join- and aggregate-based rules
# --------------------------------------------------------------------- #
def _tiny(spark):
    return spark.createDataFrame(
        [
            ("u1", "d1", "a", "a.org"),
            ("u1", "d2", "b", "b.org"),
            ("u2", "d1", "c", "a.org"),
            ("u3", "d2", None, None),
            ("u4", "d1", "d", "c.org"),
        ],
        "url string, day string, text string, host string",
    )


def _render(rule, df, violation_limit=100):
    verdicts, violations = rule.evaluate(
        df, key_col="url", partition_col="day", violation_limit=violation_limit
    )
    return sorted(tuple(r) for r in verdicts.collect()), [tuple(r) for r in violations.collect()]


def test_unique_rendered_rows(spark):
    verdicts, violations = _render(Unique("url"), _tiny(spark))
    assert verdicts == [
        ("d1", "unique(url)", False, 1, "1 rows with duplicated key", "url unique"),
        ("d2", "unique(url)", False, 1, "1 rows with duplicated key", "url unique"),
    ]
    assert violations == [("u1", "unique(url)", "count=2", "count=1")]


def test_unique_null_key_rows(spark):
    """NULL keys are exempt, as under SQL UNIQUE: a duplicated NULL key is
    neither counted nor listed, so a partition whose only repeats are NULL
    keys (d3) passes and the verdicts agree with the violation rows."""
    df = spark.createDataFrame(
        [("a", "d1"), ("a", "d2"), (None, "d1"), (None, "d1"), (None, "d2"), ("b", "d2"),
         ("c", "d2"), ("c", "d2"), (None, "d3"), (None, "d3")],
        "url string, day string",
    )
    verdicts, violations = _render(Unique("url"), df)
    assert verdicts == [
        ("d1", "unique(url)", False, 1, "1 rows with duplicated key", "url unique"),
        ("d2", "unique(url)", False, 3, "3 rows with duplicated key", "url unique"),
    ]
    assert violations == [
        ("a", "unique(url)", "count=2", "count=1"),
        ("c", "unique(url)", "count=2", "count=1"),
    ]


def test_hash_invariant_rendered_rows(spark):
    import hashlib

    def sha(s):
        return hashlib.sha256(s.encode()).hexdigest()

    expected = spark.createDataFrame(
        [("u1", sha("a")), ("u2", sha("x")), ("u3", sha("z"))], "url string, text_sha256 string"
    )
    rule = HashInvariant("text", expected, rule_id="text_bytes", expected_version="v1")
    verdicts, violations = _render(rule, _tiny(spark))
    exp = "sha256(text) == expected"
    assert verdicts == [
        ("d1", "text_bytes", False, 1, "1 rows with hash mismatch", exp),
        ("d2", "text_bytes", False, 2, "2 rows with hash mismatch", exp),
    ]
    assert violations == [
        ("u1", "text_bytes", sha("b"), sha("a")),
        ("u2", "text_bytes", sha("c"), sha("x")),
        ("u3", "text_bytes", "NULL", sha("z")),
    ]
    # the violation rows are capped at violation_limit, first keys first
    _, capped = _render(rule, _tiny(spark), violation_limit=2)
    assert capped == violations[:2]

    # missing_is_violation: u4 has no expected row
    rule = HashInvariant(
        "text", expected, rule_id="text_bytes", expected_version="v1", missing_is_violation=True
    )
    verdicts, violations = _render(rule, _tiny(spark))
    assert verdicts[0] == ("d1", "text_bytes", False, 2, "2 rows with hash mismatch", exp)
    assert violations[-1] == ("u4", "text_bytes", sha("d"), "<no expected row>")


def test_fk_broadcast_rendered_rows(spark):
    dim = spark.createDataFrame([("a.org",)], "host string")
    rule = ForeignKey("host", dim, "host", rule_id="host_known", dim_version="v1")
    verdicts, violations = _render(rule, _tiny(spark))
    exp = "host in dim.host"
    assert verdicts == [
        ("d1", "host_known", False, 1, "1 rows with unknown reference", exp),
        ("d2", "host_known", False, 1, "1 rows with unknown reference", exp),
    ]
    assert violations == [
        ("u1", "host_known", "b.org", "member of dim.host"),
        ("u4", "host_known", "c.org", "member of dim.host"),
    ]
