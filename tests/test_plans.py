"""Performance-contract tests: assert the PHYSICAL PLAN, not just answers.

Would this survive 100×? Only if filters reach the scan, projections prune
columns, dims broadcast, and rules fuse into codegen — so we test exactly
that (SURVEY §4.2).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from slower_whisper_spark import ConstraintSuite, ForeignKey, NotNull, Pattern, Unique
from slower_whisper_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_ids,
)


@pytest.fixture(scope="module")
def docs_parquet(spark, docs_small, tmp_path_factory):
    docs, _, _ = docs_small
    path = str(tmp_path_factory.mktemp("plans") / "docs")
    docs.write.mode("overwrite").partitionBy("warc_day").parquet(path)
    return spark.read.parquet(path)


def _fail_count(rule):
    """A row rule's failure count, as the suite's pass-1 aggregate sums it."""
    return F.sum(F.when(~rule.predicate(), F.lit(1)).otherwise(F.lit(0)))


def test_filter_pushdown_reaches_scan(docs_parquet):
    q = docs_parquet.filter(F.col("lang") == "en").select("url")
    pf = pushed_filters(q)
    assert any("lang" in f for f in pf), pf


def test_column_pruning_narrow_scan(docs_parquet):
    """A suite referencing url+lang must NOT read html/text from parquet."""
    suite = ConstraintSuite("narrow", [NotNull("url"), Pattern("lang", "^[a-z]{2}$")])
    wide = docs_parquet.groupBy("warc_day").agg(
        F.count(F.lit(1)).alias("rows"),
        *[_fail_count(r) for r in suite.row_rules],
    )
    cols = read_schema_columns(wide)
    assert "html" not in cols and "text" not in cols, cols
    assert "url" in cols and "lang" in cols


def test_stats_profile_prunes_to_profiled_columns(docs_parquet):
    st = ConstraintSuite("st", []).validate(
        docs_parquet, partition_col="warc_day", stats_columns=["lang"]
    ).stats
    cols = read_schema_columns(st)
    assert "html" not in cols and "text" not in cols, cols


def test_refint_join_broadcasts(docs_parquet, docs_small):
    _, _, ref = docs_small
    rule = ForeignKey("parse_url(url, 'HOST')", ref, "host")
    viol = rule._violating_rows(docs_parquet, "url", "warc_day")
    assert has_broadcast_join(viol)


def test_row_rules_stay_in_codegen(docs_parquet, spark):
    """Rule predicates must fuse into whole-stage codegen. AQE hides codegen
    annotations on unfinalized plans, so probe with AQE off — the codegen
    compatibility of the expressions is what's under test."""
    suite = ConstraintSuite("cg", [NotNull("url"), Pattern("lang", "^[a-z]{2}$")])
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        wide = docs_parquet.groupBy("warc_day").agg(
            F.count(F.lit(1)).alias("rows"), *[_fail_count(r) for r in suite.row_rules]
        )
        assert len(wholestage_codegen_ids(wide)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_partition_pruning_on_day_filter(docs_parquet):
    q = docs_parquet.filter(F.col("warc_day") == "2026-07-05")
    from slower_whisper_spark.plans import explain_str

    s = explain_str(q)
    # partition filters appear as PartitionFilters on the scan node
    assert "PartitionFilters" in s and "warc_day" in s.split("PartitionFilters", 1)[1][:200]


def test_revenue_forecast_pushdown(spark):
    """Q6-style query: every filter must reach the parquet scan and the scan
    must be pruned to the referenced columns."""
    import __spark_entry__ as em

    df = em.queries()["revenue_forecast"](spark, "/root/testdata/sf0.001")
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf
    assert any("l_discount" in f for f in pf), pf
    assert any("l_quantity" in f for f in pf), pf
    cols = read_schema_columns(df)
    assert "l_comment" not in cols and "l_orderkey" not in cols, cols


def test_promo_revenue_broadcasts_part_dim(spark):
    import __spark_entry__ as em

    df = em.queries()["promo_revenue"](spark, "/root/testdata/sf0.001")
    assert has_broadcast_join(df)


def test_late_ship_orders_is_semi_join(spark):
    """EXISTS must compile to a semi join: no fact-row duplication node."""
    import __spark_entry__ as em

    df = em.queries()["late_ship_orders"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:800]


def test_keyword_extract_single_scan(spark):
    """One scan: K conditional sums in one aggregate (no union of K scans)."""
    import __spark_entry__ as em

    df = em.queries()["keyword_extract"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1, plan


def test_ann_candidate_distinct_carries_no_vector_payload(spark):
    """The multi-table LSH candidate dedup must shuffle int pairs only — a
    distinct() over rows carrying 64-dim arrays is ~50× avoidable shuffle
    volume at 10^9 candidates. Every distinct HashAggregate (functions=[])
    in the plan must be payload-free."""
    import __spark_entry__ as em

    for qname in ("ann_lsh",):
        df = em.queries()[qname](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        distinct_lines = [
            l for l in plan.splitlines() if "HashAggregate" in l and "functions=[]" in l
        ]
        assert distinct_lines, plan[:800]  # the dedup exists
        for l in distinct_lines:
            assert "__v" not in l and "embedding" not in l and "__c" not in l, l


def test_embedding_neardup_distinct_carries_no_vector_payload(spark):
    from pyspark.sql import functions as F
    from slower_whisper_spark.operators import embedding_near_duplicates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = embedding_near_duplicates(emb, threshold=0.9, dim=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    distinct_lines = [
        l for l in plan.splitlines() if "HashAggregate" in l and "functions=[]" in l
    ]
    assert distinct_lines, plan[:800]
    for l in distinct_lines:
        assert "__v" not in l and "embedding" not in l, l


def test_waiting_suppliers_semi_anti_no_cartesian(spark):
    """Q21 shape: EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, and the
    self-referencing fact joins must not degrade to a cartesian product."""
    import __spark_entry__ as em

    df = em.queries()["waiting_suppliers"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:800]
    assert "LeftAnti" in plan, plan[:800]
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_idle_rich_customers_scalar_broadcast_anti(spark):
    """Q22 shape: the scalar average enters as a broadcast (1-row) join, the
    NOT EXISTS as LeftAnti; no driver-side action in the plan build."""
    import __spark_entry__ as em

    df = em.queries()["idle_rich_customers"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan[:800]
    assert has_broadcast_join(df)


def test_ivf_partitioned_corpus_prunes_probed_cells(spark, tmp_path_factory):
    """The IVF scale path on disk: corpus written partitionBy(cell) → the
    probe query pushes `cell IN (probed)` into the scan as a PARTITION
    filter, so unprobed cells' files are never opened — and the pruned
    variant returns exactly ivf_topk's answer for the same centroids."""
    import numpy as np

    from slower_whisper_spark.operators import ivf_topk
    from slower_whisper_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_topk_partitioned,
    )
    from slower_whisper_spark.plans import explain_str

    rng = np.random.RandomState(5)
    X = rng.normal(size=(800, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path_factory.mktemp("ivf") / "corpus")
    ivf_assign_cells(emb, n_centroids=16, seed=9, dim=16).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    corpus = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 5)

    out = ivf_topk_partitioned(
        corpus, queries, k=10, n_probe=4, n_centroids=16, seed=9, dim=16
    )
    plain = ivf_topk(emb, queries, k=10, n_probe=4, n_centroids=16, seed=9, dim=16)
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in plain.collect()}
    assert got == want and len(got) == 5 * 10

    # the probe's cell set reached the scan as a PARTITION filter (file-level
    # pruning on the hive layout: only matching cell= directories are listed)
    plan = explain_str(out)
    assert "PartitionFilters" in plan, plan[:2000]
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cell" in pf and ("IN" in pf or "in(" in pf.lower()), pf
    # and it is a partition filter, not a post-scan data filter
    assert "cell" not in "".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)), plan[:2000]


def test_no_rdd_api_in_package_source():
    """The engine is DataFrame-native: no ``.rdd`` access anywhere in the
    package (VERDICT r4 next-steps #7 — ``.rdd.getNumPartitions()`` probes
    materialize plan→RDD analysis driver-side; the partition-fanout guard
    now uses the FileIndex's cached inputFiles listing instead)."""
    import os
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..", "slower_whisper_spark")
    hits = []
    for root, _dirs, files in os.walk(pkg):
        if "__pycache__" in root:
            continue
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            for i, line in enumerate(open(path), 1):
                if re.search(r"\.rdd\b", line):
                    hits.append(f"{path}:{i}: {line.strip()}")
    assert not hits, hits


def test_stats_unpivot_single_generate_no_union(docs_parquet):
    """unpivot_stats must be ONE stack() projection over the wide agg row —
    a per-column select + unionByName chain would re-analyze a growing plan
    per profiled column (O(n^2) driver time) and leave a Union node at
    runtime. Generate appears exactly once; Union not at all."""
    from slower_whisper_spark.plans import explain_str

    st = ConstraintSuite("st", []).validate(
        docs_parquet, partition_col="warc_day", stats_columns=["url", "lang", "text"]
    ).stats

    plan = explain_str(st)
    assert "Union" not in plan, plan
    # formatted explain prints each node once in the tree and once in the
    # details section — count numbered detail entries
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan


def test_drift_fold_verdict_matches_column_semantics(spark):
    """The SQL-text fold_verdict must reproduce the documented PSI exactly:
    a hand-computed numpy PSI on a known histogram agrees to 1e-9 (guards
    the Column->SQL-text rewrite: association order, eps, ln base)."""
    import math

    from slower_whisper_spark.rules.drift import _EPS, Baseline, Drift

    base = Baseline(column="v", kind="hist", counts=[10, 20, 30, 40], lo=0.0, hi=4.0, n_buckets=2)
    rule = Drift("v", base, metric="psi", threshold=0.001, min_rows=1, rule_id="d")
    df = spark.createDataFrame(
        [("p1", float(v)) for v in [0.5] * 5 + [1.5] * 10 + [2.5] * 30 + [3.5] * 5],
        "part string, v double",
    )
    wide = df.groupBy(F.col("part").alias("partition")).agg(*rule.fold_agg_exprs())
    row = rule.fold_verdict(wide).collect()[0]
    # width_bucket(x, 0, 4, 2): bucket ids 0..3 (0=underflow, 3=overflow)
    counts = [0.0, 15.0, 35.0, 0.0]
    qtot = 100.0
    tot = 50.0
    psi = 0.0
    for c, q in zip(counts, [10.0, 20.0, 30.0, 40.0]):
        p = (c + _EPS) / (tot + _EPS)
        qq = (q + _EPS) / (qtot + _EPS)
        psi += (p - qq) * math.log(p / qq)
    assert row["passed"] is False
    assert row["observed"] == f"psi={round(psi, 6)}"


def test_drift_evaluate_is_one_aggregate(spark):
    """Drift.evaluate is the pass-1 fold run alone: one groupBy, so one
    shuffle Exchange, and no Window, cross join or join of any kind."""
    from slower_whisper_spark.rules.drift import Baseline, Drift

    df = spark.createDataFrame(
        [(f"p{i % 3}", float(i % 7)) for i in range(300)], "part string, v double"
    )
    for base, metric in [
        (Baseline(column="v", kind="hist", counts=[1] * 6, lo=0.0, hi=7.0, n_buckets=4), "ks"),
        (Baseline(column="v", kind="cat", counts=[5, 5], categories=["1.0", "2.0"]), "psi"),
    ]:
        rule = Drift("v", base, metric=metric, min_rows=1)
        verdicts, _ = rule.evaluate(df, key_col="v", partition_col="part", violation_limit=10)
        plan = verdicts._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"(?<!Broadcast)Exchange ", plan)) == 1, plan
        for node in ("Window", "CartesianProduct", "BroadcastNestedLoopJoin", "Join"):
            assert node not in plan, plan


def test_bloom_suite_passes_run_might_contain_without_python(docs_small):
    """A Bloom ForeignKey folds into the suite's one scan as Spark's own
    might_contain expression: pass 1's aggregate carries it, the violation
    rows are read from that aggregate's cached row, and neither plan
    crosses into a Python worker."""
    import datetime

    from slower_whisper_spark import Expr, HashInvariant, Length, Range
    from slower_whisper_spark.rules.drift import Baseline, Drift

    docs, expected, ref = docs_small
    docs = docs.withColumn("text_len", F.length("text"))
    base = Baseline(column="text_len", kind="hist", counts=[1] * 22, lo=100.0, hi=500.0, n_buckets=20)
    suite = ConstraintSuite("bloom-plan", [
        NotNull("url"),
        NotNull("lang", rule_id="not_null(lang)"),
        Pattern("lang", r"^[a-z]{2}(-[A-Z]{2})?$"),
        Range("warc_ts", min=datetime.datetime(2026, 7, 1), max=datetime.datetime(2026, 7, 31)),
        Length("text", min=1),
        Expr("length(html) >= 16", rule_id="html_min_bytes"),
        Unique("url"),
        ForeignKey("parse_url(url, 'HOST')", ref, "host", rule_id="host_known", mode="bloom"),
        HashInvariant("text", expected, rule_id="text_bytes"),
        Drift("text_len", base, metric="psi", threshold=10.0, rule_id="drift(text_len)"),
    ])
    res = suite.validate(docs, key_col="url", partition_col="warc_day", stats_columns=["url", "lang"])
    # stats and violations are projections of the cached pass-1 row, so their plans print pass 1
    for name, df in (("stats", res.stats), ("violations", res.violations)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # Spark's expression prints its bits literal; the old UDF of the same name did not
        assert "might_contain(0x" in plan, (name, plan)
        for node in ("ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, (name, plan)
    res.unpersist()


def test_might_contain_internal_api_resolves(spark):
    """PySpark has no might_contain wrapper; the engine builds it through
    ExpressionUtils.column(BloomFilterMightContain(...)). Pin that path."""
    from slower_whisper_spark.rules.refint import _might_contain

    try:
        filt = spark._jvm.org.apache.spark.util.sketch.BloomFilter.create(10, 0.01)
        filt.putLong(7)
        out = spark._jvm.java.io.ByteArrayOutputStream()
        filt.writeTo(out)
        col = _might_contain(spark, bytes(out.toByteArray()), F.col("id"))
        got = {r["id"]: r["hit"] for r in spark.range(5, 9).select("id", col.alias("hit")).collect()}
    except Exception as e:  # noqa: BLE001 - any failure here means the path moved
        pytest.fail(
            "a Spark upgrade moved the internal API behind Bloom ForeignKey: "
            "org.apache.spark.sql.classic.ExpressionUtils.column("
            f"catalyst.expressions.BloomFilterMightContain(...)) no longer resolves: {e}"
        )
    assert got[7] is True, got


def test_row_rule_suite_reads_its_input_once(docs_parquet, docs_small):
    """Row rules and a Bloom ForeignKey compile to the cached pass-1
    aggregate alone: verdicts and violation rows both read that cached row,
    no leg scans the table outside it, and validate() runs no Spark job."""
    _, _, ref = docs_small
    fk = ForeignKey("parse_url(url, 'HOST')", ref, "host", rule_id="host_known", mode="bloom")
    fk.row_predicate(docs_parquet)  # the Bloom build is the rule's own job, done once per rule
    suite = ConstraintSuite("once", [NotNull("url"), Pattern("lang", "^[a-z]{2}$"), fk])
    sc = docs_parquet.sparkSession.sparkContext
    sc.setJobGroup("validate-plan-only", "validate() builds plans only")
    try:
        res = suite.validate(docs_parquet, key_col="url", partition_col="warc_day")
        assert list(sc.statusTracker().getJobIdsForGroup("validate-plan-only")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    try:
        assert len(res.persisted) == 1, res.persisted
        both = res.verdicts.select("rule_id").unionByName(res.violations.select("rule_id"))
        plan = both._jdf.queryExecution().optimizedPlan().toString()
        # each leg reads the one cached pass-1 row, which printed its own scan
        assert plan.count("InMemoryRelation") == 2, plan
        assert not re.search(r"(?<!InMemory)Relation \[", plan), plan
        assert len(re.findall(r"FileScan parquet", plan)) == 2, plan
        assert both.count() > 0
    finally:
        res.unpersist()


def test_collect_top_k_internal_api_resolves(spark):
    """Spark registers no SQL function for its CollectTopK aggregate; the
    suite builds it through ExpressionUtils.column(CollectTopK(...)). Pin
    that path and its order: the smallest non-NULL values, ascending."""
    from slower_whisper_spark.suite import _collect_top_k

    try:
        (col,) = _collect_top_k(spark, [F.when(F.col("id") % 3 != 0, F.col("id"))], 3)
        got = spark.range(20).repartition(4).agg(col.alias("top")).first()["top"]
    except Exception as e:  # noqa: BLE001 - any failure here means the path moved
        pytest.fail(
            "a Spark upgrade moved the internal API behind the suite's violation rows: "
            "org.apache.spark.sql.classic.ExpressionUtils.column("
            f"catalyst.expressions.aggregate.CollectTopK(...)) no longer resolves: {e}"
        )
    assert list(got) == [1, 2, 4], got


def test_get_spark_lets_aqe_size_cached_plans(spark):
    """Without this conf Spark keeps every cached plan at
    spark.sql.shuffle.partitions, so AQE cannot coalesce the last stage of
    anything validate() caches."""
    assert spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true"


def test_cached_pass1_row_is_coalesced(docs_small, spark):
    """The cached pass-1 row (one row per table partition) holds fewer
    partitions than the shuffle default, so each read of it runs fewer
    tasks than a full shuffle width."""
    docs, _, _ = docs_small
    suite = ConstraintSuite("sized", [NotNull("url"), Pattern("lang", "^[a-z]{2}$")])
    res = suite.validate(docs, key_col="url", partition_col="warc_day")
    res.materialize()
    try:
        n_parts = res.persisted[0].rdd.getNumPartitions()
        assert n_parts < int(spark.conf.get("spark.sql.shuffle.partitions")), n_parts
    finally:
        res.unpersist()


def test_unique_scans_its_input_once(docs_parquet):
    """Unique takes per-key totals from a window over the (partition, key)
    partials: no join back to them, so the table is read once, under the
    persisted duplicate set."""
    persisted = []
    verdicts, _ = Unique("url").evaluate(
        docs_parquet, key_col="url", partition_col="warc_day", violation_limit=10,
        persisted=persisted,
    )
    try:
        plan = verdicts._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, plan
        assert plan.count("InMemoryRelation") == 1, plan
        assert len(re.findall(r"FileScan parquet|(?<!InMemory)Relation \[", plan)) == 1, plan
    finally:
        for df in persisted:
            df.unpersist()


def test_quality_filter_chain_is_shuffle_free(docs_parquet):
    """The whole filter chain must fold into the scan: no Exchange, no
    Python eval, and only the referenced columns read from parquet."""
    from slower_whisper_spark.operators.quality import quality_filter
    from slower_whisper_spark.plans import explain_str, read_schema_columns

    out = quality_filter(
        docs_parquet.where(F.col("text").isNotNull()), lang_col="lang"
    ).select("url", "verdict", "reasons")
    plan = explain_str(out)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    cols = read_schema_columns(out)
    assert "html" not in cols, cols


def test_cdx_index_range_partitions(spark):
    """The CDX build must exchange by RANGE on (surt, url) — the property
    that makes shards domain-contiguous and prefix-seekable."""
    from slower_whisper_spark.plans import explain_str
    from slower_whisper_spark.sources import warc as W

    df = spark.createDataFrame(
        [("f", 0, "https://a.example.com/x", "resource", "d", "t", 3, b"abc", "ok")],
        W.WARC_SCHEMA,
    )
    plan = explain_str(W.cdx_index(df))
    assert "rangepartitioning" in plan.lower(), plan


def test_snapshot_delta_shuffles_fingerprints_not_bodies(docs_parquet):
    """The diff join's exchanges must carry (url, fp) only — document
    bodies stay scan-side."""
    from slower_whisper_spark.operators.delta import snapshot_delta
    from slower_whisper_spark.plans import explain_str

    old = docs_parquet.select("url", "text")
    new = docs_parquet.select("url", F.concat("text", F.lit("x")).alias("text"))
    plan = explain_str(snapshot_delta(old, new))
    # md5 is computed below the exchange: no raw text column in any
    # Exchange input attribute list (formatted mode prints each node's
    # "Input [n]: [...]" on the line after its "(k) Exchange" header)
    lines = plan.splitlines()
    exchange_inputs = [
        lines[i + 1]
        for i, ln in enumerate(lines[:-1])
        if ln.strip().endswith("Exchange") and "Input" in lines[i + 1]
    ]
    assert exchange_inputs, plan
    for inp in exchange_inputs:
        assert "text#" not in inp, inp
        assert "_fp#" in inp or "url#" in inp, inp


def test_no_gram_tree_in_shingle_scan_filters(docs_parquet):
    """The r5 regression gate (VERDICT r5 what's-wrong #1/#2): exploding an
    ALIASED gram-array column lets InferFiltersFromGenerate infer
    ``size(col) > 0`` and push it — with the whole tokenize→hash→gram tree
    substituted in — down into the parquet scan's data filters, so every
    document is tokenized and shingled TWICE (minhash_neardup 2.42 s →
    18.61 s). The fixed shape explodes the gram EXPRESSION directly (or uses
    explode_outer), which that rule cannot touch. Assert no xxhash64 appears
    in any Filter condition or scan filter of the minhash and contamination
    plans."""
    from slower_whisper_spark.operators import jaccard_pairs, minhash_lsh_candidates
    from slower_whisper_spark.operators.dedup import contamination_pairs
    from slower_whisper_spark.plans import explain_str

    def scan_and_filter_lines(df):
        return [
            ln
            for ln in explain_str(df).splitlines()
            if ln.strip().startswith(("Condition :", "DataFilters:", "PushedFilters:"))
        ]

    docs = docs_parquet.select("url", "text")
    cand = minhash_lsh_candidates(docs, "text", "url", num_hashes=8, bands=4)
    pairs = jaccard_pairs(
        docs, "text", "url", threshold=0.8, candidates=cand, hashed_shingles=True
    )
    bad = [ln for ln in scan_and_filter_lines(pairs) if "xxhash64" in ln]
    assert not bad, bad[0][:500]

    evals = docs.where(F.crc32("url") % 10 == 0).select(
        F.col("url").alias("eval_id"), "text"
    )
    cont = contamination_pairs(
        docs, evals, train_id_col="url", eval_id_col="eval_id", shingle_n=5
    )
    bad = [ln for ln in scan_and_filter_lines(cont) if "xxhash64" in ln]
    assert not bad, bad[0][:500]
