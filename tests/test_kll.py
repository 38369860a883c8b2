"""KLL mergeable quantile sketches: rank-error bounds, merge associativity,
serialization, Spark applyInPandas build, and manifest round-trip
(SURVEY §4.2 'approximate quantiles must be mergeable')."""

from __future__ import annotations

import base64

import numpy as np
import pytest
from pyspark.sql import functions as F

from slower_whisper_spark.functions.kll import KLLSketch, kll_profile, merge_sketch_rows

QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
EPS = 0.02  # k=200 → ~1.3% rank error; assert within 2%


def _rank_err(data: np.ndarray, sk: KLLSketch, q: float) -> float:
    est = sk.quantile(q)
    true_rank = np.searchsorted(np.sort(data), est, side="right") / data.size
    return abs(true_rank - q)


def test_kll_rank_error_single_stream():
    rng = np.random.RandomState(0)
    data = np.concatenate([rng.normal(0, 1, 60_000), rng.exponential(5, 40_000)])
    sk = KLLSketch(k=200, seed=1)
    for chunk in np.array_split(data, 37):
        sk.update_batch(chunk)
    assert sk.n == data.size
    for q in QS:
        assert _rank_err(data, sk, q) <= EPS, q
    # bounded memory: total retained items stay ~O(k log(n/k))
    assert sum(b.size for b in sk.levels) < 3000


def test_kll_merge_matches_single_build():
    rng = np.random.RandomState(1)
    parts = [rng.uniform(i, i + 10, 20_000) for i in range(8)]
    data = np.concatenate(parts)
    merged = KLLSketch(k=200, seed=1)
    for p in parts:
        one = KLLSketch(k=200, seed=1)
        one.update_batch(p)
        merged.merge(one)
    assert merged.n == data.size
    for q in QS:
        assert _rank_err(data, merged, q) <= EPS, q


def test_kll_serialize_roundtrip():
    sk = KLLSketch(k=64, seed=9)
    sk.update_batch(np.arange(10_000, dtype=float))
    raw = sk.serialize()
    back = KLLSketch.deserialize(raw)
    assert back.n == sk.n and back.k == sk.k
    assert all(np.array_equal(a, b) for a, b in zip(back.levels, sk.levels))
    assert back.quantile(0.5) == sk.quantile(0.5)


def test_kll_nan_and_empty():
    sk = KLLSketch()
    sk.update_batch([np.nan, np.nan])
    assert sk.n == 0 and np.isnan(sk.quantile(0.5))
    sk.update_batch([1.0])
    assert sk.quantile(0.5) == 1.0


def test_kll_profile_spark_and_manifest_roundtrip(docs_small, tmp_path):
    """Per-partition sketches via applyInPandas → b64 → checkpoint manifest
    → reload → merge ≈ global quantiles within sketch error."""
    from slower_whisper_spark.checkpoint import CheckpointManifest, ManifestEntry

    docs, _, _ = docs_small
    docs = docs.withColumn("text_len", F.length("text"))
    prof = kll_profile(docs, "text_len", partition_col="warc_day", k=200)
    rows = prof.collect()
    assert len(rows) == docs.select("warc_day").distinct().count()
    assert sum(r["n"] for r in rows) == docs.filter(F.col("text_len").isNotNull()).count()

    # manifest round-trip: one entry per partition with the b64 sketch
    m = CheckpointManifest(str(tmp_path / "m"))
    entries = [
        ManifestEntry(
            partition=r["partition"], snapshot_id="s", partition_spec="warc_day",
            rule_hash="h", status="success",
            metrics={"rows": float(r["n"])},
            sketches={"text_len": base64.b64encode(bytes(r["sketch"])).decode()},
            completed_at="t", run_id="r1",
        )
        for r in rows
    ]
    m.append(entries, "r1")

    reloaded = m.load()
    assert all(e.sketches.get("text_len") for e in reloaded)
    merged = merge_sketch_rows(
        [base64.b64decode(e.sketches["text_len"]) for e in reloaded], k=200
    )
    data = np.array(
        [r[0] for r in docs.select("text_len").filter(F.col("text_len").isNotNull()).collect()],
        dtype=float,
    )
    assert merged.n == data.size
    for q in QS:
        assert _rank_err(data, merged, q) <= EPS, q


def test_kll_profile_bytes_independent_of_row_order(spark):
    """The same rows in another order or partitioning give byte-identical
    sketches: each group's values are sorted before the build. A group of
    at most k values is stored as its raw level-0 buffer (p1 here), so
    without the sort its bytes would follow the arrival order."""
    rng = np.random.RandomState(3)
    rows = [("p1", float(v)) for v in rng.normal(0, 1, 150)]
    rows += [("p2", float(v)) for v in rng.exponential(2, 1000)]
    rows += [("p2", None)]

    def sketches(data, n_parts):
        df = spark.createDataFrame(data, "part string, v double").repartition(n_parts)
        return sorted(
            (r["partition"], r["n"], bytes(r["sketch"]))
            for r in kll_profile(df, "v", partition_col="part").collect()
        )

    forward = sketches(rows, 1)
    assert [(p, n) for p, n, _ in forward] == [("p1", 150), ("p2", 1000)]
    assert sketches(rows[::-1], 1) == forward
    assert sketches(rows, 4) == forward

def test_old_manifest_entries_still_load(tmp_path):
    """Entries written before the sketches field existed must deserialize."""
    import json, os
    from slower_whisper_spark.checkpoint import CheckpointManifest

    d = tmp_path / "m"
    os.makedirs(d)
    legacy = {
        "partition": "p", "snapshot_id": "s", "partition_spec": "d",
        "rule_hash": "h", "status": "success", "metrics": {},
        "completed_at": "t", "run_id": "r",
    }
    with open(d / "0000000000000001-r.jsonl", "w") as f:
        f.write(json.dumps(legacy) + "\n")
    entries = CheckpointManifest(str(d)).load()
    assert entries[0].sketches == {}


def test_kll_manifest_drift_baseline_across_two_runs(spark, tmp_path):
    """VERDICT r2 #8: the manifest IS the drift baseline store. Run 1
    validates (and sketches) half the partitions, dies; run 2 resumes the
    rest. kll_baseline_from_manifest merges the accumulated per-partition
    sketches across BOTH runs into an equi-depth baseline; a Drift rule on
    that baseline passes same-distribution data and fails shifted data."""
    import numpy as np

    from slower_whisper_spark import ConstraintSuite, NotNull
    from slower_whisper_spark.rules import Drift, kll_baseline_from_manifest
    from slower_whisper_spark.runner import ValidationRunner

    rng = np.random.RandomState(5)
    rows = [
        (f"u{i}", f"p{i % 4}", float(v))
        for i, v in enumerate(rng.normal(10.0, 2.0, size=4000))
    ]
    df = spark.createDataFrame(rows, "url string, part string, value double")

    suite = ConstraintSuite("kllbase", [NotNull("url")])
    mpath = str(tmp_path / "manifest")
    runner = ValidationRunner(suite, mpath, partition_col="part", sketch_columns=["value"])

    # run 1: only p0/p1 (simulated kill before the rest)
    r1 = runner.run(df, partitions=["p0", "p1"])
    assert r1.overall_passed
    # run 2: resume — p0/p1 skip, p2/p3 process and sketch
    r2 = runner.run(df, partitions=["p0", "p1", "p2", "p3"], resume=True)
    assert sorted(r2.processed_partitions) == ["p2", "p3"]
    assert sorted(r2.skipped_partitions) == ["p0", "p1"]

    baseline = kll_baseline_from_manifest(runner.manifest, "value", n_buckets=10)
    assert baseline.kind == "quantile" and len(baseline.edges) == 9
    # merged sketch saw all 4000 rows across the two runs
    assert sum(baseline.counts) >= 3800
    # median of N(10, 2) ~ 10
    assert 9.0 < baseline.edges[4] < 11.0

    def drift_fails(data, metric):
        rule = Drift("value", baseline, metric=metric, threshold=0.2, min_rows=10)
        res = ConstraintSuite("d", [rule]).validate(
            data, key_col="url", partition_col="part"
        )
        return [r for r in res.verdicts.collect() if not r["passed"]]

    # same distribution: no drift under either metric
    assert drift_fails(df, "psi") == []
    assert drift_fails(df, "ks") == []
    # shifted by +4: every partition must fail
    shifted = df.withColumn("value", F.col("value") + F.lit(4.0))
    assert len(drift_fails(shifted, "psi")) == 4
    assert len(drift_fails(shifted, "ks")) == 4
