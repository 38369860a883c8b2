"""Checkpoint manifest + resumable runs (kill-and-resume, hash invalidation).

Mirrors the reference's skip_existing_json resume semantics
(ref: transcription/pipeline.py:167-253) and lockfile hash invalidation
(ref: transcription/schema/integrity.py:222-335).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from slower_whisper_spark import ConstraintSuite, NotNull, Pattern
from slower_whisper_spark.checkpoint import CheckpointManifest, ManifestEntry, new_run_id
from slower_whisper_spark.runner import GateFailure, ValidationRunner

LANG_RE = r"^[a-z]{2}(-[A-Z]{2})?$"


def _suite(strict: bool = False):
    rules = [NotNull("url")]
    if strict:
        rules.append(Pattern("lang", LANG_RE))
    return ConstraintSuite("ck", rules)


def test_manifest_roundtrip(tmp_path):
    m = CheckpointManifest(str(tmp_path / "m"))
    rid = new_run_id()
    assert rid.startswith("run-")
    e = ManifestEntry(
        partition="2026-07-01",
        snapshot_id="snap1",
        partition_spec="warc_day",
        rule_hash="h1",
        status="success",
        metrics={"rows": 10.0},
        completed_at="t",
        run_id=rid,
    )
    m.append([e], rid)
    loaded = m.load()
    assert len(loaded) == 1 and loaded[0] == e
    assert m.completed_partitions("h1") == {"2026-07-01"}
    assert m.completed_partitions("h1", "snap1") == {"2026-07-01"}
    assert m.completed_partitions("h1", "snap2") == set()
    assert m.completed_partitions("OTHER") == set()


def test_latest_entry_wins(tmp_path):
    m = CheckpointManifest(str(tmp_path / "m"))
    e1 = ManifestEntry("p1", "s", "spec", "h", "success", {}, "t1", "r1")
    e2 = ManifestEntry("p1", "s", "spec", "h", "partial", {}, "t2", "r2")
    m.append([e1], "r1")
    m.append([e2], "r2")
    assert m.completed_partitions("h") == set()  # later partial overrides


def test_kill_and_resume(docs_small, tmp_path):
    docs, _, _ = docs_small
    clean = docs.filter(F.col("url").isNotNull())  # NotNull suite passes everywhere
    runner = ValidationRunner(_suite(), str(tmp_path / "m"), partition_col="warc_day")

    all_parts = sorted(
        r[0] for r in clean.select(F.col("warc_day").cast("string")).distinct().collect()
    )
    half = all_parts[: len(all_parts) // 2]

    # "first run killed halfway": only half the partitions were processed
    r1 = runner.run(clean, snapshot_id="snapA", partitions=half)
    assert sorted(r1.processed_partitions) == half
    assert r1.overall_passed and r1.rows_validated > 0

    # resume over the full partition list → only the pending half runs
    r2 = runner.run(clean, snapshot_id="snapA", partitions=all_parts)
    assert sorted(r2.skipped_partitions) == half
    assert sorted(r2.processed_partitions) == sorted(set(all_parts) - set(half))

    # third run: everything done, zero work
    r3 = runner.run(clean, snapshot_id="snapA", partitions=all_parts)
    assert r3.processed_partitions == []
    assert sorted(r3.skipped_partitions) == all_parts
    assert r3.result is None


def test_resume_false_revalidates_completed_partitions(docs_small, tmp_path):
    """resume=False re-validates partitions whose latest manifest entry is a
    success at the same suite hash and snapshot."""
    docs, _, _ = docs_small
    clean = docs.filter(F.col("url").isNotNull())
    runner = ValidationRunner(_suite(), str(tmp_path / "m"), partition_col="warc_day")
    r1 = runner.run(clean, snapshot_id="snapA")
    assert r1.overall_passed and r1.processed_partitions
    r2 = runner.run(clean, snapshot_id="snapA", resume=False)
    assert r2.skipped_partitions == []
    assert sorted(r2.processed_partitions) == sorted(r1.processed_partitions)


def test_rule_hash_change_invalidates(docs_small, tmp_path):
    docs, _, _ = docs_small
    clean = docs.filter(F.col("url").isNotNull())
    mpath = str(tmp_path / "m")
    r1 = ValidationRunner(_suite(), mpath, partition_col="warc_day").run(
        clean, snapshot_id="snapA"
    )
    assert r1.processed_partitions

    # same manifest, different suite → full re-run
    r2 = ValidationRunner(_suite(strict=True), mpath, partition_col="warc_day").run(
        clean, snapshot_id="snapA"
    )
    assert r2.skipped_partitions == []
    assert sorted(r2.processed_partitions) == sorted(r1.processed_partitions)


def test_snapshot_change_invalidates(docs_small, tmp_path):
    docs, _, _ = docs_small
    clean = docs.filter(F.col("url").isNotNull())
    mpath = str(tmp_path / "m")
    runner = ValidationRunner(_suite(), mpath, partition_col="warc_day")
    runner.run(clean, snapshot_id="snapA")
    r2 = runner.run(clean, snapshot_id="snapB")  # data changed
    assert r2.skipped_partitions == []


def test_failed_partitions_are_retried_not_skipped(docs_small, tmp_path):
    docs, _, _ = docs_small
    runner = ValidationRunner(
        _suite(strict=True), str(tmp_path / "m"), partition_col="warc_day"
    )
    r1 = runner.run(docs, snapshot_id="s")  # bad langs → partial partitions
    assert not r1.overall_passed
    r2 = runner.run(docs, snapshot_id="s")
    # failed (partial) partitions re-run; fully-clean ones are skipped
    assert set(r2.processed_partitions) == {
        p for p in r1.processed_partitions if p not in r2.skipped_partitions
    }
    assert len(r2.processed_partitions) > 0


def test_crashed_run_leaves_error_entries_and_resumes_them(spark, tmp_path):
    """A rule that throws at execution time: the crashed run appends one
    ``error`` entry per pending partition (run_id, exception type and
    message) and re-raises; the next run on repaired data re-validates
    exactly those partitions and skips the ones done before the crash."""
    import pytest

    from slower_whisper_spark import Expr

    df = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d2"), ("u3", "d3"), ("boom", "d3")],
        "url string, warc_day string",
    )
    suite = ConstraintSuite(
        "crash", [Expr("assert_true(url <> 'boom', 'boom row') IS NULL", rule_id="r")]
    )
    mpath = str(tmp_path / "m")
    runner = ValidationRunner(suite, mpath, partition_col="warc_day")
    r1 = runner.run(df, snapshot_id="s", partitions=["d1"])
    assert r1.processed_partitions == ["d1"] and r1.overall_passed

    with pytest.raises(Exception, match="boom row"):
        runner.run(df, snapshot_id="s")
    m = CheckpointManifest(mpath)
    latest = m.latest_per_partition()
    errors = {p: e for p, e in latest.items() if e.status == "error"}
    assert sorted(errors) == ["d2", "d3"]
    assert latest["d1"].status == "success"
    (run_id,) = {e.run_id for e in errors.values()}
    assert run_id.startswith("run-") and run_id != r1.run_id
    for e in errors.values():
        assert e.rule_hash == suite.suite_hash and e.snapshot_id == "s"
        assert e.metrics["error_type"] and "boom row" in e.metrics["error"]

    r3 = runner.run(df.filter(F.col("url") != "boom"), snapshot_id="s")
    assert r3.skipped_partitions == ["d1"]
    assert r3.processed_partitions == ["d2", "d3"] and r3.overall_passed
    assert m.completed_partitions(suite.suite_hash, "s") == {"d1", "d2", "d3"}


def test_gate_mode_raises(docs_small, tmp_path):
    docs, _, _ = docs_small
    runner = ValidationRunner(
        _suite(strict=True), str(tmp_path / "m"), partition_col="warc_day"
    )
    import pytest

    with pytest.raises(GateFailure):
        runner.run(docs, snapshot_id="s", mode="gate")


def test_snapshot_id_of_parquet(tmp_path, spark, docs_small):
    from slower_whisper_spark.sources.catalog import list_partitions, snapshot_id

    docs, _, _ = docs_small
    out = str(tmp_path / "docs")
    docs.limit(100).write.mode("overwrite").partitionBy("warc_day").parquet(out)
    s1 = snapshot_id(out)
    s2 = snapshot_id(out)
    assert s1 == s2 and len(s1) == 16
    parts = list_partitions(out, "warc_day")
    assert len(parts) > 0 and all("=" not in p for p in parts)

    # appending data changes the snapshot
    docs.limit(10).write.mode("append").partitionBy("warc_day").parquet(out)
    assert snapshot_id(out) != s1


def test_resume_catches_cross_partition_duplicates(spark, tmp_path):
    """A url duplicated across a COMPLETED and a PENDING partition must fail
    the pending partition on resume (ADVICE r1: the pruned scope used to
    hide it permanently)."""
    from slower_whisper_spark import Unique

    rows = [
        ("http://x/dup", "2026-07-01"),
        ("http://x/a", "2026-07-01"),
        ("http://x/dup", "2026-07-02"),  # same url, other partition
        ("http://x/b", "2026-07-02"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_day string")
    suite = ConstraintSuite("xp", [Unique("url")])
    runner = ValidationRunner(suite, str(tmp_path / "m"), partition_col="warc_day")

    # run 1 processes only day 1: sees one copy of dup → success
    r1 = runner.run(df, snapshot_id="s", partitions=["2026-07-01"])
    assert r1.overall_passed

    # resume over both days: day 1 skipped, day 2 must FAIL (global dup)
    r2 = runner.run(df, snapshot_id="s", partitions=["2026-07-01", "2026-07-02"])
    assert r2.skipped_partitions == ["2026-07-01"]
    assert r2.processed_partitions == ["2026-07-02"]
    assert not r2.overall_passed
    verd = {
        (v["partition"], v["rule_id"]): v
        for v in r2.result.verdicts.collect()
    }
    assert verd[("2026-07-02", "unique(url)")]["passed"] is False


def test_incremental_per_partition_snapshots(spark, docs_small, tmp_path):
    """Appending to ONE partition re-validates only that partition —
    per-partition snapshot resume (Iceberg manifest-entry analog). A global
    snapshot id would have invalidated everything."""
    from slower_whisper_spark.sources.catalog import partition_snapshots

    docs, _, _ = docs_small
    clean = docs.filter(F.col("url").isNotNull())
    table = str(tmp_path / "t")
    clean.limit(2000).write.mode("overwrite").partitionBy("warc_day").parquet(table)

    runner = ValidationRunner(_suite(), str(tmp_path / "m"), partition_col="warc_day")
    df = spark.read.parquet(table)
    snaps1 = partition_snapshots(table, "warc_day")
    r1 = runner.run(df, partition_snapshots=snaps1)
    assert r1.skipped_partitions == [] and len(r1.processed_partitions) == len(snaps1)

    # append rows to exactly one partition
    target = r1.processed_partitions[0]
    clean.filter(F.col("warc_day").cast("string") == target).limit(50).write.mode(
        "append"
    ).partitionBy("warc_day").parquet(table)

    snaps2 = partition_snapshots(table, "warc_day")
    changed = [p for p in snaps2 if snaps1.get(p) != snaps2[p]]
    assert changed == [target]

    r2 = runner.run(spark.read.parquet(table), partition_snapshots=snaps2)
    assert r2.processed_partitions == [target]
    assert sorted(r2.skipped_partitions) == sorted(set(snaps2) - {target})

    # third run: nothing changed, nothing runs
    r3 = runner.run(spark.read.parquet(table), partition_snapshots=snaps2)
    assert r3.processed_partitions == []


def test_incremental_empty_snapshots_refuses_silent_green(spark, docs_small, tmp_path):
    """A non-hive layout (partition_snapshots → {}) with a data-bearing table
    must raise, not gate-pass having validated zero rows (ADVICE r2)."""
    import pytest as _pytest

    from slower_whisper_spark import ConstraintSuite, NotNull
    from slower_whisper_spark.runner import ValidationRunner

    docs, _, _ = docs_small
    runner = ValidationRunner(
        ConstraintSuite("s", [NotNull("url")]), str(tmp_path / "m.jsonl")
    )
    with _pytest.raises(ValueError, match="no partitions"):
        runner.run(docs, partition_snapshots={})


def test_runner_releases_its_cached_results(docs_small, tmp_path):
    """run() has collected what the manifest needs, so it leaves nothing in
    Spark's storage; the returned frames recompute when read."""
    docs, _, _ = docs_small
    runner = ValidationRunner(_suite(strict=True), str(tmp_path / "m"), partition_col="warc_day")
    rr = runner.run(docs)
    assert rr.result.persisted, "validate() should track its cached intermediates"
    for df in rr.result.persisted:
        assert df.storageLevel.useMemory is False and df.storageLevel.useDisk is False
    # the violation rows behind the verdicts were collected before release
    assert rr.violations
    assert sorted(map(tuple, rr.violations)) == sorted(map(tuple, rr.result.violations.collect()))


def test_runner_checks_violation_limit_before_running(docs_small, tmp_path):
    """An out-of-range limit fails at construction: no Spark job and no
    error entries in the manifest."""
    import pytest

    with pytest.raises(ValueError, match="violation_limit"):
        ValidationRunner(_suite(strict=True), str(tmp_path / "m"), violation_limit=50_001)
    assert CheckpointManifest(str(tmp_path / "m")).completed_partitions(_suite(strict=True).suite_hash) == set()
    ValidationRunner(_suite(strict=True), str(tmp_path / "m"), violation_limit=50_000)
