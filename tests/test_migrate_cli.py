"""Suite-version migration + CLI entry (ref test model: compat-shim tests,
SURVEY §5.4)."""

from __future__ import annotations

import json

import pytest

from slower_whisper_spark.migrate import (
    SuiteVersionError,
    auto_migrate,
    detect_version,
    suite_from_spec,
)

V1_SPEC = {
    "name": "legacy",
    "checks": [
        {"kind": "required", "col": "url"},
        {"kind": "regex", "col": "lang", "args": {"pattern": "^[a-z]{2}$"}},
        {"kind": "in_set", "col": "lang", "args": {"values": ["en", "fr"]}, "id": "lang_set"},
        {"kind": "bounds", "col": "n", "args": {"min": 0, "max": 10}},
    ],
}


def test_detect_version():
    assert detect_version(V1_SPEC) == 1
    assert detect_version({"version": 2, "rules": []}) == 2
    with pytest.raises(SuiteVersionError):
        detect_version({"foo": 1})


def test_v1_to_v2_migration_and_recompile(spark):
    v2 = auto_migrate(V1_SPEC, 2)
    assert v2["version"] == 2
    assert [r["type"] for r in v2["rules"]] == ["not_null", "pattern", "enum", "range"]
    suite = suite_from_spec(v2)
    assert suite.version == 2
    df = spark.createDataFrame(
        [("u1", "en", 5), ("u2", "english", 3), (None, "fr", 20)],
        "url string, lang string, n int",
    )
    res = suite.validate(df, key_col="url")
    viol = res.violations.toPandas()
    assert set(viol["rule_id"]) == {"not_null(url)", "pattern(lang)", "lang_set", "range(n)"}


def test_migrated_suite_runs_same_as_native(spark):
    """v1 suite through migration == directly-built v2 suite (same hash)."""
    from slower_whisper_spark import ConstraintSuite, Enum, NotNull, Pattern, Range

    native = ConstraintSuite(
        "legacy",
        [
            NotNull("url"),
            Pattern("lang", "^[a-z]{2}$"),
            Enum("lang", ["en", "fr"], rule_id="lang_set"),
            Range("n", min=0, max=10),
        ],
        version=2,
    )
    migrated = suite_from_spec(auto_migrate(V1_SPEC, 2))
    assert migrated.suite_hash == native.suite_hash


def test_cli_validate_roundtrip(tmp_path, docs_small, spark, capsys):
    from slower_whisper_spark.cli import main

    docs, _, _ = docs_small
    table = str(tmp_path / "docs")
    docs.write.mode("overwrite").partitionBy("warc_day").parquet(table)

    suite_path = tmp_path / "suite.json"
    suite_path.write_text(
        json.dumps(
            {
                "name": "cli-suite",
                "version": 2,
                "rules": [
                    {"type": "not_null", "column": "url", "rule_id": "not_null(url)"},
                    {
                        "type": "pattern",
                        "column": "lang",
                        "pattern": "^[a-z]{2}(-[A-Z]{2})?$",
                        "rule_id": "pattern(lang)",
                    },
                ],
            }
        )
    )
    # report mode: exit 0 even with violations
    assert main(["validate", table, "--suite", str(suite_path)]) == 0
    # gate mode: violations → exit 1
    assert main(["validate", table, "--suite", str(suite_path), "--gate"]) == 1
    # manifest mode with resume: the violation rows print from the run's own
    # collect, at most --violation-limit of them
    mdir = str(tmp_path / "manifest")
    capsys.readouterr()
    assert main(["validate", table, "--suite", str(suite_path), "--manifest", mdir, "--violation-limit", "3"]) == 0
    viol = [line for line in capsys.readouterr().err.splitlines() if line.startswith("[viol]")]
    assert len(viol) == 3 and all("pattern(lang)" in line for line in viol)
    # a limit within the CLI's range but past the bound for this suite's two rules
    with pytest.raises(SystemExit) as e:
        main(["validate", table, "--suite", str(suite_path), "--violation-limit", "60000"])
    assert e.value.code == 2 and "--violation-limit" in capsys.readouterr().err


def test_detect_version_explicit_spec_format():
    """spec_format wins over structure: a hypothetical format-3 spec that
    still carries a 'rules' key must NOT be misdetected as 2 (ADVICE r2);
    a spec_format>=2 claim over v1 'checks' structure is a conflict."""
    assert detect_version({"spec_format": 3, "version": 3, "rules": []}) == 3
    assert detect_version({"spec_format": 2, "version": 1, "rules": []}) == 2
    with pytest.raises(SuiteVersionError):
        detect_version({"spec_format": 2, "checks": []})


def test_suite_spec_carries_spec_format(spark):
    from slower_whisper_spark import ConstraintSuite, NotNull

    s = ConstraintSuite("x", [NotNull("url")], version=7)
    spec = s.spec()
    assert spec["spec_format"] == 2 and spec["version"] == 7
    assert detect_version(spec) == 2


def test_cli_manifest_kll_drift_gate(tmp_path, docs_small, spark, capsys):
    """The full CLI drift story: --sketch-col accumulates per-partition KLL
    sketches into the manifest; a later --drift-col run merges them into a
    quantile baseline and PSI-gates the CURRENT table against history —
    passing when the data is unchanged, failing (exit 1 under --gate) when
    the distribution shifts."""
    from slower_whisper_spark.cli import main

    docs, _, _ = docs_small
    table = str(tmp_path / "docs")
    docs.write.mode("overwrite").partitionBy("warc_day").parquet(table)
    suite_path = tmp_path / "suite.json"
    suite_path.write_text(
        json.dumps(
            {
                "name": "drift-cli",
                "version": 1,
                "rules": [{"type": "not_null", "column": "url", "rule_id": "r1"}],
            }
        )
    )
    mdir = str(tmp_path / "m")

    # --drift-col requires --manifest
    with pytest.raises(SystemExit):
        main(["validate", table, "--suite", str(suite_path), "--drift-col", "length(text)"])

    # run 1: no sketches yet → drift skipped with a warning, still exit 0
    rc = main(
        ["validate", table, "--suite", str(suite_path), "--manifest", mdir,
         "--sketch-col", "length(text)", "--drift-col", "length(text)"]
    )
    assert rc == 0
    assert "no accumulated sketches" in capsys.readouterr().err

    # run 2: same data vs run-1 baseline → drift passes on every partition
    # (the not_null(url) suite is clean, so --gate exercises the drift gate)
    rc = main(
        ["validate", table, "--suite", str(suite_path), "--manifest", mdir,
         "--drift-col", "length(text):0.25", "--gate"]
    )
    err = capsys.readouterr().err
    assert rc == 0, err
    assert "drift_manifest(length(text))" in err
    assert "FAIL" not in err

    # shifted table: text lengths blow up → PSI breaches → report shows FAIL,
    # gate exits 1
    from pyspark.sql import functions as F

    shifted = str(tmp_path / "docs_shifted")
    spark.read.parquet(table).withColumn(
        "text", F.concat(F.col("text"), F.lit("x" * 500))
    ).write.mode("overwrite").partitionBy("warc_day").parquet(shifted)
    rc = main(
        ["validate", shifted, "--suite", str(suite_path), "--manifest", mdir,
         "--drift-col", "length(text):0.25"]
    )
    err = capsys.readouterr().err
    assert rc == 0  # report mode never gates
    assert "[drift]" in err and "FAIL" in err
    from slower_whisper_spark.checkpoint import CheckpointManifest

    n_before = len(CheckpointManifest(mdir).load())
    rc = main(
        ["validate", shifted, "--suite", str(suite_path), "--manifest", mdir,
         "--drift-col", "length(text):0.25", "--sketch-col", "length(text)", "--gate"]
    )
    assert rc == 1
    # the rejected batch persisted NOTHING — its shifted sketches must not
    # become the next run's baseline (self-disarming-gate regression)
    assert len(CheckpointManifest(mdir).load()) == n_before


def test_cli_missing_paths_fail_fast(capsys):
    """Missing table / suite paths exit 2 with an actionable message
    BEFORE any Spark session starts (was: raw analyzer traceback)."""
    import pytest as _pytest

    from slower_whisper_spark.cli import main

    with _pytest.raises(SystemExit) as e:
        main(["validate", "/nonexistent/table", "--suite", "/tmp/vtab/suite.json"])
    assert e.value.code == 2
    assert "does not exist" in capsys.readouterr().err

    with _pytest.raises(SystemExit) as e2:
        main(["validate", "/tmp", "--suite", "no_such_suite"])
    assert e2.value.code == 2
    assert "--registry" in capsys.readouterr().err

    # validate() refuses a violation_limit past its bound; the CLI says so up front
    with _pytest.raises(SystemExit) as e3:
        main(["validate", "/tmp", "--suite", "/tmp/vtab/suite.json", "--violation-limit", "100001"])
    assert e3.value.code == 2
    assert "--violation-limit" in capsys.readouterr().err
