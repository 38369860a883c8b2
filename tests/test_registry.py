"""Named-suite registry + lockfile lifecycle (save → load → verify →
has_changed → diff → tamper detection) and the CLI name@version path.

Reference semantics: transcription/schema/registry.py:62-306 (named,
versioned schemas; latest resolution) and integrity.py:156-428 (lockfile
hash verify, strict raise, has_changed).
"""

from __future__ import annotations

import json

import pytest

from slower_whisper_spark import ConstraintSuite, Length, NotNull, Pattern, Unique
from slower_whisper_spark.registry import IntegrityError, SuiteRegistry

LANG_RE = r"^[a-z]{2}(-[A-Z]{2})?$"


def _v1():
    return ConstraintSuite("web", [NotNull("url"), Pattern("lang", LANG_RE)], version=1)


def _v2():
    return ConstraintSuite(
        "web",
        [NotNull("url"), Pattern("lang", LANG_RE), Length("text", min=1), Unique("url")],
        version=2,
    )


def test_save_load_roundtrip(tmp_path):
    reg = SuiteRegistry(str(tmp_path / "reg"))
    reg.save(_v1())
    reg.save(_v2())
    assert reg.names() == ["web"] and reg.versions("web") == [1, 2]

    latest = reg.load("web")  # latest-version resolution
    assert latest.version == 2 and latest.suite_hash == _v2().suite_hash
    old = reg.load("web", 1)
    assert old.suite_hash == _v1().suite_hash


def test_immutable_versions_and_has_changed(tmp_path):
    reg = SuiteRegistry(str(tmp_path / "reg"))
    reg.save(_v1())
    assert reg.has_changed(_v1()) is False

    mutated = ConstraintSuite("web", [NotNull("url")], version=1)
    assert reg.has_changed(mutated) is True
    with pytest.raises(IntegrityError):
        reg.save(mutated)  # same name@version, different spec
    reg.save(mutated, overwrite=True)  # explicit republish allowed
    assert reg.has_changed(mutated) is False

    unknown = ConstraintSuite("other", [NotNull("url")], version=1)
    assert reg.has_changed(unknown) is True


def test_tampered_spec_fails_strict_verify(tmp_path):
    reg = SuiteRegistry(str(tmp_path / "reg"))
    path = reg.save(_v1())
    spec = json.load(open(path))
    spec["rules"][0]["column"] = "hacked"
    json.dump(spec, open(path, "w"))

    assert reg.verify("web", 1, strict=False) is False
    with pytest.raises(IntegrityError):
        reg.verify("web", 1)
    with pytest.raises(IntegrityError):
        reg.load("web", 1)  # load is strict by default


def test_non_strict_load_accepts_edited_spec(tmp_path):
    """strict=False loads a spec file edited after it was locked; the
    default strict load raises on the same file."""
    reg = SuiteRegistry(str(tmp_path / "reg"))
    path = reg.save(_v1())
    spec = json.load(open(path))
    spec["rules"][0]["column"] = "host"
    json.dump(spec, open(path, "w"))

    edited = reg.load("web", 1, strict=False)
    assert edited.rules[0].spec()["column"] == "host"
    assert edited.suite_hash != _v1().suite_hash
    with pytest.raises(IntegrityError):
        reg.load("web", 1, strict=True)


def test_legacy_canonical_hash_lock_migrates_lazily(tmp_path):
    """Locks published before spec_hash (when hashes included spec_format)
    must keep verifying: verify() matches the legacy canonical_hash and
    rewrites the entry in place; has_changed() reports False; save() without
    overwrite does not raise (ADVICE r4: the hashing switch must not be a
    one-time break of the 'format bumps never invalidate lockfiles'
    contract)."""
    from slower_whisper_spark.functions.hashing import canonical_hash, spec_hash

    reg = SuiteRegistry(str(tmp_path / "reg"))
    suite = _v1()
    path = reg.save(suite)
    spec = json.load(open(path))

    # simulate a pre-migration lockfile: entry holds the legacy hash
    lock = json.load(open(reg._lock_path))
    lock["web"]["1"]["hash"] = canonical_hash(spec)
    json.dump(lock, open(reg._lock_path, "w"))
    assert canonical_hash(spec) != spec_hash(spec)  # the hashes really differ

    assert reg.has_changed(suite) is False  # read-only path: no false positive
    assert reg.verify("web", 1) is True  # migrates...
    lock = json.load(open(reg._lock_path))
    assert lock["web"]["1"]["hash"] == spec_hash(spec)  # ...and rewrote the entry
    reg.save(suite)  # republish of the unchanged suite needs no overwrite
    reg.load("web", 1)  # strict load stays green after migration

    # a genuinely different spec still fails immutability
    mutated = ConstraintSuite("web", [NotNull("url")], version=1)
    with pytest.raises(IntegrityError):
        reg.save(mutated)


def test_diff_versions(tmp_path):
    reg = SuiteRegistry(str(tmp_path / "reg"))
    reg.save(_v1())
    v2 = ConstraintSuite(
        "web",
        [NotNull("url"), Pattern("lang", r"^[a-z]{2}$"), Length("text", min=1)],
        version=2,
    )
    reg.save(v2)
    d = reg.diff("web", 1, 2)
    assert d["added"] == ["length(text)"]
    assert d["removed"] == []
    assert d["changed"] == ["pattern(lang)"]  # regex tightened


def test_cli_validate_by_registry_name(tmp_path, spark, docs_small):
    """validate --suite name@vN --registry resolves through the lockfile."""
    from slower_whisper_spark.cli import main

    docs, _, _ = docs_small
    table = str(tmp_path / "docs")
    docs.limit(500).write.mode("overwrite").partitionBy("warc_day").parquet(table)

    reg = SuiteRegistry(str(tmp_path / "reg"))
    reg.save(ConstraintSuite("web", [NotNull("url")], version=1))

    rc = main(
        ["validate", table, "--suite", "web@v1", "--registry", str(tmp_path / "reg"),
         "--master", "local[2]"]
    )
    assert rc == 0


def test_cli_registry_subcommands(tmp_path, capsys):
    from slower_whisper_spark.cli import main

    spec_path = str(tmp_path / "s.json")
    json.dump(_v1().spec(), open(spec_path, "w"))
    reg_dir = str(tmp_path / "reg")

    assert main(["registry", "save", "--registry", reg_dir, "--spec", spec_path]) == 0
    assert main(["registry", "list", "--registry", reg_dir]) == 0
    assert main(["registry", "verify", "--registry", reg_dir, "--name", "web"]) == 0
    out = capsys.readouterr().out
    assert '"web"' in out and "[ok] web verified" in out

    # tamper → verify exits 1
    lock = json.load(open(reg_dir + "/lock.json"))
    spec_file = reg_dir + "/" + lock["web"]["1"]["path"]
    s = json.load(open(spec_file))
    s["name"] = "evil"
    json.dump(s, open(spec_file, "w"))
    assert main(["registry", "verify", "--registry", reg_dir, "--name", "web"]) == 1


def test_registry_roundtrips_unique_and_drift(tmp_path):
    from slower_whisper_spark.migrate import suite_from_spec
    from slower_whisper_spark.rules.drift import Baseline, Drift

    base = Baseline(column="text_len", kind="hist", counts=[1] * 22, lo=0.0, hi=100.0, n_buckets=20)
    s = ConstraintSuite(
        "full", [NotNull("url"), Unique("url"), Drift("text_len", base, threshold=0.3)],
        version=3,
    )
    reg = SuiteRegistry(str(tmp_path / "reg"))
    reg.save(s)
    back = reg.load("full", 3)
    assert back.suite_hash == s.suite_hash
    assert {type(r).__name__ for r in back.rules} == {"NotNull", "Unique", "Drift"}
    # a spec stored while Unique took a salt still loads; the salt is dropped
    old = json.loads(json.dumps(s.spec()))
    old["rules"][1]["salt_buckets"] = 8
    assert suite_from_spec(old).rules[1].spec() == Unique("url").spec()
