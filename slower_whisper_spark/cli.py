"""CLI: ``python -m slower_whisper_spark.cli validate ...``.

Mirrors the reference's validate subcommand + exit-code contract
(ref: transcription/cli.py:479-495,1162-1173 — print failures one per line,
exit 1 if any, else "[ok] N valid") and the benchmark compare report|gate
switch (ref: transcription/benchmark_cli.py:476-540).
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_suite_from_file(path: str):
    from slower_whisper_spark.migrate import auto_migrate, detect_version, suite_from_spec

    with open(path) as f:
        spec = json.load(f)
    if detect_version(spec) < 2:
        spec = auto_migrate(spec, 2)
    return suite_from_spec(spec)


def _resolve_suite(suite_arg: str, registry_dir: str | None):
    """``--suite`` accepts either a spec-file path or a registry reference
    ``name[@vN]`` (requires --registry). Registry loads are strict-verified
    against the lockfile (ref: transcription/schema/registry.py get_schema +
    integrity verify)."""
    import os
    import re

    m = re.fullmatch(r"([A-Za-z0-9._-]+)(?:@v?(\d+))?", suite_arg)
    if registry_dir and m and not os.path.exists(suite_arg):
        from slower_whisper_spark.registry import SuiteRegistry

        name, ver = m.group(1), m.group(2)
        return SuiteRegistry(registry_dir).load(name, int(ver) if ver else None)
    return _build_suite_from_file(suite_arg)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="slower-whisper-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="run a constraint suite over a parquet table")
    v.add_argument("table", help="path to (partitioned) parquet table, or a WARC dir with --format warc")
    v.add_argument(
        "--format",
        choices=["parquet", "warc"],
        default="parquet",
        help="input format: parquet table (default) or a directory of WARC "
        "files — records parse to (url, text, warc_day, file, offset) and "
        "validate like any table (crawl-to-gate in one command)",
    )
    v.add_argument("--suite", required=True, help="suite spec JSON, or name[@vN] with --registry")
    v.add_argument("--registry", default=None, help="suite registry dir (enables --suite name@vN)")
    v.add_argument("--key-col", default="url")
    v.add_argument("--partition-col", default="warc_day")
    v.add_argument("--manifest", default=None, help="checkpoint manifest dir (enables resume)")
    v.add_argument(
        "--incremental",
        action="store_true",
        help="per-partition snapshot resume: re-validate only partitions whose data files changed",
    )
    v.add_argument(
        "--sketch-col",
        action="append",
        default=[],
        help="numeric column to KLL-sketch per partition into the manifest "
        "(repeatable; requires --manifest) — accumulates a mergeable drift "
        "baseline across runs",
    )
    v.add_argument(
        "--drift-col",
        action="append",
        default=[],
        metavar="COL[:THRESHOLD]",
        help="PSI drift gate for COL (a column name or SQL expression, e.g. "
        "'length(text)') against the baseline merged from the manifest's "
        "accumulated KLL sketches (requires --manifest; accumulate with "
        "--sketch-col on prior runs). Evaluated BEFORE the validation run "
        "and kept out of the content-hashed suite: the baseline moves every "
        "run, and under --gate a drifted batch is rejected before anything "
        "persists — otherwise its own sketches would become the next "
        "baseline and a sustained regression would alarm exactly once. "
        "Default threshold 0.25. First run (no sketches yet) warns and "
        "skips.",
    )
    v.add_argument("--gate", action="store_true", help="exit 1 on any failure")
    v.add_argument("--violation-limit", type=int, default=20)
    v.add_argument("--master", default=None)

    r = sub.add_parser("registry", help="manage the named-suite registry + lockfile")
    r.add_argument("action", choices=["save", "verify", "diff", "list"])
    r.add_argument("--registry", required=True, help="registry dir")
    r.add_argument("--spec", default=None, help="spec JSON to save (for: save)")
    r.add_argument("--name", default=None, help="suite name (for: verify/diff)")
    r.add_argument("--version", type=int, default=None)
    r.add_argument("--old", type=int, default=None, help="old version (for: diff)")
    r.add_argument("--new", type=int, default=None, help="new version (for: diff)")
    r.add_argument("--overwrite", action="store_true")

    args = p.parse_args(argv)

    if args.cmd == "validate" and args.sketch_col and not args.manifest:
        # enforce the documented contract: sketches persist INTO the manifest;
        # without one the user would think a drift baseline is accumulating
        # when nothing is written anywhere
        p.error("--sketch-col requires --manifest (sketches persist into the checkpoint manifest)")
    if args.cmd == "validate" and args.drift_col and not args.manifest:
        p.error("--drift-col requires --manifest (the baseline merges from the manifest's sketches)")
    if args.cmd == "validate":
        from slower_whisper_spark.suite import check_violation_limit

        try:  # the suite's own rule count is checked again once it loads
            check_violation_limit(args.violation_limit)
        except ValueError as e:
            p.error(f"--violation-limit: {e}")

    if args.cmd == "registry":
        return _registry_main(args)

    from slower_whisper_spark.session import get_spark
    from slower_whisper_spark.sources.catalog import read, snapshot_id

    # fail fast with actionable messages BEFORE paying the Spark session
    # startup (a missing path used to surface as a raw analyzer traceback
    # 15 s in)
    import os as _os

    if not _os.path.exists(args.table):
        p.error(f"table path does not exist: {args.table}")
    if not _os.path.exists(args.suite) and not args.registry:
        p.error(
            f"--suite {args.suite!r} is not a file; to reference a registry "
            "suite as name[@vN], also pass --registry DIR"
        )

    spark = get_spark(app_name="sws-cli", master=args.master)
    suite = _resolve_suite(args.suite, args.registry)
    try:
        check_violation_limit(args.violation_limit, len(suite.counted_rules))
    except ValueError as e:
        p.error(f"--violation-limit: {e}")
    if getattr(args, "format", "parquet") == "warc":
        if args.incremental:
            p.error("--incremental needs a hive-partitioned parquet table; WARC input has no partition snapshots")
        from pyspark.sql import functions as F

        from slower_whisper_spark.sources.warc import read_warc

        # malformed records are NOT silently dropped: they surface as rows
        # with warc_verdict='malformed' and NULL url/text, so a suite's
        # not_null/const rules report them as ordinary violations with
        # their (file, offset) locator
        recs = read_warc(spark, args.table)
        df = recs.select(
            "url",
            F.col("payload").cast("string").alias("text"),
            F.to_date(F.substring("warc_date", 1, 10)).alias("warc_day"),
            "file",
            "offset",
            "content_type",
            F.col("verdict").alias("warc_verdict"),
        )
    else:
        df = read(spark, args.table)

    if args.manifest:
        from slower_whisper_spark.runner import GateFailure, ValidationRunner

        runner = ValidationRunner(
            suite,
            args.manifest,
            key_col=args.key_col,
            partition_col=args.partition_col,
            violation_limit=args.violation_limit,
            sketch_columns=args.sketch_col,
        )
        # manifest-KLL drift gates: baselines merge from sketches persisted
        # by PRIOR runs — built before run() appends this run's sketches, so
        # the comparison is strictly history-vs-now
        drift_rules = []
        for spec_arg in args.drift_col:
            # COL[:THRESHOLD] — but COL may itself be a SQL expression
            # containing colons ('x::double') or a name that legitimately
            # ends in ':<number>' ('m:2'). Treat the last segment as a
            # threshold only when it parses as a number AND the prefix is a
            # plausible column ref: non-empty, and for plain names present
            # in the table schema (expressions — anything non-identifier —
            # are taken on faith). Otherwise the whole arg is the column and
            # resolution errors surface from Spark with the full name.
            col, sep, th = spec_arg.rpartition(":")
            threshold = 0.25
            if sep and col:
                try:
                    threshold = float(th)
                except ValueError:
                    col = spec_arg
                else:
                    is_plain_name = col.replace("_", "a").isalnum()
                    if is_plain_name and col not in df.columns:
                        col, threshold = spec_arg, 0.25
            else:
                col = spec_arg
            from slower_whisper_spark.rules.drift import Drift, kll_baseline_from_manifest

            try:
                baseline = kll_baseline_from_manifest(runner.manifest, col)
            except ValueError:
                print(
                    f"[drift] no accumulated sketches for {col!r} yet — skipped "
                    "(run with --sketch-col first)",
                    file=sys.stderr,
                )
                continue
            drift_rules.append(
                Drift(
                    col,
                    baseline,
                    metric="psi",
                    threshold=threshold,
                    rule_id=f"drift_manifest({col})",
                )
            )

        # the drift gate decides BEFORE the validation run persists anything:
        # a gated-out batch must not append its own sketches, or a sustained
        # regression alarms exactly once and the drifted distribution BECOMES
        # the baseline on the next run (self-disarming gate). Report mode
        # accumulates by design — it accepts the batch.
        drift_failed = False
        for rule in drift_rules:
            verdicts, _ = rule.evaluate(
                df,
                key_col=args.key_col,
                partition_col=args.partition_col,
                violation_limit=args.violation_limit,
            )
            for row in verdicts.orderBy("partition").collect():
                ok = bool(row["passed"])
                drift_failed = drift_failed or not ok
                print(
                    f"[drift] {rule.rule_id} partition={row['partition']} "
                    f"{'pass' if ok else 'FAIL'} {row['observed']} (want {row['expected']})",
                    file=sys.stderr,
                )
        if args.gate and drift_failed:
            print(
                "[gate] manifest-KLL drift gate failed — batch rejected before "
                "validation; no sketches or manifest entries were persisted",
                file=sys.stderr,
            )
            return 1

        psnaps = None
        if args.incremental:
            from slower_whisper_spark.sources.catalog import partition_snapshots

            psnaps = partition_snapshots(args.table, args.partition_col)
        try:
            rr = runner.run(
                df,
                snapshot_id=snapshot_id(args.table),
                mode="gate" if args.gate else "report",
                partition_snapshots=psnaps,
            )
        except GateFailure as e:
            print(f"[gate] {e}", file=sys.stderr)
            return 1
        print(
            json.dumps(
                {
                    "run_id": rr.run_id,
                    "suite_hash": rr.suite_hash,
                    "processed": len(rr.processed_partitions),
                    "skipped": len(rr.skipped_partitions),
                    "rows": rr.rows_validated,
                    "docs_per_sec": round(rr.docs_per_sec, 1),
                    "overall_passed": rr.overall_passed,
                }
            )
        )
        if not rr.overall_passed:
            for row in rr.violations[: args.violation_limit]:
                print(f"[viol] {row['rule_id']}: key={row['key']} observed={row['observed']} expected={row['expected']}", file=sys.stderr)
        return 0

    res = suite.validate(
        df,
        key_col=args.key_col,
        partition_col=args.partition_col if args.partition_col in df.columns else None,
        violation_limit=args.violation_limit,
    )
    ok = res.overall_passed()
    for row in res.violations.collect():
        print(f"[viol] {row['rule_id']}: key={row['key']} observed={row['observed']} expected={row['expected']}", file=sys.stderr)
    if ok:
        print(f"[ok] suite {suite.name}@{suite.suite_hash[:12]} passed")
        return 0
    print(f"[fail] suite {suite.name}@{suite.suite_hash[:12]}", file=sys.stderr)
    return 1 if args.gate else 0


def _registry_main(args) -> int:
    from slower_whisper_spark.registry import IntegrityError, SuiteRegistry

    reg = SuiteRegistry(args.registry)
    if args.action == "save":
        suite = _build_suite_from_file(args.spec)
        path = reg.save(suite, overwrite=args.overwrite)
        print(json.dumps({"saved": f"{suite.name}@v{suite.version}", "path": path, "hash": suite.suite_hash}))
        return 0
    if args.action == "list":
        out = {n: reg.versions(n) for n in reg.names()}
        print(json.dumps(out))
        return 0
    if args.action == "verify":
        try:
            reg.verify(args.name, args.version, strict=True)
        except IntegrityError as e:
            print(f"[integrity] {e}", file=sys.stderr)
            return 1
        print(f"[ok] {args.name} verified")
        return 0
    if args.action == "diff":
        print(json.dumps(reg.diff(args.name, args.old, args.new)))
        return 0
    return 2  # pragma: no cover


if __name__ == "__main__":
    sys.exit(main())
