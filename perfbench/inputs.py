"""Benchmark inputs: the generated webtext tables, the benchmark's own copy
of the 10-rule ``webtext-full`` suite, and the seeded resume manifest.

Tables come from ``datagen.write_docs_dataset_chunked`` and are cached on
disk per (seed, rows), so a repeated seed skips generation.
"""

from __future__ import annotations

import base64
import datetime
import json
import os
import shutil

import numpy as np

# rows of the generated table, set by the time a run may take rather than by
# the regime: on a 4-CPU host a dense_suite iteration takes about 10 s at 50k
# rows and 16 s at 200k, so at this size it is mostly fixed per-job cost, and
# a change to the per-row scan moves wall_s by a fraction of its effect
ROWS = 50_000

KEY_COL = "url"
PARTITION_COL = "warc_day"
VIOLATION_LIMIT = 100
STATS_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
SKETCH_COLUMN = "text_len"

# the resume workload's manifest history: HISTORY_RUNS prior daily runs,
# each with one entry (and one KLL sketch) per partition
HISTORY_RUNS = 30
# the partition whose data "changed" since the last run (a daily append)
APPENDED_PARTITION = "2026-07-30"
# WARC shards rendered from the table for the parse_warc_blobs probe
WARC_SHARDS = 16


def ensure_table(work_dir: str, seed: int, rows: int) -> dict[str, str]:
    """Write (once) the docs/expected_text/ref_domains tables with the
    default CorruptionPlan, so every partition fails some rule; returns their
    paths."""
    from slower_whisper_spark.datagen import CorruptionPlan, write_docs_dataset_chunked

    out_dir = os.path.join(work_dir, "inputs", f"s{seed}_n{rows}")
    paths = {
        "docs": os.path.join(out_dir, "docs"),
        "expected_text": os.path.join(out_dir, "expected_text.parquet"),
        "ref_domains": os.path.join(out_dir, "ref_domains.parquet"),
        "dir": out_dir,
    }
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return paths
    shutil.rmtree(out_dir, ignore_errors=True)
    write_docs_dataset_chunked(out_dir, rows, seed=seed, plan=CorruptionPlan())
    with open(os.path.join(out_dir, "_DONE"), "w") as f:
        f.write("ok")
    return paths


def input_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names if n.endswith(".parquet"))
    return total


def read_docs(spark, paths):
    """The docs table as the engine reads it, plus the derived ``text_len``
    column the drift rule and the KLL sketches use."""
    from pyspark.sql import functions as F

    return spark.read.parquet(paths["docs"]).withColumn(SKETCH_COLUMN, F.length("text"))


def build_suite(spark, paths):
    """The 10-rule ``webtext-full`` suite, defined here so that a change to
    the engine's own bench script cannot change the workload."""
    from slower_whisper_spark import (
        ConstraintSuite,
        Expr,
        ForeignKey,
        HashInvariant,
        Length,
        NotNull,
        Pattern,
        Range,
        Unique,
    )
    from slower_whisper_spark.rules.drift import Baseline, Drift

    expected = spark.read.parquet(paths["expected_text"])
    ref = spark.read.parquet(paths["ref_domains"])
    base = Baseline(column="text_len", kind="hist", counts=[1] * 22, lo=100.0, hi=500.0, n_buckets=20)
    return ConstraintSuite(
        "webtext-full",
        [
            NotNull("url"),
            NotNull("lang", rule_id="not_null(lang)"),
            Pattern("lang", r"^[a-z]{2}(-[A-Z]{2})?$"),
            Range(
                "warc_ts",
                min=datetime.datetime(2026, 7, 1),
                max=datetime.datetime(2026, 7, 31),
            ),
            Length("text", min=1),
            Expr("length(html) >= 16", rule_id="html_min_bytes", expected="html >= 16 bytes"),
            Unique("url"),
            ForeignKey("parse_url(url, 'HOST')", ref, "host", rule_id="host_known", mode="bloom"),
            HashInvariant("text", expected, rule_id="text_bytes"),
            Drift("text_len", base, metric="psi", threshold=10.0, rule_id="drift(text_len)"),
        ],
    )


def ensure_warc_shards(spark, paths) -> str:
    """Render (once) every doc with a url and a text as a WARC record,
    concatenated into WARC_SHARDS binary blobs; returns their path."""
    from pyspark.sql import functions as F

    from slower_whisper_spark.sources.warc import render_warc_record

    path = os.path.join(paths["dir"], "warc_blobs")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    docs = spark.read.parquet(paths["docs"]).where(F.col("url").isNotNull() & F.col("text").isNotNull())
    blobs = (
        docs.select(
            (F.abs(F.xxhash64("url")) % WARC_SHARDS).alias("k"),
            render_warc_record(F.col("url"), F.col("text")).alias("rec"),
        )
        .groupBy("k")
        .agg(F.array_join(F.array_sort(F.collect_list("rec")), "").cast("binary").alias("blob"))
    )
    blobs.write.mode("overwrite").parquet(path)
    return path


def seed_manifest_template(
    template_dir: str, suite_hash: str, snapshots: dict[str, str], text_len_by_part: dict
) -> None:
    """Write HISTORY_RUNS prior daily runs x one entry per partition, each
    with a KLL sketch of ``text_len``. Every partition except
    APPENDED_PARTITION is recorded as done at its current snapshot; that one
    carries the snapshot it had before the append, so a resumed run
    re-validates exactly it."""
    from slower_whisper_spark.checkpoint import STATUS_SUCCESS, ManifestEntry
    from slower_whisper_spark.functions.kll import KLLSketch

    shutil.rmtree(template_dir, ignore_errors=True)
    os.makedirs(template_dir)
    sketches = {}
    for part, values in text_len_by_part.items():
        sk = KLLSketch(k=200, seed=1)
        sk.update_batch(np.asarray(values, dtype=np.float64))
        sketches[part] = base64.b64encode(sk.serialize()).decode("ascii")
    day0 = datetime.datetime(2026, 8, 1, 6, tzinfo=datetime.timezone.utc)
    for i in range(HISTORY_RUNS):
        run_id = f"run-history-{i:03d}"
        done_at = (day0 + datetime.timedelta(days=i)).isoformat()
        entries = [
            ManifestEntry(
                partition=part,
                snapshot_id=snap if part != APPENDED_PARTITION else f"before-append-{snap}",
                partition_spec=PARTITION_COL,
                rule_hash=suite_hash,
                status=STATUS_SUCCESS,
                metrics={"rows": float(len(text_len_by_part[part])), "violations": 0.0},
                completed_at=done_at,
                run_id=run_id,
                sketches={SKETCH_COLUMN: sketches[part]},
            )
            for part, snap in sorted(snapshots.items())
        ]
        # file names order the history; one file per run, like the runner
        path = os.path.join(template_dir, f"{i:016d}-{run_id}.jsonl")
        with open(path, "w") as f:
            for e in entries:
                f.write(json.dumps(e.to_dict(), sort_keys=True) + "\n")


def reset_manifest(template_dir: str | None, manifest_dir: str) -> None:
    """Replace ``manifest_dir`` with a copy of the template (or nothing)."""
    shutil.rmtree(manifest_dir, ignore_errors=True)
    if template_dir is None:
        os.makedirs(manifest_dir)
    else:
        shutil.copytree(template_dir, manifest_dir)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, n)) for n in os.listdir(path))
