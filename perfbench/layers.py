"""Per-layer metrics of a traced run, named by engine module.

Times are medians over the traced iterations of each span's duration
(summed when a span repeats inside one iteration). The table-rule legs, the
WARC parser and the query leaves run once, alone, after the iterations. A
layer the workload does not reach reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.leaves import HEADLINE_QUERIES

# metric → span; every one also gets the seconds unit
TIMED = {
    "suite.validate.s": "suite.validate",
    "suite.verdicts.s": "suite.verdicts",
    "suite.violations.s": "suite.violations",
    "suite.stats.s": "suite.stats",
    "rules.unique.s": "rules.unique",
    "rules.invariant.s": "rules.invariant",
    "rules.refint.s": "rules.refint",
    "rules.refint.bloom_build.s": "rules.refint.bloom_build",
    "rules.drift.s": "rules.drift",
    "functions.kll.kll_profile.s": "functions.kll.kll_profile",
    "runner.run.s": "runner.run",
    "checkpoint.load.s": "checkpoint.load",
    "checkpoint.completed.s": "checkpoint.completed",
    "checkpoint.append.s": "checkpoint.append",
    "sources.catalog.partition_snapshots.s": "sources.catalog.partition_snapshots",
    "sources.warc.parse_warc_blobs.s": "sources.warc.parse_warc_blobs",
    **{f"leaf.{q}.s": f"leaf.{q}" for q in HEADLINE_QUERIES},
}
# spans of the table-rule legs, the WARC parser and the query leaves, each
# run once alone after the iterations
PROBED = {
    *(f"leaf.{q}" for q in HEADLINE_QUERIES),
    "rules.unique",
    "rules.invariant",
    "rules.refint",
    "rules.refint.bloom_build",
    "rules.drift",
    "sources.warc.parse_warc_blobs",
}
# spans that also report Spark stage counters (inclusive of child spans)
COUNTED_SPANS = [
    "suite.validate",
    "suite.verdicts",
    "suite.violations",
    "rules.unique",
    "rules.invariant",
    "rules.refint",
    "rules.drift",
    "functions.kll.kll_profile",
    "runner.run",
]
COUNTER_UNITS = {
    "run_ms": "ms",
    "cpu_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "input_bytes": "bytes",
    "tasks": "count",
    "tasks_failed": "count",
}
# spans whose plans run Python operators
PYTHON_SPANS = ["rules.refint", "functions.kll.kll_profile", "leaf.ann_bruteforce"]
PYTHON_UNITS = {"python_bytes_sent": "bytes", "python_bytes_received": "bytes", "python_rows": "count"}
CHECKPOINT_COUNTS = {"checkpoint.bytes_read": "bytes", "checkpoint.bytes_written": "bytes", "checkpoint.entries_read": "count"}

OTHER = {
    "session.get_spark.s": "s",
    "suite.slot_busy": "fraction",
    "suite.violations.rows_scanned_per_violation_row": "rows/row",
    "runner.self_s": "s",
    "trace.overhead_s": "s",
    "ops_failed_frac": "fraction",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    out = {name: "s" for name in TIMED}
    for span in COUNTED_SPANS:
        out.update({f"{span}.{c}": u for c, u in COUNTER_UNITS.items()})
    for span in PYTHON_SPANS:
        out.update({f"{span}.{c}": u for c, u in PYTHON_UNITS.items()})
    out.update(CHECKPOINT_COUNTS)
    out.update(OTHER)
    return out


def per_layer(tracer, runs, cores: int) -> dict[str, tuple[float, str]]:
    """``runs``: (run id, Iteration, checkpoint counts) per traced iteration;
    spans with any other run id belong to the leg probes."""
    counters = tracer.stage_counters()
    run_ids = [rid for rid, _, _ in runs]
    by_run: dict[str, list[int]] = {}
    for i, sp in enumerate(tracer.spans):
        by_run.setdefault(sp.run_id, []).append(i)
    probe_ids = [i for rid, idx in by_run.items() if rid not in run_ids for i in idx]

    def measure(span, value_of) -> float:
        """value_of(indices of the spans named ``span``): once for a leg
        probe, else the median over the traced iterations."""
        if span in PROBED:
            return value_of(named(probe_ids, span))
        return statistics.median(value_of(named(by_run.get(rid, []), span)) for rid in run_ids)

    def named(idx, name):
        return [i for i in idx if tracer.spans[i].name == name]

    out: dict[str, tuple[float, str]] = {}
    for metric, span in TIMED.items():
        out[metric] = (measure(span, lambda idx: sum(tracer.spans[i].duration for i in idx)), "s")
    for span in COUNTED_SPANS:
        for c, unit in COUNTER_UNITS.items():
            v = measure(span, lambda idx, c=c: sum(counters[tracer.spans[i].group][c] for i in idx))
            out[f"{span}.{c}"] = (v, unit)
    for span in PYTHON_SPANS:
        for c, unit in PYTHON_UNITS.items():
            v = measure(span, lambda idx, c=c: sum(tracer.python_counters(i)[c] for i in idx))
            out[f"{span}.{c}"] = (v, unit)
    for name, unit in CHECKPOINT_COUNTS.items():
        out[name] = (statistics.median(ck[name] for _, _, ck in runs), unit)

    def slot_busy(idx):
        roots = named(idx, "iteration")
        wall = sum(tracer.spans[i].duration for i in roots)
        run_ms = sum(counters[tracer.spans[i].group]["run_ms"] for i in roots)
        return run_ms / (wall * 1000.0 * cores) if wall else 0.0

    out["suite.slot_busy"] = (statistics.median(slot_busy(by_run[rid]) for rid in run_ids), "fraction")

    scanned = []
    for rid, it, _ in runs:
        rows = sum(counters[tracer.spans[i].group]["input_records"] for i in named(by_run[rid], "suite.violations"))
        scanned.append(rows / it.n_violations if it.n_violations else 0.0)
    out["suite.violations.rows_scanned_per_violation_row"] = (statistics.median(scanned), "rows/row")
    out["runner.self_s"] = (
        statistics.median(sum(tracer.self_time(i) for i in named(by_run[rid], "runner.run")) for rid in run_ids),
        "s",
    )
    return out
