"""Expected suite results, computed with pandas from the generated table.

Nothing here calls the engine under test: verdicts, violation keys and
stats null counts follow from the rows on disk and the suite's definition
(inputs.build_suite). The comparison helpers return a list of mismatch
descriptions; an empty list means the engine's output is correct.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

from perfbench.inputs import STATS_COLUMNS, VIOLATION_LIMIT

LANG_RE = r"^[a-z]{2}(-[A-Z]{2})?$"
TS_MIN = pd.Timestamp("2026-07-01", tz="UTC")
TS_MAX = pd.Timestamp("2026-07-31", tz="UTC")
DRIFT_EDGES = (100.0, 500.0, 20)  # lo, hi, buckets of the suite's drift baseline
DRIFT_THRESHOLD = 10.0
DRIFT_MIN_ROWS = 100
DRIFT_EPS = 1e-6
PSI_TOLERANCE = 1e-4

ROW_RULES = [
    "not_null(url)",
    "not_null(lang)",
    "pattern(lang)",
    "range(warc_ts)",
    "length(text)",
    "html_min_bytes",
    "host_known",
]


def _load(paths) -> tuple[pd.DataFrame, pd.DataFrame, set[str]]:
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    part = ds.partitioning(pa.schema([("warc_day", pa.string())]), flavor="hive")
    docs = ds.dataset(paths["docs"], format="parquet", partitioning=part).to_table().to_pandas()
    expected = pq.read_table(paths["expected_text"]).to_pandas()
    ref = set(pq.read_table(paths["ref_domains"]).column("host").to_pylist())
    return docs, expected, ref


def _psi(text_len: np.ndarray) -> float:
    lo, hi, n = DRIFT_EDGES
    bucket = np.where(
        text_len < lo, 0, np.where(text_len >= hi, n + 1, (n * (text_len - lo) / (hi - lo)).astype(np.int64) + 1)
    )
    counts = np.bincount(bucket, minlength=n + 2).astype(np.float64)
    p = (counts + DRIFT_EPS) / (counts.sum() + DRIFT_EPS)
    q = (1.0 + DRIFT_EPS) / (n + 2 + DRIFT_EPS)
    return float(np.sum((p - q) * np.log(p / q)))


def compute_expected(paths) -> dict:
    """Expected per-(partition, rule) verdicts, the first VIOLATION_LIMIT
    violation keys per rule, per-(partition, column) stats null counts, the
    WARC records rendered from the table and the per-partition ``text_len``
    values (for the seeded manifest)."""
    docs, expected, ref = _load(paths)
    url, lang, text = docs["url"], docs["lang"], docs["text"]
    host = url.str.split("/").str[2]
    sha = pd.Series([hashlib.sha256(t.encode("utf-8")).hexdigest() for t in text], index=docs.index)
    want_sha = url.map(expected.set_index("url")["text_sha256"])
    lang_ok = lang.notna() & lang.fillna("").str.fullmatch(LANG_RE)

    fails = {
        "not_null(url)": url.isna(),
        "not_null(lang)": lang.isna(),
        "pattern(lang)": ~lang_ok,
        "range(warc_ts)": docs["warc_ts"].isna() | (docs["warc_ts"] < TS_MIN) | (docs["warc_ts"] > TS_MAX),
        "length(text)": text.isna() | (text.fillna("").str.len() < 1),
        "html_min_bytes": docs["html"].map(lambda b: b is None or len(b) < 16),
        "host_known": host.notna() & ~host.isin(ref),
        "unique(url)": url.duplicated(keep=False),
        "text_bytes": want_sha.notna() & (sha != want_sha),
    }
    observed_fmt = {
        "unique(url)": ("{} rows with duplicated key", "url unique"),
        "text_bytes": ("{} rows with hash mismatch", "sha256(text) == expected"),
    }

    parts = docs["warc_day"]
    rows_by_part = parts.value_counts().to_dict()
    verdicts = {}
    for rid, mask in fails.items():
        per_part = mask.groupby(parts).sum().to_dict()
        for p, n_rows in rows_by_part.items():
            v = int(per_part.get(p, 0))
            if rid in observed_fmt:
                obs = observed_fmt[rid][0].format(v) if v else "ok"
            else:
                obs = f"{v} violating rows"
            verdicts[f"{p}|{rid}"] = {"passed": v == 0, "rows": int(n_rows), "violations": v, "observed": obs}

    text_len = text.str.len().to_numpy()
    text_len_by_part = {}
    for p, idx in docs.groupby("warc_day").indices.items():
        tl = text_len[idx]
        text_len_by_part[p] = tl.tolist()
        if len(tl) < DRIFT_MIN_ROWS:
            verdicts[f"{p}|drift(text_len)"] = {
                "passed": True, "rows": len(tl), "violations": 0, "psi": None,
                "observed": f"skipped: n={len(tl)} < min_rows={DRIFT_MIN_ROWS}",
            }
        else:
            psi = _psi(tl)
            verdicts[f"{p}|drift(text_len)"] = {
                "passed": psi <= DRIFT_THRESHOLD, "rows": len(tl), "violations": 0, "psi": psi,
            }

    # violation rows: first VIOLATION_LIMIT keys per rule in key order;
    # Unique reports each duplicated key once
    violation_keys = {}
    for rid, mask in fails.items():
        keys = url[mask]
        if rid == "unique(url)":
            keys = keys.drop_duplicates()
        violation_keys[rid] = sorted(keys.tolist())[:VIOLATION_LIMIT]

    stats_nulls = {}
    for p, idx in docs.groupby("warc_day").indices.items():
        for c in STATS_COLUMNS:
            stats_nulls[f"{p}|{c}"] = int(docs[c].iloc[idx].isna().sum())

    # parse_warc_blobs over the rendered shards (inputs.ensure_warc_shards)
    rendered = url.notna() & text.notna()
    warc = {"records": int(rendered.sum()), "payload_bytes": int(text[rendered].str.encode("utf-8").str.len().sum())}

    return {
        "rows": int(len(docs)),
        "warc": warc,
        "partitions": sorted(rows_by_part),
        "verdicts": verdicts,
        "violation_keys": violation_keys,
        "stats_nulls": stats_nulls,
        "text_len_by_part": text_len_by_part,
    }


def load_expected(paths) -> dict:
    """compute_expected, cached next to the table it describes."""
    cache = os.path.join(paths["dir"], "expected.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    exp = compute_expected(paths)
    with open(cache + ".tmp", "w") as f:
        json.dump(exp, f)
    os.replace(cache + ".tmp", cache)
    return exp


# --------------------------------------------------------------------- #
# comparisons
# --------------------------------------------------------------------- #
def check_verdicts(rows, exp: dict, partitions: list[str] | None = None) -> list[str]:
    """``rows``: collected verdict rows. ``partitions``: the partitions the
    run covered (default: all)."""
    want = {k: v for k, v in exp["verdicts"].items() if partitions is None or k.split("|")[0] in partitions}
    got = {f"{r['partition']}|{r['rule_id']}": r for r in rows}
    errs = []
    if set(got) != set(want):
        errs.append(f"verdict keys differ: missing {sorted(set(want) - set(got))[:5]}, extra {sorted(set(got) - set(want))[:5]}")
    for k in sorted(set(got) & set(want)):
        g, w = got[k], want[k]
        if bool(g["passed"]) != w["passed"] or int(g["rows"]) != w["rows"] or int(g["violations"]) != w["violations"]:
            errs.append(f"{k}: got passed={g['passed']} rows={g['rows']} violations={g['violations']}, want {w}")
        elif w.get("psi") is not None:
            psi = float(g["observed"].split("=", 1)[1]) if g["observed"].startswith("psi=") else math.nan
            if not abs(psi - w["psi"]) <= PSI_TOLERANCE:
                errs.append(f"{k}: got {g['observed']}, want psi={w['psi']:.6f}")
        elif g["observed"] != w["observed"]:
            errs.append(f"{k}: got observed {g['observed']!r}, want {w['observed']!r}")
    return errs


def expected_violation_count(exp: dict) -> int:
    return sum(len(v) for v in exp["violation_keys"].values())


def check_violations(rows, exp: dict) -> list[str]:
    got: dict[str, list[str]] = {}
    for r in rows:
        got.setdefault(r["rule_id"], []).append(r["key"])
    errs = []
    for rid, keys in exp["violation_keys"].items():
        if sorted(got.pop(rid, [])) != keys:
            errs.append(f"violation keys of {rid} differ")
    if got:
        errs.append(f"violations for unexpected rules {sorted(got)}")
    return errs


def check_stats(rows, exp: dict) -> list[str]:
    got = {f"{r['partition']}|{r['column']}": int(r["nulls"]) for r in rows}
    return [] if got == exp["stats_nulls"] else ["stats null counts differ"]


def check_warc(row, exp: dict) -> list[str]:
    """``row``: (records, payload bytes, malformed) of the parsed shards."""
    want = (exp["warc"]["records"], exp["warc"]["payload_bytes"], 0)
    got = (int(row["n"]), int(row["payload_bytes"] or 0), int(row["bad"]))
    return [] if got == want else [f"parse_warc_blobs: got (records, bytes, malformed) {got}, want {want}"]


def partition_rollup(exp: dict, partition: str) -> dict:
    """Expected SuiteResult.partition_status row for one partition."""
    vs = [v for k, v in exp["verdicts"].items() if k.split("|")[0] == partition]
    failed = sum(1 for v in vs if not v["passed"])
    return {
        "rows": vs[0]["rows"],
        "violations": sum(v["violations"] for v in vs),
        "rules_failed": failed,
        "status": "success" if failed == 0 else "partial",
    }
