"""Deterministic synthetic Common-Crawl-style webtext tables (FIXTURES.md F1-F3).

Table shape is the BASELINE.json input_hint verbatim:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Generation is pure numpy with a fixed seed → byte-stable across runs. The
deliberate corruptions (duplicate urls, invalid langs, out-of-window
timestamps, mutated texts, unknown hosts) are placed at *deterministic* row
indices so golden tests can assert exact violation sets.

Host choice is zipfian — a few mega-domains own most rows — which is the
host-domain skew the north rule requires the uniqueness/shuffle path to
survive.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

_WORDS = (
    "the quick brown fox jumps over lazy dog web page crawl content "
    "data stream text token index search query result link anchor title "
    "body header footer nav article section paragraph image video news"
).split()

_LANGS = ["en", "es", "fr", "de", "zh", "pt", "en-US", "pt-BR"]
_LANG_P = [0.45, 0.12, 0.10, 0.08, 0.08, 0.07, 0.06, 0.04]
_BAD_LANGS = ["english", "", "E N", "eng-US"]

EPOCH_LO = np.datetime64("2026-07-01T00:00:00")
WINDOW_SECONDS = 30 * 24 * 3600  # 30-day window


@dataclass
class CorruptionPlan:
    """Deterministic fractions of rows corrupted per violation class."""

    dup_url: float = 0.001
    bad_lang: float = 0.005
    null_lang: float = 0.002
    out_of_window_ts: float = 0.001
    mutated_text: float = 0.002
    unknown_host: float = 0.002  # hosts absent from ref_domains


def _text_for(rng_ints: np.ndarray) -> list[str]:
    """Deterministic text from per-row integer seeds (vectorized-ish)."""
    words = np.array(_WORDS)
    out = []
    for s in rng_ints:
        r = np.random.RandomState(int(s) & 0x7FFFFFFF)
        n = 20 + int(r.randint(0, 60))
        out.append(" ".join(words[r.randint(0, len(words), n)]))
    return out


def _text_fast(rng: np.random.RandomState, n_rows: int) -> list[str]:
    """Vectorized text generation for bench-scale tables: one RNG draw for
    all rows (still fully deterministic given the seed)."""
    words = np.array(_WORDS)
    lens = rng.randint(20, 80, size=n_rows)
    idx = rng.randint(0, len(words), size=int(lens.sum()))
    toks = words[idx]
    out = []
    pos = 0
    for ln in lens:
        out.append(" ".join(toks[pos : pos + ln]))
        pos += ln
    return out


def generate_docs(
    n_rows: int,
    seed: int = 42,
    n_hosts: int | None = None,
    plan: CorruptionPlan | None = None,
    html_mean_bytes: int = 256,
    fast_text: bool = False,
    path_offset: int = 0,
    html_mode: str = "random",
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Returns (docs, expected_text, ref_domains) as pandas DataFrames.

    docs: F1 (with corruptions). expected_text: F2 (url → correct sha256 of
    the UNmutated text; mutated rows therefore mismatch). ref_domains: F3
    (all hosts except the deliberate unknown set).

    ``html_mode``: "random" (default — opaque pseudo-random bytes, the
    historical corpus; keeps every earlier fingerprint/bench comparable) or
    "real" — html is ``functions.html.render_html_py`` of the PRISTINE text
    (pre-mutation), so ``ExtractionInvariant`` violations land on exactly
    the mutated-text rows that ``HashInvariant`` flags.
    """
    plan = plan or CorruptionPlan()
    rng = np.random.RandomState(seed)
    n_hosts = n_hosts or max(20, n_rows // 200)

    # zipfian host assignment (skew: host 0 is a mega-domain)
    ranks = np.arange(1, n_hosts + 1, dtype=np.float64)
    probs = 1.0 / ranks**1.2
    probs /= probs.sum()
    host_idx = rng.choice(n_hosts, size=n_rows, p=probs)
    hosts_all = np.array([f"h{i:05d}.example.org" for i in range(n_hosts)])

    # unknown hosts: a deterministic tail slice of the host id space
    n_unknown = max(1, int(n_hosts * plan.unknown_host * 10)) if plan.unknown_host > 0 else 0
    unknown_host_ids = set(range(n_hosts - n_unknown, n_hosts)) if n_unknown else set()

    path_ids = np.arange(path_offset, path_offset + n_rows)
    urls = np.array(
        [f"https://{hosts_all[h]}/p/{i:010d}" for i, h in zip(path_ids, host_idx)]
    )

    # duplicate urls: overwrite deterministic indices with earlier urls
    n_dup = int(n_rows * plan.dup_url)
    dup_targets = np.arange(1, n_dup + 1) * (n_rows // max(n_dup + 1, 2))
    dup_targets = dup_targets[dup_targets < n_rows]
    urls[dup_targets] = urls[dup_targets // 2]

    # timestamps: uniform within the window; some pushed outside
    offs = rng.randint(0, WINDOW_SECONDS, size=n_rows)
    ts = EPOCH_LO + offs.astype("timedelta64[s]")
    n_oow = int(n_rows * plan.out_of_window_ts)
    oow_idx = (np.arange(n_oow) * 7919 + 13) % n_rows if n_oow else np.array([], dtype=int)
    oow_idx = np.unique(oow_idx)
    ts[oow_idx] = EPOCH_LO - np.timedelta64(90, "D")

    # langs
    lang = rng.choice(_LANGS, size=n_rows, p=_LANG_P).astype(object)
    n_bad = int(n_rows * plan.bad_lang)
    bad_idx = np.unique((np.arange(n_bad) * 104729 + 5) % n_rows) if n_bad else np.array([], dtype=int)
    for j, i in enumerate(bad_idx):
        lang[i] = _BAD_LANGS[j % len(_BAD_LANGS)]
    n_null = int(n_rows * plan.null_lang)
    null_idx = np.unique((np.arange(n_null) * 15485863 + 3) % n_rows) if n_null else np.array([], dtype=int)
    for i in null_idx:
        lang[i] = None

    # text: deterministic per row-seed; expected hash computed BEFORE mutation
    if fast_text:
        texts = np.array(_text_fast(rng, n_rows), dtype=object)
    else:
        text_seeds = rng.randint(0, 2**31 - 1, size=n_rows)
        texts = np.array(_text_for(text_seeds), dtype=object)
    expected = pd.DataFrame({"url": urls, "text": texts}).drop_duplicates("url", keep="first")
    expected["text_sha256"] = [
        hashlib.sha256(t.encode("utf-8")).hexdigest() for t in expected["text"]
    ]
    expected = expected[["url", "text_sha256"]].reset_index(drop=True)

    pristine = texts.copy()
    n_mut = int(n_rows * plan.mutated_text)
    mut_idx = np.unique((np.arange(n_mut) * 999983 + 7) % n_rows) if n_mut else np.array([], dtype=int)
    for i in mut_idx:
        texts[i] = texts[i] + " [CORRUPTED]"

    if html_mode == "real":
        # rendered from the pristine text: extraction invariant violations
        # == mutated rows (rng untouched — html is the last rng consumer,
        # so both modes yield identical urls/ts/lang/text)
        from slower_whisper_spark.functions.html import render_html_py

        html = [
            render_html_py(t, variant=i % 8).encode("utf-8")
            for i, t in enumerate(pristine)
        ]
    else:
        # html: pseudo-random bytes, length lognormal around html_mean_bytes
        lens = np.clip(
            rng.lognormal(mean=np.log(html_mean_bytes), sigma=0.6, size=n_rows), 16, html_mean_bytes * 16
        ).astype(int)
        blob = rng.bytes(int(lens.sum()))
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        html = [blob[s : s + l] for s, l in zip(starts, lens)]

    docs = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(ts).dt.tz_localize("UTC"),
            "html": html,
            "text": texts,
            "lang": lang,
        }
    )

    known_hosts = [h for i, h in enumerate(hosts_all) if i not in unknown_host_ids]
    ref_domains = pd.DataFrame({"host": known_hosts})
    return docs, expected, ref_domains


def write_docs_dataset_chunked(
    out_dir: str,
    n_rows: int,
    seed: int = 42,
    chunk_rows: int = 2_000_000,
    n_hosts: int = 20_000,
    **kwargs,
) -> dict[str, str]:
    """Large-table variant: generate in chunks (bounded memory), write
    hive-partitioned parquet via pyarrow directly (no Spark needed).
    Chunk path-id offsets keep urls globally unique except the deliberate
    in-chunk duplicates; host inventory is fixed so ref_domains is stable."""
    import os

    import pyarrow.dataset  # noqa: F401  (registers the dataset writer)
    import pyarrow.parquet as pq

    paths = {
        "docs": os.path.join(out_dir, "docs"),
        "expected_text": os.path.join(out_dir, "expected_text.parquet"),
        "ref_domains": os.path.join(out_dir, "ref_domains.parquet"),
    }
    os.makedirs(out_dir, exist_ok=True)

    expected_parts = []
    ref_written = False
    done = 0
    ci = 0
    while done < n_rows:
        take = min(chunk_rows, n_rows - done)
        docs, expected, ref = generate_docs(
            take,
            seed=seed + ci,
            n_hosts=n_hosts,
            fast_text=True,
            path_offset=done,
            **kwargs,
        )
        docs["warc_day"] = docs["warc_ts"].dt.date.astype(str)
        tbl = pa.Table.from_pandas(docs, preserve_index=False)
        pq.write_to_dataset(
            tbl,
            root_path=paths["docs"],
            partition_cols=["warc_day"],
            basename_template=f"chunk{ci:03d}-part-{{i}}.parquet",
            row_group_size=50_000,
        )
        expected_parts.append(expected)
        if not ref_written:
            pq.write_table(pa.Table.from_pandas(ref, preserve_index=False), paths["ref_domains"])
            ref_written = True
        done += take
        ci += 1

    expected_all = pd.concat(expected_parts, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(expected_all, preserve_index=False),
        paths["expected_text"],
        row_group_size=50_000,
    )
    return paths
