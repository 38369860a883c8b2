"""The headline query leaves, over tables generated in the checkout.

The leaves are the queries ``bench.py`` times after the suite. They read a
small star schema (documents, embeddings, events, lineitem, orders,
customer, nation) with the columns and value ranges of the test data that
TESTDATA.md describes, generated here from a fixed seed so every run sees
the same input. Each leaf's rows are compared with its ``oracle_sql()`` run
in duckdb over the same files, normalised the way ``scripts/debug_oracle.py``
does.
"""

from __future__ import annotations

import datetime
import math
import os
import shutil

import numpy as np

# the leaves bench.py reports, copied so an engine change cannot change them
HEADLINE_QUERIES = [
    "pricing_summary",
    "refint_counts",
    "stats_profile",
    "verdict_rollup",
    "sessionize",
    "dedup_exact",
    "minhash_neardup",
    "ann_bruteforce",
    "token_counts",
    "drift_histogram",
    "quality_filter",
    "paragraph_dedup",
]
SEED = 42
# table sizes of the test data's 0.01 scale factor
N_DOCS, N_EMB, EMB_DIM, N_EVENTS = 500, 500, 64, 10_000
N_LINEITEM, N_ORDERS, N_CUSTOMER, N_NATION = 60_000, 15_000, 1_500, 25

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort window "
    "order data column join small customer query big filter vector stream group"
).split()
LANGS, LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _documents(rng):
    import pandas as pd

    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 20 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 20 and r < 0.07:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(8, 90))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _tables(rng) -> dict:
    import pyarrow as pa

    emb = rng.normal(size=(N_EMB, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    gaps = rng.exponential(259.0, N_EVENTS)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    return {
        "documents": pa.Table.from_pandas(_documents(rng), preserve_index=False),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, N_EMB).astype(np.int32)),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(N_EVENTS, dtype=np.int64),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": rng.integers(0, 150, N_EVENTS).astype(np.int64),
                "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], N_EVENTS),
                "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
                "l_partkey": rng.integers(0, 2000, N_LINEITEM).astype(np.int64),
                "l_suppkey": rng.integers(0, 100, N_LINEITEM).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
                "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, N_LINEITEM), 2),
                "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
                "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
                "l_linestatus": rng.choice(["O", "F"], N_LINEITEM),
                "l_shipdate": pa.array(_days(rng, N_LINEITEM, "1995-01-02", "2001-11-04"), type=pa.timestamp("us")),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
                "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, N_ORDERS), 2),
                "o_orderdate": pa.array(_days(rng, N_ORDERS, "1995-01-01", "2001-08-01"), type=pa.timestamp("us")),
                "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                "c_nationkey": rng.integers(0, N_NATION, N_CUSTOMER).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
                "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], N_CUSTOMER),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(N_NATION, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(N_NATION)],
                "n_regionkey": (np.arange(N_NATION) % 5).astype(np.int32),
            }
        ),
    }


def ensure_tables(work_dir: str) -> str:
    """Write (once) the leaf tables, one parquet file each; returns their directory."""
    import pyarrow.parquet as pq

    out = os.path.join(work_dir, "inputs", f"leaves_s{SEED}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, table in _tables(np.random.default_rng(SEED)).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write("ok")
    return out


def _norm(df) -> list[str]:
    """Rows as sorted strings, floats to 6 places (scripts/debug_oracle.py)."""
    df = df[sorted(df.columns)]
    rows = []
    for r in df.itertuples(index=False):
        vals = []
        for v in r:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, (bool, np.bool_)):
                vals.append(str(int(v)))
            elif isinstance(v, (float, np.floating)):
                vals.append(f"{v:.6f}")
            elif isinstance(v, (datetime.datetime, datetime.date)):
                vals.append(v.isoformat())
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return sorted(rows)


def run_leaves(spark, tracer, data_dir: str) -> list[str]:
    """Each headline leaf once to warm it, then once inside a span named
    ``leaf.<query>``; returns the mismatches against the duckdb oracle."""
    import duckdb

    os.environ["SWS_ORACLE_SF_DIR"] = data_dir  # oracles that read literals from the data
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for name in os.listdir(data_dir):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{os.path.join(data_dir, name)}'")
    errors = []
    for q in HEADLINE_QUERIES:
        queries[q](spark, data_dir).toPandas()
        with tracer.span(f"leaf.{q}"):
            df = queries[q](spark, data_dir)
            got = df.toPandas()
            tracer.keep(df)
        want = con.sql(oracles[q]).df()
        got.columns = [c.lower() for c in got.columns]
        want.columns = [c.lower() for c in want.columns]
        if sorted(got.columns) != sorted(want.columns):
            errors.append(f"leaf {q}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}")
        elif _norm(got) != _norm(want):
            errors.append(f"leaf {q}: {len(got)} rows differ from the oracle's {len(want)}")
    con.close()
    return errors
