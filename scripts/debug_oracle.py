"""Run named driver queries on Spark and on their DuckDB oracle, and compare.

    SF=<testdata tier dir> PYTHONPATH=. python scripts/debug_oracle.py [<query>...]

With no query names it checks every ``queries()`` entry (the full board).
Prints match / MISMATCH / an error per query and exits 1 unless every
checked query matched its oracle.
"""

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as em
from slower_whisper_spark.session import get_spark

SF = os.environ.get("SF", "/root/testdata/sf0.001")
# oracles with data-derived literals (kll_drift_psi) must build them from
# the SAME tier the duckdb views read, even when SF wasn't exported
os.environ["SWS_ORACLE_SF_DIR"] = SF
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

spark = get_spark(shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

Q, O = em.queries(), em.oracle_sql()
names = sys.argv[1:] or list(Q)

def norm(df):
    df = df[sorted(df.columns)]
    rows = []
    for _, r in df.iterrows():
        vals = []
        for v in r:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, bool):
                vals.append(str(int(v)))
            elif isinstance(v, float):
                vals.append(f"{v:.6f}")
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return sorted(rows)


def check(name):
    """Print the comparison for one query; True iff it matched its oracle."""
    print(f"===== {name}")
    try:
        spdf = Q[name](spark, SF).toPandas()
    except Exception as e:
        print("SPARK ERROR:", type(e).__name__, str(e)[:300])
        return False
    if name not in O:
        print("no oracle; rows:", len(spdf))
        return False
    try:
        odf = con.sql(O[name]).df()
    except Exception as e:
        print("DUCKDB ERROR:", str(e)[:300])
        return False
    spdf.columns = [c.lower() for c in spdf.columns]
    odf.columns = [c.lower() for c in odf.columns]
    if sorted(spdf.columns) != sorted(odf.columns):
        print("COLS spark:", sorted(spdf.columns), "oracle:", sorted(odf.columns))
        return False
    if len(spdf) != len(odf):
        print("ROWS spark:", len(spdf), "oracle:", len(odf))
    l, r = norm(spdf), norm(odf)
    bad = [(a, b) for a, b in zip(l, r) if a != b]
    print("match" if (l == r) else f"MISMATCH {len(bad)}; first: {bad[:3]}")
    return l == r


failed = [name for name in names if not check(name)]
print(f"{len(names) - len(failed)}/{len(names)} match" + (f"; failed: {' '.join(failed)}" if failed else ""))
sys.exit(1 if failed else 0)
