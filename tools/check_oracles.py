#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at sf0.01, compare
row-count + schema + value-hash after sorting columns by name.  Each
verdict line carries the query's wall seconds on the Spark side (plan
build and collect; the oracle is not timed).  The session takes
``get_spark``'s default core count (``SPARK_GRAFT_CPUS``, else
``os.cpu_count()``).

    python tools/check_oracles.py [query ...]
"""
from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(rows, cols):
    cols = sorted(cols)
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                vals.append(f"{v:.6g}")
            elif isinstance(v, bool):
                vals.append(str(v).lower())
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return hashlib.md5("\n".join(out).encode()).hexdigest(), len(out)


def main():
    from jsonschema_spark.session import get_spark
    import __spark_entry__ as em

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = em.queries(), em.oracle_sql()
    only = sys.argv[1:]
    fails = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        sdf = qs[name](spark, SF_DIR)
        srows = [r.asDict() for r in sdf.collect()]
        secs = f"{time.perf_counter() - t0:.2f} s"
        scols = sdf.columns
        if name not in oracles:
            print(f"  {name}: rows-only ({len(srows)} rows, {secs})")
            continue
        ores = con.execute(oracles[name])
        ocols = [d[0] for d in ores.description]
        orows = [dict(zip(ocols, r)) for r in ores.fetchall()]
        sh, sn = canon(srows, scols)
        oh, on = canon(orows, ocols)
        status = "OK" if (sh == oh and sorted(scols) == sorted(ocols)) else "MISMATCH"
        if status != "OK":
            fails += 1
            print(f"  {name}: {status} ({secs}) spark={sn} rows "
                  f"{sorted(scols)} oracle={on} rows {sorted(ocols)}")
            for a, b in list(zip(sorted(
                    ["|".join(str(r[c]) for c in sorted(scols)) for r in srows]),
                    sorted(["|".join(str(r[c]) for c in sorted(ocols))
                            for r in orows])))[:5]:
                if a != b:
                    print(f"    spark : {a}\n    oracle: {b}")
        else:
            print(f"  {name}: OK ({sn} rows, {secs})")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
