"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry at sf0.01 and diff against its ``oracle_sql()``
DuckDB result — row count, column names, and order-insensitive values
(columns sorted by name, rows sorted by stringified tuple).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, ".")
import __spark_entry__ as E  # noqa: E402
from json_schema_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
TABLES = "region nation customer supplier part orders lineitem events documents".split()


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return [cols[i] for i in order], out


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    spark = get_spark(cores=8)
    qs, oracles = E.queries(), E.oracle_sql()
    fails = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            fails += 1
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {el:.1f}s)")
            continue
        try:
            ores = con.execute(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            fails += 1
            continue
        sc, sv = canon(scols, srows)
        oc, ov = canon(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns {sc} != {oc}")
            fails += 1
        elif len(sv) != len(ov):
            print(f"FAIL {name}: rowcount {len(sv)} != {len(ov)}")
            fails += 1
        elif sv != ov:
            bad = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
            print(f"FAIL {name}: values differ, first diffs: {bad}")
            fails += 1
        else:
            print(f"PASS {name}: {len(sv)} rows ({el:.1f}s)")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
