"""Local stand-in for the driver's correctness gate.

Runs each selected query on Spark and, where it has an oracle, the oracle on
DuckDB over the same parquet tables, through the one gate in
``spark_ensemble_spark/oracle.py`` (type audits, names, row counts, and both
fetch lanes). With no names it checks the driver's 50-row window; named rows
may come from the whole ``@query`` registry, and an unknown name is an error.

    python scripts/check_correctness.py [sf_dir] [name ...]

Prints one OK/ROWS/FAIL line per row, then a summary line; exits 1 when a row
fails and 2 when a name is unknown.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def select(names):
    """``({name: (query fn, oracle SQL or None)}, unknown names)``: the
    driver's window (through its entry module) when ``names`` is empty, else
    the named rows from the whole registry."""
    if not names:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        return {n: (fn, oracles.get(n)) for n, fn in entry.queries().items()}, []
    from spark_ensemble_spark.queries import ALL_ORACLES, ALL_SPARK_QUERIES

    known = [n for n in names if n in ALL_SPARK_QUERIES]
    rows = {n: (ALL_SPARK_QUERIES[n], ALL_ORACLES.get(n)) for n in known}
    return rows, [n for n in names if n not in ALL_SPARK_QUERIES]


def main(argv) -> int:
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    rows, unknown = select(argv[1:])
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}")
        return 2

    from spark_ensemble_spark import oracle
    from spark_ensemble_spark.session import get_spark

    spark = get_spark("correctness-check", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle.connect(sf_dir)

    n_pass = n_fail = n_rowsonly = 0
    for name, (fn, sql) in rows.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            got = oracle.spark_result(sdf)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if sql is None:
            print(f"ROWS  {name}: {len(got.rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(sql)
            want = oracle.duck_result(rel)
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = oracle.audit_types(rel, sdf.schema) + oracle.compare(got, want)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"OK    {name}: {len(got.rows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} oracle-pass, {n_rowsonly} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
