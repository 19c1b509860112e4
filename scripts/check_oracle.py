"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at sf0.01, then compares row count, column names, and an
order-insensitive value hash. Usage:

    python scripts/check_oracle.py [name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, int):
        return str(v)
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def connect(sf_dir: str = SF_DIR):
    """DuckDB connection with every driver table as a view over
    ``sf_dir``'s parquet."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def check(name, spark, con, qs, oracles, sf_dir: str = SF_DIR):
    """Run query ``name`` on Spark and, when it has one, its oracle on
    DuckDB. Returns ``(ok, report)``: ``report`` is the one-line
    verdict, followed by sample rows when a small result mismatches."""
    t0 = time.time()
    sdf = qs[name](spark, sf_dir)
    scols = sdf.columns
    if name in oracles:
        # Flat-schema lint: the DRIVER's canonicalizer sorts result
        # frames with pandas, which raises on unhashable list cells
        # — any top-level array/map/struct column in an oracle-backed
        # output is red in CORRECTNESS even when values are correct
        # (r4: jl_projection_vectors / mrl_truncated_vectors).
        complex_cols = [
            f"{c}:{t}"
            for c, t in sdf.dtypes
            if t.startswith(("array", "map", "struct"))
        ]
        if complex_cols:
            return False, (
                f"{name:32s} FAIL non-flat oracle-backed output "
                f"(driver canon can't hash): {complex_cols}"
            )
    srows = [tuple(r) for r in sdf.collect()]
    spark_s = time.time() - t0
    if name not in oracles:
        return True, f"{name:32s} rows-only rows={len(srows)} ({spark_s:.1f}s)"
    t0 = time.time()
    res = con.execute(oracles[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    duck_s = time.time() - t0
    ok_rows = len(srows) == len(drows)
    ok_cols = sorted(scols) == sorted(dcols)
    ok_hash = value_hash(scols, srows) == value_hash(dcols, drows)
    ok = ok_rows and ok_cols and ok_hash
    report = (
        f"{name:32s} {'OK' if ok else 'FAIL'} rows={len(srows)}/{len(drows)}"
        f" cols={'=' if ok_cols else f'{scols} vs {dcols}'}"
        f" hash={'=' if ok_hash else '!'} ({spark_s:.1f}s/{duck_s:.1f}s)"
    )
    if not ok and len(srows) <= 40:
        report += f"\n  spark: {sorted(srows)[:10]}\n  duck : {sorted(drows)[:10]}"
    return ok, report


def main():
    from pagerank_hadoop_spark import queries as Q
    from pagerank_hadoop_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = connect()
    qs = Q.queries()
    oracles = Q.oracle_sql()
    names = sys.argv[1:] or sorted(qs)
    failures = 0
    for name in names:
        ok, report = check(name, spark, con, qs, oracles)
        failures += not ok
        print(report)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
