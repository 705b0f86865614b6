"""Local replica of the driver's correctness gate: run every registered query
on Spark AND its DuckDB oracle over the same sf dir, compare row count, column
names, and order-insensitive values.

Usage:
    python tools/check_oracle.py [sf_dir] [query ...]
Default sf_dir is /root/testdata/sf0.01 (the driver's t2 scale).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_core_spark.registry import all_queries  # noqa: E402
from db_core_spark.session import get_spark  # noqa: E402
from db_core_spark.tables import TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # driver sf dirs ship one file per table; make_sf1.py synthesizes
        # Spark-written DIRECTORIES — DuckDB needs a glob for those
        if os.path.isdir(os.path.realpath(p)):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


import re

# Output types that survive DuckDB's fetchall() (exact Python ints) but NOT
# the driver's pandas/arrow fetch path: HUGEINT/UHUGEINT coerce to float64
# (rounds above 2^53), and DECIMAL with precision > 15 exceeds float64's
# exact-integer mantissa the same way. An oracle emitting one of these can
# pass this local gate yet hash-mismatch at the driver (the r6
# simhash_buckets failure). DESCRIBE only plans — cheap to sweep all oracles.
_DECIMAL_RE = re.compile(r"DECIMAL\((\d+),")


def hostile_output_types(con, sql: str) -> list[tuple[str, str]]:
    """Return [(column, type)] oracle output columns whose DuckDB type loses
    precision through the driver's pandas/arrow fetch path."""
    bad = []
    for col, typ, *_ in con.execute(f"DESCRIBE ({sql})").fetchall():
        t = typ.upper()
        if "HUGEINT" in t:
            bad.append((col, typ))
            continue
        m = _DECIMAL_RE.search(t)
        if m and int(m.group(1)) > 15:
            bad.append((col, typ))
    return bad


def normalize(rows: list[tuple], cols: list[str]):
    """Sort columns by name, then rows; stringify values the way a hash
    would see them (dates/timestamps via isoformat, floats via repr)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)
        if isinstance(v, bool):
            return str(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm_val(x) for x in v) + "]"
        return str(v)

    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows), [cols[i] for i in order]


def compare_one(spark, con, name, rq, sf_dir) -> tuple[bool, str]:
    hostile = hostile_output_types(con, rq.oracle)
    if hostile:
        return False, (
            f"HOSTILE ORACLE TYPE {hostile} — would round to float64 in the "
            "driver's arrow fetch; CAST the column to BIGINT/DOUBLE in the oracle"
        )
    t0 = time.time()
    sdf = rq.fn(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns
    spark_secs = time.time() - t0
    res = con.execute(rq.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(scols) != sorted(ocols):
        return False, f"COLS spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return False, f"ROWCOUNT spark={len(srows)} oracle={len(orows)}"
    s_norm, cols = normalize([tuple(r) for r in srows], scols)
    o_norm, _ = normalize(orows, ocols)
    if s_norm != o_norm:
        diffs = [
            (a, b) for a, b in zip(s_norm, o_norm) if a != b
        ][:3]
        return False, f"VALUES {len([1 for a, b in zip(s_norm, o_norm) if a != b])} differing rows; first: {diffs}"
    return True, f"OK rows={len(srows)} spark={spark_secs:.1f}s"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = all_queries()
    spark = get_spark("check_oracle")
    con = duck_con(sf_dir)
    n_pass = n_fail = n_skip = 0
    for name, rq in sorted(qs.items()):
        if only and name not in only:
            continue
        if rq.oracle is None:
            try:
                cnt = rq.fn(spark, sf_dir).count()
                print(f"  [rows-only] {name}: {cnt} rows")
                n_skip += 1
            except Exception as exc:  # noqa: BLE001
                print(f"✗ FAIL (rows-only run) {name}: {exc}")
                n_fail += 1
            continue
        try:
            ok, msg = compare_one(spark, con, name, rq, sf_dir)
        except Exception as exc:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION {type(exc).__name__}: {str(exc)[:500]}"
        status = "✓" if ok else "✗ FAIL"
        print(f"{status} {name}: {msg}")
        n_pass += ok
        n_fail += not ok
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
