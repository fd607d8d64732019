"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at a given sf dir; compare row count,
column-name set, and an order-insensitive value hash. Usage:
    python tools/check_oracle.py [sf_dir] [query ...]
Exits 0 when every query passes, 1 when any fails, and 2 (before starting
Spark) when a named query is not in queries().
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry
from medical_doc_knowledge_graph_system_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "|".join(_norm(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(canon).encode()).hexdigest()[:12]


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        import os
        if os.environ.get("STRICT_FLOATS"):
            return repr(v)
        return f"{v:.6g}"
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, oracles = entry.queries(), entry.oracle_sql()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query names: {unknown}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark(cores=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"create view {t} as select * from '{p}'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        # The driver's canonicalizer (pandas sort_values -> factorize) can't
        # hash list/dict cells — reject them by SCHEMA (exact and
        # row-independent; value-sniffing misses all-NULL prefixes and empty
        # results) so the local gate can never pass an output the driver
        # gate would error on.
        from pyspark.sql import types as T

        bad_cells = {
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        }
        if bad_cells:
            print(f"FAIL {name}: non-hashable output columns {sorted(bad_cells)} "
                  "(driver canonicalizer rejects list/dict cells — join to a string)")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only)")
            continue
        try:
            res = con.sql(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
        status = "PASS" if (len(srows) == len(orows) and sorted(scols) == sorted(ocols) and sh == oh) else "FAIL"
        print(
            f"{status} {name}: spark_rows={len(srows)} oracle_rows={len(orows)} "
            f"hash {'==' if sh == oh else sh + ' vs ' + oh} cols_match={sorted(scols) == sorted(ocols)} "
            f"({time.time() - t0:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if sorted(scols) != sorted(ocols):
                print(f"   spark cols: {sorted(scols)}\n   oracle cols: {sorted(ocols)}")
            sset = {tuple(_norm(v) for v in r) for r in srows}
            oset = {tuple(_norm(v) for v in r) for r in orows}
            so = sorted(sset - oset)[:3]
            os_ = sorted(oset - sset)[:3]
            if so:
                print("   only spark:", so)
            if os_:
                print("   only oracle:", os_)
    print("\nfailures:", failures or "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
