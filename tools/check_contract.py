"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01 next to its oracle_sql()
via DuckDB and compare row-count, column names, Arrow-level column
types, and an order-insensitive value hash.

Type-faithful (round-2 fix, VERDICT.md r01 #2): both sides are
fetched as Arrow tables (`df.toArrow()` / `con.execute(sql).arrow()`)
and the hash is salted with a per-column TYPE-FAMILY signature, so a
DuckDB `SUM(BIGINT) -> decimal128(38,0)` vs Spark `int64` mismatch
fails here exactly as it does at the driver (round 1: the str()-based
hash masked 4 such failures). Families (int / decimal / float /
string / bool / ...) rather than exact types, so benign width
differences (string vs large_string) don't false-alarm.

Usage: python tools/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _type_family(t) -> str:
    import pyarrow.types as pt

    if pt.is_boolean(t):
        return "bool"
    if pt.is_integer(t):
        return "int"
    if pt.is_decimal(t):
        return "decimal"
    if pt.is_floating(t):
        return "float"
    if pt.is_string(t) or pt.is_large_string(t):
        return "string"
    if pt.is_date(t) or pt.is_timestamp(t):
        return "datetime"
    if pt.is_list(t) or pt.is_large_list(t):
        return f"list<{_type_family(t.value_type)}>"
    return str(t)


def type_sig(tbl) -> str:
    return "|".join(
        f"{n}:{_type_family(tbl.schema.field(n).type)}"
        for n in sorted(tbl.column_names)
    )


def value_hash(tbl) -> str:
    """Order-insensitive over an Arrow table: sort columns by name,
    salt with the type-family signature, normalize values, sort rows,
    sha256. Type families in the salt mean value-equal-but-type-
    different results hash apart — matching the driver's behavior."""
    names = sorted(tbl.column_names)
    cols = [tbl.column(n).to_pylist() for n in names]
    norm = []
    for r in zip(*cols):
        vals = []
        for v in r:
            if isinstance(v, bool):
                vals.append(str(v).lower())
            elif isinstance(v, float):
                vals.append(f"{v:.6g}")
            else:
                vals.append(str(v))
        norm.append("\x1f".join(vals))
    norm.sort()
    payload = type_sig(tbl) + "\n" + "\n".join(norm)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from fuggetabouspark.session import get_spark

    spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_oracle = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        tbl = df.toArrow()
        dt = time.time() - t0
        if name not in oracles:
            n_rows_only += 1
            print(f"  {name:28s} rows-only  {tbl.num_rows:6d} rows  {dt:5.1f}s")
            continue
        n_oracle += 1
        otbl = con.execute(oracles[name]).arrow()
        ok_n = tbl.num_rows == otbl.num_rows
        ok_c = sorted(tbl.column_names) == sorted(otbl.column_names)
        ok_t = ok_c and type_sig(tbl) == type_sig(otbl)
        h1, h2 = value_hash(tbl), value_hash(otbl)
        ok_h = h1 == h2
        status = "OK " if (ok_n and ok_c and ok_t and ok_h) else "FAIL"
        print(
            f"  {name:28s} {status} rows {tbl.num_rows}/{otbl.num_rows} "
            f"cols={'=' if ok_c else f'{sorted(tbl.column_names)} vs {sorted(otbl.column_names)}'} "
            f"types={'=' if ok_t else f'{type_sig(tbl)} vs {type_sig(otbl)}'} "
            f"hash={'=' if ok_h else f'{h1} vs {h2}'}  {dt:5.1f}s"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_h and ok_n and ok_c and ok_t:
                names_sorted = sorted(tbl.column_names)
                srt = sorted(zip(*[tbl.column(n).to_pylist() for n in names_sorted]))[:3]
                osrt = sorted(zip(*[otbl.column(n).to_pylist() for n in names_sorted]))[:3]
                print(f"      spark: {srt}")
                print(f"      duck : {osrt}")
    print("entry() smoke:", end=" ")
    edf = entrymod.entry(spark)
    print(f"{edf.count()} rows, schema {edf.columns}")
    spark.stop()
    print(f"({n_oracle} oracle entries, {n_rows_only} rows-only entries)")
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all parity checks passed")


if __name__ == "__main__":
    main()
