"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same Parquet, then compares row count, column names,
and an order-insensitive value hash with STRICT value stringification
(floats via repr → 17 significant digits). If this passes, any
reasonable driver normalization passes too.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import duckdb  # noqa: E402

from etl_data_warehouse_spark import TABLES  # noqa: E402
from etl_data_warehouse_spark.session import get_spark  # noqa: E402


def norm_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict, set, bytes, bytearray)):
        # The driver canonicalizes via a pandas sort, which throws
        # `unhashable type: 'list'` on container cells (the q109 r6 red
        # row). Mirror the driver: reject instead of stringifying, so
        # the local gate can never pass what the driver rejects.
        raise TypeError(
            f"unhashable container cell of type {type(v).__name__}: "
            "scalarize (array_join / md5(to_json)) before registering"
        )
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # A typo'd or flag-like arg would otherwise match NOTHING and
        # print a vacuous ALL PASS — fail loudly instead.
        print(f"ERROR unknown query names: {sorted(unknown)}")
        return 2
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            bad = [
                f"{fld.name}:{fld.dataType.simpleString()}"
                for fld in sdf.schema.fields
                if fld.dataType.typeName() in ("array", "map", "binary", "struct")
            ]
            if bad:
                print(
                    f"FAIL  {name}: non-scalar output column(s) the driver "
                    f"cannot canonicalize: {bad}"
                )
                failures += 1
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            # norm_value raises TypeError on container cells; an oracle
            # returning a list/blob column must FAIL that one query, not
            # abort the whole checker (the Spark side is schema-guarded
            # above, but DuckDB rows reach here unchecked).
            try:
                sh, dh = table_hash(scols, srows), table_hash(dcols, drows)
            except TypeError as ex:
                problems.append(f"unhashable cell: {ex}")
                sh = dh = None
            if sh is not None and sh != dh:
                problems.append("value hash mismatch")
                # show first differing row for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = sorted("|".join(norm_value(r[i]) for i in so) for r in srows)
                dset = sorted("|".join(norm_value(r[i]) for i in do) for r in drows)
                for a, b in zip(sset, dset):
                    if a != b:
                        problems.append(f"  spark: {a[:250]}")
                        problems.append(f"  duck : {b[:250]}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
            failures += 1
        else:
            print(f"PASS  {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    print("---", "ALL PASS" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
