"""Local mimic of the driver's correctness gate: run each
queries()[name] in Spark and oracle_sql()[name] in DuckDB on the same
sf dir; compare row count, column names, and an order-insensitive
value hash. Usage: python tools/verify_contract.py [--no-arrow] [sf_dir]
[names…]. ``--no-arrow`` sets
``spark.sql.execution.arrow.pyspark.enabled=false``, so the queries take
the non-Arrow ``createDataFrame``/``toPandas`` path."""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    no_arrow = "--no-arrow" in sys.argv
    if no_arrow:
        sys.argv.remove("--no-arrow")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from gleaner_spark.session import build_session

    spark = build_session("verify-contract", master="local[8]", shuffle_partitions=8)
    if no_arrow:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name:24s} rows-only: {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} duckdb error: {str(e).splitlines()[0]}")
            failures.append(name)
            continue
        scols_l = [c.lower() for c in scols]
        problems = []
        if sorted(scols_l) != sorted(dcols):
            problems.append(f"cols {scols_l} vs {dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if not problems:
            hs = table_hash([tuple(r) for r in srows], scols_l)
            hd = table_hash(drows, dcols)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show a sample diff
                sset = {tuple(norm_cell(v) for v in r) for r in srows}
                dset = {tuple(norm_cell(v) for v in r) for r in drows}
                s_only = list(sset - dset)[:3]
                d_only = list(dset - sset)[:3]
                problems.append(f"spark-only={s_only} duckdb-only={d_only}")
        if problems:
            print(f"FAIL  {name:24s} {' | '.join(problems)}")
            failures.append(name)
        else:
            print(f"OK    {name:24s} {len(srows)} rows ({time.time()-t0:.1f}s)")

    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
