"""Local mimic of the driver's DuckDB-oracle correctness gate.

For each queries() entry with an oracle_sql(), run both at the given
sf and compare row count, sorted column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
canonical string form). Usage:

    python tools/check_entry.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df) -> tuple[int, list[str], str]:
    import pandas as pd

    pdf = df if isinstance(df, pd.DataFrame) else df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols]

    def cell(v):
        if v is None or v != v:
            return "\\N"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in row) for row in pdf.itertuples(index=False))
    h = hashlib.sha256("\n".join(rows).encode("utf-8", "surrogatepass")).hexdigest()
    return len(pdf), cols, h


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(sys.argv[1:]) - {sf_dir}

    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        # checked before Spark starts: a mistyped name must not "pass"
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    selected = {n: fn for n, fn in qs.items() if not only or n in only}

    import duckdb

    from dx.session import get_spark

    spark = get_spark("check-entry", master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.driver.memory": "8g"})
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    for name, fn in selected.items():
        try:
            sdf = fn(spark, sf_dir)
            s_n, s_cols, s_h = canon(sdf)
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"✗ {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"~ {name}: rows-only check, {s_n} rows (no oracle)")
            if s_n == 0:
                failures.append((name, "0 rows"))
            continue
        try:
            odf = con.execute(oracles[name]).df()
            o_n, o_cols, o_h = canon(odf)
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"✗ {name}: duckdb error: {str(e)[:300]}")
            continue
        if s_cols != o_cols:
            failures.append((name, f"cols {s_cols} vs {o_cols}"))
            print(f"✗ {name}: column mismatch {s_cols} vs {o_cols}")
        elif s_n != o_n:
            failures.append((name, f"rows {s_n} vs {o_n}"))
            print(f"✗ {name}: row count {s_n} vs {o_n}")
        elif s_h != o_h:
            failures.append((name, "value hash mismatch"))
            print(f"✗ {name}: VALUE HASH mismatch ({s_n} rows)")
        else:
            print(f"✓ {name}: {s_n} rows, hash match")
    print(f"\n{len(selected) - len(failures)}/{len(selected)} ok")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
