"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and
exact values (columns sorted by name, rows sorted by all columns) —
a strict stand-in for the driver's value hash.

Usage: python scripts/check_entry.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from webgraph_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pdf


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rows {len(spark_pdf)} vs {len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"cols {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
        )
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) != len(b):
        return problems
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = np.allclose(
                av.astype(float), bv.astype(float), rtol=0, atol=0, equal_nan=True
            )
        else:
            ok = (av == bv).all() if len(av) else True
        if not ok:
            bad = (
                np.where(av.astype(float) != bv.astype(float))[0][:3]
                if av.dtype.kind in "fiu"
                else np.where(av != bv)[0][:3]
            )
            problems.append(f"col {c} differs at rows {bad.tolist()}")
    # dtype kinds (schema-ish check)
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        grp = lambda k: {"i": "int", "u": "int", "f": "float", "O": "obj", "b": "bool"}.get(k, k)
        if grp(ka) != grp(kb):
            problems.append(f"col {c} dtype {a[c].dtype} vs {b[c].dtype}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(
        app_name="check-entry", extra_conf={"spark.ui.enabled": "false"}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        t1 = time.monotonic()
        sql = oracles.get(name)
        if sql is None:
            print(f"ok   {name}: rows-only, {len(sdf)} rows  [{t1-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(sql).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}  [{t1-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"OK   {name}: {len(sdf)} rows match  [{t1-t0:.1f}s]")
    if not only:
        t0 = time.monotonic()
        res = entrymod.entry(spark)
        n = res.count()
        print(f"entry(): {n} rows  [{time.monotonic()-t0:.1f}s]")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
