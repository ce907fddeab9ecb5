"""Mirror of the driver's correctness gate: run every queries() entry at
sf0.01 and diff against its oracle_sql() via DuckDB — row count, column
names, and order-insensitive exact values (the driver hashes values, so we
demand exact equality after the queries' own rounding).

A query that fails on a missing file under the reference checkout, while
that checkout is absent, is printed as ``SKIP (reference absent)`` and
counted apart, as the test suite skips it; every other failure exits 1."""

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from llm_text_to_knowledge_graph_spark import get_spark  # noqa: E402
from llm_text_to_knowledge_graph_spark.eval.real_gold_bel import (  # noqa: E402
    GOLD_BEL_DIR,
)

# the reference checkout the real-gold queries read their files from
REFERENCE_DIR = os.path.dirname(GOLD_BEL_DIR)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def reference_absent(exc: Exception) -> bool:
    """``exc`` is a missing file under the reference checkout, and the
    checkout itself is absent."""
    msg = str(exc)
    return (
        not os.path.isdir(REFERENCE_DIR)
        and (isinstance(exc, FileNotFoundError) or "No such file or directory" in msg)
        and REFERENCE_DIR + os.sep in msg
    )


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    spark = get_spark("oracle-parity", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, skipped = [], []
    ran = {name: fn for name, fn in qs.items() if not only or name in only}
    for name, fn in ran.items():
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as exc:  # noqa: BLE001
            if reference_absent(exc):
                skipped.append(name)
                print(f"SKIP (reference absent)  {name}: {exc}")
                continue
            failures.append((name, f"spark error: {exc}"))
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(sdf)} rows  [{time.monotonic()-t0:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"duckdb error: {exc}"))
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            a, b = normalize(sdf), normalize(odf)
            if not a.equals(b):
                diff_cols = [
                    c for c in a.columns
                    if not a[c].equals(b[c])
                ]
                n_diff = sum(
                    (~(a[c] == b[c]) & ~(a[c].isna() & b[c].isna())).sum()
                    for c in diff_cols
                )
                problems.append(f"value mismatch in {diff_cols} ({n_diff} cells)")
                for c in diff_cols[:2]:
                    mask = ~(a[c] == b[c])
                    print(f"   sample diff {c}:")
                    print(pd.concat(
                        [a.loc[mask, c].head(3).rename("spark"),
                         b.loc[mask, c].head(3).rename("oracle")], axis=1))
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows  [{time.monotonic()-t0:.1f}s]")

    print(
        f"\n{len(failures)} failures / {len(ran)} queries"
        f" ({len(skipped)} skipped: reference absent)"
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
