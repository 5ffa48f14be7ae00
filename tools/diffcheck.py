"""Local differential harness — predicts the driver's correctness gate.

Runs every ``queries()[name]`` on Spark and its ``oracle_sql()[name]`` on
DuckDB over the same parquet dir, then compares row count, column names,
and exact values (rows sorted, columns sorted by name). Exact equality here
is the strongest proxy for the driver's order-insensitive value hash.

Usage: python tools/diffcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crypto_data_service_loader_spark.session import get_spark
from crypto_data_service_loader_spark.tables import TABLES


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].map(_cell)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):  # array-valued cell: pd.isna is elementwise
        pass
    if isinstance(v, float):
        return repr(v)
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    spark = get_spark("diffcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passed, rows_only = [], 0, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            continue
        if name not in oracles:
            rows_only += 1
            print(f"  [rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            # arrow fetch keeps DATE as date32 (-> datetime.date), matching
            # Spark's toPandas conversion; .df() would widen to datetime64.
            odf = con.execute(oracles[name]).fetch_arrow_table().to_pandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"ORACLE ERROR: {e}"))
            continue
        # dtype check BEFORE normalization (the driver compares schemas):
        # compare pandas dtype kinds per column name
        sd = {c: sdf[c].dtype for c in sdf.columns}
        od = {c: odf[c].dtype for c in odf.columns}
        for c in set(sd) & set(od):
            a, b = str(sd[c]), str(od[c])
            # datetime64 unit differences (ns vs us) are conversion
            # artifacts, not schema differences
            if a.startswith("datetime64") and b.startswith("datetime64"):
                continue
            if a != b:
                failures.append((name, f"DTYPE {c}: spark={a} oracle={b}"))
                break
        else:
            pass
        if failures and failures[-1][0] == name:
            continue
        s, o = _normalize(sdf), _normalize(odf)
        if list(s.columns) != list(o.columns):
            failures.append((name, f"COLUMNS spark={list(s.columns)} oracle={list(o.columns)}"))
            continue
        if len(s) != len(o):
            failures.append((name, f"ROWCOUNT spark={len(s)} oracle={len(o)}"))
            continue
        if not s.equals(o):
            diff_cols = [c for c in s.columns if not s[c].equals(o[c])]
            mask = ~(s[diff_cols[0]] == o[diff_cols[0]])
            ex = pd.concat(
                [s[mask].head(3).add_prefix("s_"), o[mask].head(3).add_prefix("o_")],
                axis=1,
            )
            failures.append((name, f"VALUES differ in {diff_cols}\n{ex}"))
            continue
        passed += 1
        print(f"  [ok]        {name}: {len(s)} rows")

    print(f"\n{passed} passed, {rows_only} rows-only, {len(failures)} failed")
    for name, msg in failures:
        print(f"\nFAIL {name}: {msg}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
