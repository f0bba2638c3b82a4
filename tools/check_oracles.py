"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and the matching
``oracle_sql()`` in DuckDB (TPC-H-ish views pre-registered), compares
row count, column names, and order-insensitive values (exact for
ints/strings/timestamps, exact for doubles too — our query pairs are
engineered deterministic).

Usage: python tools/check_oracles.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        errs.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
        return errs
    a, b = normalize(sdf), normalize(odf)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if pd.api.types.is_float_dtype(a[c]):
            eq = (av == bv) | (pd.isna(av) & pd.isna(bv)) | np.isclose(
                av.astype("float64"), bv.astype("float64"), rtol=0, atol=0, equal_nan=True
            )
        else:
            eq = (pd.Series(av) == pd.Series(bv)) | (pd.isna(av) & pd.isna(bv))
            eq = eq.values
        if not eq.all():
            bad = int((~eq).sum())
            i = int(np.argmax(~eq))
            errs.append(f"col {c}: {bad} mismatched values; first at row {i}: spark={av[i]!r} oracle={bv[i]!r}")
    return errs


def main() -> int:
    import __spark_entry__ as entrymod
    from semstreams_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("check_oracles", extra_conf={"spark.ui.showConsoleProgress": "false"})

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"OK?  {name}: rows={len(sdf)} (no oracle, rows-only) [{t_spark:.1f}s]")
            continue
        t0 = time.time()
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        t_duck = time.time() - t0
        errs = compare(name, sdf, odf)
        if errs:
            failures += 1
            print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)} [{t_spark:.1f}s/{t_duck:.1f}s]")
            for e in errs[:4]:
                print(f"     {e}")
        else:
            print(f"PASS {name}: rows={len(sdf)} [{t_spark:.1f}s/{t_duck:.1f}s]")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
