"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark AND its
``oracle_sql()`` twin on DuckDB at sf0.01, then compares row count,
column names, and VALUES (columns sorted by name, rows sorted by every
column, floats compared to 1e-9 relative) — the same contract the driver
hashes. Exit 0 = all green.

Usage:  python tools/gate_check.py [query ...]   (no args = all)
"""
from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

# gate the checkout this tool lives in, not whichever one is importable
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: repr(sorted(v.items()))
                if isinstance(v, dict)
                else (repr(list(v)) if isinstance(v, (list, np.ndarray)) else v)
            )
    sort_cols = [c for c in df.columns]
    df = df.sort_values(sort_cols, kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def compare(name: str, s: pd.DataFrame, o: pd.DataFrame) -> list[str]:
    probs = []
    if len(s) != len(o):
        probs.append(f"rows {len(s)} vs {len(o)}")
    if sorted(s.columns) != sorted(o.columns):
        probs.append(f"cols {sorted(s.columns)} vs {sorted(o.columns)}")
        return probs
    if probs:
        return probs
    s, o = canon(s), canon(o)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            a = pd.to_numeric(sv, errors="coerce").to_numpy(dtype=float)
            b = pd.to_numeric(ov, errors="coerce").to_numpy(dtype=float)
            ok = np.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            ok = (sv.astype(str).to_numpy() == ov.astype(str).to_numpy()) | (
                sv.isna().to_numpy() & ov.isna().to_numpy()
            )
        if not ok.all():
            i = int(np.argmin(ok))
            probs.append(
                f"col {c} row {i}: spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r}"
            )
    return probs


def main() -> int:
    import __spark_entry__ as e
    from syslog_spark import build_session

    only = set(sys.argv[1:])
    qs, osql = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    spark = build_session(
        master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    failed = []
    for name, q in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = q(spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark raised {ex!r:.200}")
            continue
        if name not in osql:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows)")
            continue
        try:
            odf = con.sql(osql[name]).df()
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: duckdb raised {ex!r:.200}")
            continue
        probs = compare(name, sdf, odf)
        flag = " (VACUOUS 0 rows)" if len(sdf) == 0 and not probs else ""
        if probs:
            failed.append(name)
            print(f"FAIL {name}: " + "; ".join(probs[:3]))
        else:
            print(f"pass {name}: {len(sdf)} rows{flag}")
    spark.stop()
    print(("ALL GREEN" if not failed else f"FAILED: {failed}"))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
