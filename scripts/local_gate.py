#!/usr/bin/env python3
"""Dev-only local replica of the driver's correctness gate.

Runs each oracle_sql.json query in DuckDB over the sf parquet tables and
compares with the Spark result parquet written by graft.Verify.
Usage: python3 scripts/local_gate.py /root/testdata/sf0.01 /tmp/verify_out

DuckDB spills to a fresh directory under the system temp dir, capped at
TEMP_CAP and removed at exit; an oracle that needs more spill than that
is reported as FAIL with DuckDB's error, like any other failed query.
"""
import json
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb
import pandas as pd

TEMP_CAP = "8GiB"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: dates -> str, floats rounded repr
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main(sfdir: str, outdir: str) -> int:
    spill = tempfile.mkdtemp(prefix="local_gate_")
    try:
        with duckdb.connect() as con:
            con.execute(f"SET temp_directory = '{spill}'")
            con.execute(f"SET max_temp_directory_size = '{TEMP_CAP}'")
            return compare(con, sfdir, outdir)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def compare(con, sfdir: str, outdir: str) -> int:
    for t in TABLES:
        p = Path(sfdir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((Path(outdir) / "oracle_sql.json").read_text())
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        spark_dir = Path(outdir) / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            got = canon(pd.read_parquet(spark_dir))
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:  # noqa: BLE001
            cause = " ".join(str(e).split())
            print(f"FAIL {name}: {cause}")
            n_bad += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            n_bad += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            n_bad += 1
            continue
        mismatch = None
        for c in got.columns:
            a, b = got[c], want[c]
            if str(a.dtype).startswith("float") or str(b.dtype).startswith("float"):
                af = pd.to_numeric(a, errors="coerce")
                bf = pd.to_numeric(b, errors="coerce")
                bad = ~((af.isna() & bf.isna()) | (af == bf))
                if bad.any():
                    i = bad.idxmax()
                    mismatch = f"col {c} row {i}: {a[i]!r} vs {b[i]!r}"
                    break
            else:
                if not a.astype(str).equals(b.astype(str)):
                    bad = a.astype(str) != b.astype(str)
                    i = bad.idxmax()
                    mismatch = f"col {c} row {i}: {a[i]!r} vs {b[i]!r}"
                    break
        if mismatch:
            print(f"FAIL {name}: {mismatch}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(got)} rows)")
            n_ok += 1
    # queries without oracle: rows-only
    for d in sorted(Path(outdir).iterdir()):
        if d.is_dir() and d.name not in oracle:
            n = len(pd.read_parquet(d))
            print(f"rows {d.name}: {n}")
    print(f"== {n_ok} ok, {n_bad} fail")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
