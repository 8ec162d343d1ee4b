#!/usr/bin/env python3
"""Local differential-oracle harness mirroring the driver's t2 gate.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [query ...]

Reads oracle_sql.json (written by graft.Verify), runs each SQL in DuckDB
over views named after the corpus parquet tables, loads the Spark result
parquet, canonicalizes both sides (columns sorted by name, rows sorted by
all columns), and compares values exactly. Exit 0 iff all queries match.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # lists/arrays aren't sortable directly -> sort on a stringified shadow
    key = df.apply(lambda col: col.map(repr), axis=0)
    order = key.sort_values(by=list(key.columns)).index
    return df.loc[order].reset_index(drop=True)


def cmp_cols(name, a: pd.Series, b: pd.Series, errs):
    va, vb = a.to_numpy(), b.to_numpy()
    for i in range(len(va)):
        x, y = va[i], vb[i]
        if isinstance(x, (list, np.ndarray)) or isinstance(y, (list, np.ndarray)):
            ok = repr(list(x) if x is not None else None) == repr(list(y) if y is not None else None)
        elif (x is None or x != x) and (y is None or y != y):  # both null/NaN
            ok = True
        elif isinstance(x, float) and isinstance(y, float):
            ok = x == y or (np.isnan(x) and np.isnan(y))
        else:
            ok = x == y
        if not ok:
            errs.append(f"  col {name} row {i}: spark={x!r} oracle={y!r}")
            if len(errs) > 8:
                return


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    unknown = sorted(only - set(oracle))
    for name in unknown:
        print(f"FAIL {name}: not in oracle_sql.json")
    checked = sorted(n for n in oracle if not only or n in only)
    failed = list(unknown)
    for name in checked:
        files = glob.glob(os.path.join(outdir, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            failed.append(name)
            continue
        try:
            mine = canon(con.sql(
                f"SELECT * FROM read_parquet({files!r})").df())
            gold = canon(con.sql(oracle[name]).df())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            failed.append(name)
            continue
        errs = []
        if list(mine.columns) != list(gold.columns):
            errs.append(f"  columns: spark={list(mine.columns)} oracle={list(gold.columns)}")
        elif len(mine) != len(gold):
            errs.append(f"  rows: spark={len(mine)} oracle={len(gold)}")
        else:
            # Mirror the driver's stricter gate: it sorts on raw columns
            # (ndarray cells crash it) and hashes dtype-sensitively.
            for c in mine.columns:
                for side, df in (("spark", mine), ("oracle", gold)):
                    if len(df) and isinstance(df[c].iloc[0], (list, np.ndarray)):
                        errs.append(f"  col {c}: {side} cell is array-typed "
                                    f"(driver sort_values would crash)")
                # kind-level only: int32 vs int64 hashes identically for the
                # driver, but object (e.g. DuckDB HUGEINT) vs numeric does not
                if mine[c].dtype.kind != gold[c].dtype.kind:
                    errs.append(f"  col {c}: dtype kind spark={mine[c].dtype} "
                                f"oracle={gold[c].dtype} (driver hash mismatch)")
            for c in mine.columns:
                cmp_cols(c, mine[c], gold[c], errs)
                if len(errs) > 8:
                    break
        if errs:
            print(f"FAIL {name} ({len(mine)} vs {len(gold)} rows)")
            print("\n".join(errs[:9]))
            failed.append(name)
        else:
            print(f"PASS {name} ({len(mine)} rows)")
    total = len(checked) + len(unknown)
    print(f"\n{total - len(failed)}/{total} queries match")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
