#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ (Spark parquet) and runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the parquet
tables in <sfDir>. Compares row count, sorted column names, and a hash of
all values (columns sorted by name, rows in result order).

Every line about a readable Spark result ends with that result's value
hash (`spark=<hash>`), whatever the verdict, so two checker logs of the
same outputs compare with one `diff`.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.sha256()
    for col in df.columns:
        for v in df[col].tolist():
            h.update(repr(v).encode())
        h.update(b"|")
    return h.hexdigest()[:16]


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # --only-present: check just the queries whose parquet dump exists —
    # the fast targeted loop after `Verify <sf> <out> name1,name2`
    if "--only-present" in sys.argv:
        import os
        oracle = {k: v for k, v in oracle.items()
                  if os.path.isdir(f"{out_dir}/{k}")}
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = norm(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            failures += 1
            continue
        spark = f"spark={value_hash(got)}"
        try:
            exp = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e} {spark}")
            failures += 1
            continue
        problems = []
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} != {len(exp)}")
        if list(got.columns) != list(exp.columns):
            problems.append(f"cols {list(got.columns)} != {list(exp.columns)}")
        if not problems:
            gh, eh = value_hash(got), value_hash(exp)
            if gh != eh:
                problems.append(f"hash {gh} != {eh}")
                # show first differing cell for debugging
                for col in got.columns:
                    a, b = got[col].tolist(), exp[col].tolist()
                    for i, (x, y) in enumerate(zip(a, b)):
                        if repr(x) != repr(y):
                            problems.append(
                                f"first diff col={col} row={i}: {x!r} != {y!r}")
                            break
                    else:
                        continue
                    break
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems) + f" {spark}")
        else:
            print(f"OK   {name} ({len(got)} rows) {spark}")
    # queries without oracles: rows-only check
    import os
    for d in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, d)
        if os.path.isdir(path) and d not in oracle:
            try:
                got = norm(pd.read_parquet(path))
                n = len(got)
                print(f"ROWS {d} ({n} rows, no oracle) spark={value_hash(got)}")
                if n == 0:
                    print(f"WARN {d}: zero rows")
            except Exception as e:
                print(f"FAIL {d}: unreadable: {e}")
                failures += 1
    print(f"\n{'PASS' if failures == 0 else 'FAIL'}: {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
