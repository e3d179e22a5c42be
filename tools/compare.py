#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet
outputs against the DuckDB oracle (oracle_sql.json) on the same sf dir.
Usage: compare.py <sfDir> <verifyOutDir>

With SPARK_GRAFT_ONLY set (as for the Verify run), only the queries that
Verify selects are checked; the others are reported as skipped. A selected
query without output still fails.

After the summary line it prints the five oracles whose DuckDB execution
took longest, with their wall seconds."""
import sys, os, json, glob, time
import duckdb
import pandas as pd
import numpy as np

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")


def java_split(s, sep):
    """String.split as Verify's Scala calls it: trailing empty parts dropped."""
    if s == "":
        return [""]
    parts = s.split(sep)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


only = os.environ.get("SPARK_GRAFT_ONLY")
prefixes = None if only is None else java_split(only, ",")

oracle = json.load(open(f"{out}/oracle_sql.json"))
ok, bad, skipped = [], [], []
oracle_s = {}  # name -> DuckDB execution wall seconds
for name, sql in sorted(oracle.items()):
    if prefixes is not None and not any(name.startswith(p) for p in prefixes):
        skipped.append(name); continue
    pdir = f"{out}/{name}"
    if not os.path.isdir(pdir):
        bad.append((name, "NO SPARK OUTPUT")); continue
    try:
        spark_df = pd.read_parquet(pdir)
    except Exception as e:
        bad.append((name, f"read fail: {e}")); continue
    t0 = time.perf_counter()
    try:
        duck_df = con.execute(sql).df()
    except Exception as e:
        bad.append((name, f"ORACLE SQL ERROR: {str(e)[:200]}")); continue
    finally:
        oracle_s[name] = time.perf_counter() - t0

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], (list, np.ndarray)):
                df[c] = df[c].apply(lambda v: tuple(v) if v is not None else None)
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        bad.append((name, f"COLS spark={list(a.columns)} duck={list(b.columns)}")); continue
    if len(a) != len(b):
        bad.append((name, f"ROWS spark={len(a)} duck={len(b)}")); continue
    try:
        eq = a.astype(str).equals(b.astype(str))
    except Exception as e:
        bad.append((name, f"cmp fail: {e}")); continue
    if eq:
        ok.append((name, len(a)))
    else:
        diffs = (a.astype(str) != b.astype(str))
        ncell = int(diffs.values.sum())
        firstrow = diffs.any(axis=1).idxmax()
        cols = [c for c in a.columns if diffs[c].any()]
        bad.append((name, f"VALUES {ncell} cells differ, cols={cols}, first row {firstrow}: spark={a.iloc[firstrow].to_dict()} duck={b.iloc[firstrow].to_dict()}"))

for n, r in ok: print(f"PASS {n} ({r} rows)")
for n, m in bad: print(f"FAIL {n}: {m}")
skip = f" / {len(skipped)} skipped (SPARK_GRAFT_ONLY={only})" if prefixes is not None else ""
print(f"\n{len(ok)} pass / {len(bad)} fail{skip} / rows-only: "
      f"{[d for d in os.listdir(out) if os.path.isdir(os.path.join(out,d)) and d not in oracle]}")
slowest = sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]
if slowest:
    print("slowest oracles (DuckDB s): " + ", ".join(f"{n} {t:.2f}" for n, t in slowest))
sys.exit(1 if bad else 0)
