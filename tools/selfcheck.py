#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare Verify output
parquet against DuckDB oracle results (sorted columns, value hash).

usage: selfcheck.py [OUT_DIR [SF_DIR [PREFIXES]]]
PREFIXES is a comma-separated list of query-name prefixes, matched the
way Verify's third argument is. An oracle-paired query the filter
selects that has no output directory (Verify logs a failed query and
writes nothing) counts as MISSING, a failure."""
import json, sys, glob, os
import duckdb, pandas as pd
import numpy as np

out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_verify"
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
prefixes = sys.argv[3].split(",") if len(sys.argv) > 3 else None


def selected(name):
    return prefixes is None or any(name.startswith(p) for p in prefixes)


oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    # round floats for hash stability
    for c in df.columns:
        if df[c].dtype == np.float64 or df[c].dtype == np.float32:
            df[c] = df[c].astype(np.float64).round(6)
    return df

fails = 0
ran = set()
for name in sorted(os.listdir(out_dir)):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        continue
    if not selected(name):
        continue
    ran.add(name)
    files = glob.glob(f"{d}/*.parquet")
    spark_df = pd.concat([pd.read_parquet(f) for f in files])
    if name not in oracles:
        try:
            sdf = canon(spark_df)
            print(f"{name}: rows-only rows={len(spark_df)} OK(sortable)")
        except Exception as e:
            fails += 1
            print(f"{name}: rows-only UNSORTABLE: {e}")
        continue
    try:
        odf = con.execute(oracles[name]).df()
        s, o = canon(spark_df), canon(odf)
        rows = len(s) == len(o)
        schema = list(s.columns) == list(o.columns)
        if rows and schema:
            eq = True
            for c in s.columns:
                a, b = s[c].values, o[c].values
                if s[c].dtype == np.float64:
                    eq = eq and np.allclose(a.astype(float),
                                            b.astype(float), atol=1e-9)
                else:
                    eq = eq and (pd.Series(a).astype(str)
                                 == pd.Series(b).astype(str)).all()
            status = "HASH_OK" if eq else "HASH_FAIL"
        else:
            status = f"MISMATCH rows={rows} schema={schema} " \
                     f"({len(s)} vs {len(o)}; {list(s.columns)} vs {list(o.columns)})"
        if "OK" not in status:
            fails += 1
        print(f"{name}: {status}")
    except Exception as e:
        fails += 1
        print(f"{name}: ERR {e}")
for name in sorted(n for n in oracles if selected(n) and n not in ran):
    fails += 1
    print(f"{name}: MISSING (no output directory)")
print(f"fails={fails}")
sys.exit(1 if fails else 0)
