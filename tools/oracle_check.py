"""Simulate the driver's DuckDB oracle compare: for each query with oracle
SQL, run it in DuckDB over the sf tables, sort columns by name + rows by all
columns, and hash-compare against the Spark parquet output."""
import duckdb, json, sys, hashlib
import pandas as pd

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_r2"
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ['lineitem','orders','customer','supplier','part','nation','region',
          'documents','embeddings','events']:
    con.execute(f"create view {t} as select * from read_parquet('{sf}/{t}.parquet')")
oracle = json.load(open(f'{out}/oracle_sql.json'))
import os
fails, int_width, checked = [], [], 0

def family(d):
    """int8..int64 and their unsigned/nullable forms are one family."""
    return 'int' if d.kind in 'iu' else str(d)

for name in sorted(os.listdir(out)):
    if not os.path.isdir(f'{out}/{name}'):
        continue
    got = con.execute(f"select * from read_parquet('{out}/{name}/*.parquet')").fetchdf()
    if name not in oracle:
        print(f"{name:24s} rows={len(got):6d} (no_oracle)")
        continue
    exp = con.execute(oracle[name]).fetchdf()
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    rows_ok = len(exp) == len(got)
    schema_ok = list(exp.columns) == list(got.columns)
    def h(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
        return hashlib.md5(pd.util.hash_pandas_object(df.round(9) if df.select_dtypes('float').shape[1] else df, index=False).values.tobytes()).hexdigest()
    # value-level compare (dtype-insensitive-ish): stringify
    def canon(df):
        s = df.copy()
        for c in s.columns:
            if s[c].dtype.kind == 'f':
                s[c] = s[c].round(6)
        return s.astype(str).sort_values(by=list(s.columns)).reset_index(drop=True)
    eq = rows_ok and schema_ok and canon(exp).equals(canon(got))
    # dtypes compare by family: Spark `int` against DuckDB BIGINT holds the
    # same values, so an int-width difference alone is listed, not failed
    dt_exp = [str(d) for d in exp.dtypes]; dt_got = [str(d) for d in got.dtypes]
    dt_ok = dt_exp == dt_got
    fam_ok = [family(d) for d in exp.dtypes] == [family(d) for d in got.dtypes]
    status = "OK " if (eq and fam_ok) else ("VALS-OK/DTYPE-DIFF" if eq else "FAIL")
    print(f"{name:24s} rows={len(got):6d}/{len(exp):6d} schema={schema_ok} values={'ok' if eq else 'MISMATCH'} dtypes={'ok' if dt_ok else f'{list(zip(exp.columns,dt_exp,dt_got))}'} -> {status}")
    checked += 1
    if not (eq and fam_ok):
        fails.append(name)
    elif not dt_ok:
        int_width.append(name)
print("\nINT-WIDTH (values equal, counted OK):", int_width if int_width else "none")
print("FAILS:", fails if fails else "none")
print(f"OK: {checked - len(fails)}/{checked}")
