#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness gate."""
import atexit, duckdb, glob, json, os, shutil, sys, tempfile

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

# A fixed memory cap and thread count keep the gate safe beside other jobs
# (DuckDB's default is 80% of RAM); a query that runs out of memory gets
# one retry at RETRY_MEMORY, then counts as UNCERTIFIED, never as ok.
# Spills go to a private temp directory: DuckDB's default is ".tmp" in the
# working directory, which two runs started in one directory share.
MEMORY, RETRY_MEMORY, THREADS = "2GB", "6GB", 2
spill_dir = tempfile.mkdtemp(prefix="compare_oracle-")
con = duckdb.connect(config={"memory_limit": MEMORY, "threads": THREADS,
                             "temp_directory": spill_dir})
atexit.register(lambda: (con.close(), shutil.rmtree(spill_dir, True)))


def run_oracle(sql):
    try:
        return con.sql(sql).fetchdf()
    except duckdb.OutOfMemoryException:
        con.execute(f"SET memory_limit = '{RETRY_MEMORY}'")
        try:
            return con.sql(sql).fetchdf()
        finally:
            con.execute(f"SET memory_limit = '{MEMORY}'")


for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
ok = fail = uncertified = 0
for name in sorted(os.listdir(out_dir)):
    path = os.path.join(out_dir, name)
    if not os.path.isdir(path):
        continue
    # coalesce(1) outputs can still split at spark.sql.files.maxRecordsPerFile
    # (5M rows) — read ALL parts in write order, not just the first
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        print(f"MISSING-OUT {name}")
        fail += 1
        continue
    flist = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    got = con.sql(f"SELECT * FROM read_parquet({flist})").fetchdf()
    if name not in oracle:
        print(f"ROWS-ONLY  {name}: rows={len(got)}" + ("  <-- EMPTY!" if len(got)==0 else ""))
        continue
    try:
        exp = run_oracle(oracle[name])
    except duckdb.OutOfMemoryException as e:
        print(f"UNCERTIFIED {name}: out of memory at {RETRY_MEMORY}: {e}")
        uncertified += 1
        continue
    except Exception as e:
        print(f"ORACLE-ERR {name}: {e}")
        fail += 1
        continue
    got_s = got[sorted(got.columns)]
    exp_s = exp[sorted(exp.columns)]
    if list(got_s.columns) != list(exp_s.columns):
        print(f"SCHEMA-DIFF {name}: spark={list(got_s.columns)} oracle={list(exp_s.columns)}")
        fail += 1
        continue
    if len(got_s) != len(exp_s):
        print(f"ROWS-DIFF  {name}: spark={len(got_s)} oracle={len(exp_s)}")
        fail += 1
        continue
    import pandas as pd
    # The driver hashes SERIALIZED values, so int64 9449 vs float64 9449.0
    # hash-differ even though pandas `==` calls them equal (the q74/q86 bug
    # class: DuckDB sum(int) -> HUGEINT -> float64). Flag dtype mismatch hard.
    dtype_diff = [(c, str(got_s[c].dtype), str(exp_s[c].dtype))
                  for c in got_s.columns
                  if str(got_s[c].dtype) != str(exp_s[c].dtype)]
    if dtype_diff:
        c, ad, bd = dtype_diff[0]
        print(f"DTYPE-DIFF {name}: col={c} spark={ad} oracle={bd}"
              f"  (driver hash gate WILL fail; CAST in the oracle)")
        fail += 1
        continue
    mismatch = None
    for c in got_s.columns:
        a, b = got_s[c], exp_s[c]
        try:
            eq = (a.fillna("__NULL__") == b.fillna("__NULL__")) if a.dtype == object else ((a == b) | (a.isna() & b.isna()))
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            mismatch = (c, i, a.iloc[i], b.iloc[i])
            break
    if mismatch:
        c, i, av, bv = mismatch
        print(f"VALUE-DIFF {name}: col={c} row={i} spark={av!r} oracle={bv!r}")
        fail += 1
    else:
        print(f"OK         {name}: rows={len(got_s)}")
        ok += 1
print(f"\n{ok} ok, {fail} failed, {uncertified} uncertified, {len([n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir,n)) and n not in oracle])} rows-only")
