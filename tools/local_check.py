#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then run each oracle SQL in DuckDB over the same parquet tables
and compare (columns sorted by name, rows sorted, values exact)."""
import duckdb, glob, json, math, os, subprocess, sys

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
SKIP_RUN = os.environ.get("SKIP_RUN") == "1"
# the checkout this script belongs to (tools/..), so a copy of the repo
# verifies its own sources rather than whichever tree a fixed path names
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if not SKIP_RUN:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}'],
        cwd=ROOT, capture_output=True, text=True, timeout=3600)
    sys.stdout.write("\n".join(l for l in r.stdout.splitlines()
                               if "[verify]" in l or "error" in l.lower()) + "\n")
    if r.returncode != 0:
        print("VERIFY RUN FAILED"); print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)

con = duckdb.connect()
for p in glob.glob(f"{SF_DIR}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracles = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(v):
    if v is None: return None
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)): return tuple(canon(x) for x in v)
    if hasattr(v, "tolist") and not hasattr(v, "strip"):  # numpy array/scalar
        c = v.tolist()
        return tuple(canon(x) for x in c) if isinstance(c, list) else canon(c)
    return v

fails, passes = [], []
for name in sorted(oracles):
    spark_dir = f"{OUT}/{name}"
    try:
        sdf = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").fetchdf()
        odf = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"load/sql error: {e}")); continue
    sc, oc = sorted(sdf.columns), sorted(odf.columns)
    if sc != oc:
        fails.append((name, f"schema mismatch: spark={sc} oracle={oc}")); continue
    # the driver's hasher is TYPE-sensitive (2.0 != 2): an uncast DuckDB
    # sum() comes back HUGEINT->float64 and hash-fails against Spark's
    # int64 even when values match. Flag kind mismatches (int vs float).
    kind = lambda df, c: ("f" if str(df[c].dtype).startswith("float") else
                          "i" if str(df[c].dtype).startswith(("int", "uint")) else "o")
    badk = [c for c in sc if kind(sdf, c) != kind(odf, c)]
    if badk:
        fails.append((name, "dtype kind mismatch (driver hash-fails on these): " +
                      ", ".join(f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}" for c in badk)))
        continue
    if len(sdf) != len(odf):
        fails.append((name, f"rowcount: spark={len(sdf)} oracle={len(odf)}")); continue
    srows = sorted([tuple(canon(v) for v in row) for row in sdf[sc].itertuples(index=False)], key=repr)
    orows = sorted([tuple(canon(v) for v in row) for row in odf[oc].itertuples(index=False)], key=repr)
    if srows != orows:
        diff = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
        fails.append((name, f"value mismatch ({len([1 for a,b in zip(srows,orows) if a!=b])} rows), cols={sc}, first diffs: {diff}"))
        continue
    passes.append((name, len(sdf)))

print(f"\n=== PASS {len(passes)}/{len(oracles)} ===")
for n, c in passes: print(f"  PASS {n} ({c} rows)")
if fails:
    print(f"=== FAIL {len(fails)} ===")
    for n, m in fails: print(f"  FAIL {n}: {m}")
sys.exit(1 if fails else 0)
