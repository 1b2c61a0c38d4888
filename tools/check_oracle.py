#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
in DuckDB over the same parquet tables and compare to the Spark result
parquet (columns sorted by name, rows sorted, values normalized).

With `--against OTHER_OUT_DIR` it compares Verify dumps instead: every
dump dir of out_dir (the rows-only ones included) against the dump of
the same name in OTHER_OUT_DIR, with the same normalization, plus the
two oracle_sql.json dicts. It runs no oracle SQL.

  check_oracle.py [--subset] [sf_dir] [out_dir]
  check_oracle.py [sf_dir] out_dir --against other_out_dir"""
import duckdb, json, math, sys, glob, os

# flags first, positionals after — '--subset' or '--against DIR'
# anywhere must not shift (or become) sf_dir/out_dir
argv = sys.argv[1:]
against = None
if "--against" in argv:
    i = argv.index("--against")
    if i + 1 >= len(argv):
        sys.exit("--against needs the other Verify output dir")
    against = argv[i + 1]
    del argv[i:i + 2]
subset = "--subset" in argv
args = [a for a in argv if a != "--subset"]
sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
out_dir = args[1] if len(args) > 1 else "/tmp/verify_sf0001"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "nan"
        return f"{v:.6g}"
    if isinstance(v, bytes): return v.hex()
    return str(v)

def dump_rows(d):
    """(sorted column names, sorted normalized rows) of one dump dir"""
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        return [], []
    df = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    cols = sorted(df.columns)
    return cols, sorted(tuple(norm(v) for v in row)
                        for row in df[cols].itertuples(index=False))

def compare_dumps(other):
    fails = []
    dumps = lambda d: {n for n in os.listdir(d) if os.path.isdir(f"{d}/{n}")}
    mine, theirs = dumps(out_dir), dumps(other)
    for q in sorted(mine ^ theirs):
        print(f"{q}: ONLY IN {out_dir if q in mine else other}")
        fails.append(q)
    for q in sorted(mine & theirs):
        (gc, g), (ec, e) = dump_rows(f"{out_dir}/{q}"), dump_rows(f"{other}/{q}")
        if gc != ec:
            print(f"{q}: SCHEMA MISMATCH {gc} vs {ec}")
        elif len(g) != len(e):
            print(f"{q}: ROWCOUNT {len(g)} vs {len(e)}")
        elif g != e:
            bad = next(i for i, (a, b) in enumerate(zip(g, e)) if a != b)
            print(f"{q}: VALUE MISMATCH at sorted row {bad}:\n  {g[bad]}\n  {e[bad]}")
        else:
            print(f"{q}: SAME ({len(g)} rows)")
            continue
        fails.append(q)
    theirs_sql = json.load(open(f"{other}/oracle_sql.json"))
    if oracle == theirs_sql:
        print(f"oracle_sql.json: same dict ({len(oracle)} entries)")
    else:
        diff = sorted(k for k in set(oracle) | set(theirs_sql)
                      if oracle.get(k) != theirs_sql.get(k))
        print(f"oracle_sql.json: DIFFERS on {diff}")
        fails.append("oracle_sql.json")
    print(f"\n{len(fails)} differing: {fails}" if fails else f"\nALL SAME ({len(mine)} dumps)")
    sys.exit(1 if fails else 0)

if against is not None:
    compare_dumps(against)

fails = []
# A query that threw inside Verify writes NO dump dir — without this check
# it silently vanishes from the compare (round 11 caught q45 this way).
# STRICT by default: widespread missing dumps are precisely the mass-
# failure case the check exists for (a >10% "subset heuristic" would skip
# it exactly when breakage is worst). Local subset runs opt out with an
# explicit --subset flag.
missing = [q for q in oracle if not os.path.isdir(f"{out_dir}/{q}")]
if subset and missing:
    print(f"(--subset: {len(oracle)-len(missing)}/{len(oracle)} oracle entries present; missing-dump check skipped)")
else:
    for q in missing:
        print(f"{q}: MISSING DUMP (query threw inside Verify?)")
        fails.append(q)
for name in sorted(os.listdir(out_dir)):
    d = f"{out_dir}/{name}"
    if not os.path.isdir(d): continue
    files = glob.glob(f"{d}/*.parquet")
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    if name not in oracle:
        print(f"{name}: rows-only ({len(got)} rows)" + (" EMPTY!" if len(got)==0 else ""))
        if len(got) == 0: fails.append(name)
        continue
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {e}")
        fails.append(name); continue
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        print(f"{name}: SCHEMA MISMATCH spark={gcols} duck={ecols}")
        fails.append(name); continue
    if len(got) != len(exp):
        print(f"{name}: ROWCOUNT spark={len(got)} duck={len(exp)}")
        fails.append(name); continue
    g = sorted(tuple(norm(v) for v in row) for row in got[gcols].itertuples(index=False))
    e = sorted(tuple(norm(v) for v in row) for row in exp[ecols].itertuples(index=False))
    if g != e:
        bad = next(i for i,(a,b) in enumerate(zip(g,e)) if a!=b)
        print(f"{name}: VALUE MISMATCH at sorted row {bad}:\n  spark={g[bad]}\n  duck ={e[bad]}")
        fails.append(name)
    else:
        print(f"{name}: OK ({len(got)} rows)")
print(f"\n{len(fails)} failing: {fails}" if fails else "\nALL OK")
sys.exit(1 if fails else 0)
