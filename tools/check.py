#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify, then
compare each query's parquet output against its DuckDB oracle (columns
sorted by name, rows sorted, exact value compare)."""
import json, math, subprocess, sys, os
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
skip_run = "--no-run" in sys.argv
# the checkout this script lives in is the one built and verified
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if not skip_run:
    # stale outputs from a previous run would mask write failures
    subprocess.run(["rm", "-rf", out])
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {sf} {out}'],
        cwd=repo, capture_output=True, text=True, timeout=3600)
    sys.stdout.write("\n".join(
        l for l in (r.stdout + r.stderr).splitlines()
        if "error" in l.lower() or "[verify]" in l))
    print("\n--- sbt exit", r.returncode)

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracles = json.load(open(f"{out}/oracle_sql.json"))
results = {}
for name in sorted(os.listdir(out)):
    d = os.path.join(out, name)
    if not os.path.isdir(d):
        continue
    try:
        got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
    except Exception as e:
        results[name] = f"READ-FAIL {e}"
        continue
    if name not in oracles:
        results[name] = f"rows-only ({len(got)} rows)"
        continue
    try:
        exp = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE-FAIL {str(e)[:300]}"
        continue
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        results[name] = f"SCHEMA-MISMATCH got={gc} exp={ec}"
        continue
    g = got[gc].sort_values(gc, ignore_index=True)
    e = exp[gc].sort_values(gc, ignore_index=True)
    if len(g) != len(e):
        results[name] = f"ROWCOUNT got={len(g)} exp={len(e)}"
        continue
    mismatch = None
    for c in gc:
        gv, ev = g[c].tolist(), e[c].tolist()
        for i, (a, b) in enumerate(zip(gv, ev)):
            an = a is None or (isinstance(a, float) and math.isnan(a))
            bn = b is None or (isinstance(b, float) and math.isnan(b))
            if an and bn:
                continue
            if an != bn or a != b:
                mismatch = f"VALUE col={c} row={i} got={a!r} exp={b!r}"
                break
        if mismatch:
            break
    results[name] = mismatch or f"OK ({len(g)} rows)"

# wired-but-erroring queries produce no output dir: without this they
# would vanish from the report and an analysis failure would read as green
n_wired = None
try:
    em = json.load(open(out + "__aux/verify_errors.json"))
    n_wired = em.get("n_wired")
    for k, msg in em.get("errors", {}).items():
        results[k] = f"QUERY-ERRORED {msg[:200]}"
    for note in em.get("aux_skipped", []):
        print(f"! aux dump {note}")
except FileNotFoundError:
    pass
except json.JSONDecodeError as e:
    # a truncated manifest (pre-r15 non-atomic write interrupted by a
    # driver kill) must degrade, not crash the whole gate
    print(f"! verify_errors.json unreadable ({e}); per-query compare only")

fails = 0
for k, v in sorted(results.items()):
    flag = " " if v.startswith(("OK", "rows-only")) else "X"
    if flag == "X":
        fails += 1
    print(f"{flag} {k:24s} {v}")
green = len(results) - fails
wired = n_wired if n_wired is not None else len(results)
print(f"\n{wired} wired, {green} green, {fails} failing"
      + (f" (MISSING {wired - len(results)} outputs)" if wired > len(results) else ""))
sys.exit(1 if fails or wired > len(results) else 0)
