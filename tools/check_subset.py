#!/usr/bin/env python3
"""Subset gate check: run graft.Verify (plain java, no sbt lock) for a
comma-separated query list, then the driver-style DuckDB compare
(columns sorted by name, order-independent row-hash, exact values).

Usage: python3 tools/check_subset.py <sfdir> <outdir> q1,q2[,aux,...]

Compares only queries that have an oracle entry. Verify dumps the aux
relations the listed queries' {AUX_DIR} oracles read by itself; an aux
name listed too is not compared, but its dump's row count and row hash
are printed, so two builds' aux dumps can be diffed. Exit 0 = every
compared query hash-matches.

The JVM heap and Spark's core count are sized like the tier-1 test
command: half of MemTotal clamped to 2-8 GB, and `nproc` cores.
"""
import json, os, shutil, subprocess, sys

sf, out, names = sys.argv[1], sys.argv[2], sys.argv[3]
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return 2
    return min(8, max(2, kb // 2097152))


cpus = str(len(os.sched_getaffinity(0)))
CLASSES = f"{repo}/target/scala-2.13/classes"
SPARK_JARS = "/opt/spark/jars/*"
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

shutil.rmtree(out, ignore_errors=True)
cmd = ["java", *ADD_OPENS, f"-Xmx{heap_gb()}g",
       "-XX:ReservedCodeCacheSize=512m",
       "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
       "-cp", f"{CLASSES}:{SPARK_JARS}", "graft.Verify", sf, out, names]
r = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                   timeout=3600, env=dict(os.environ, SPARK_GRAFT_CPUS=cpus))
for line in r.stderr.splitlines():
    if "[verify]" in line or "FAILED" in line:
        print(line, flush=True)
if r.returncode != 0:
    print("verify exit", r.returncode, r.stderr[-3000:])
    sys.exit(2)

import duckdb
con = duckdb.connect()
con.execute(f"SET threads TO {cpus}")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracles = json.load(open(f"{out}/oracle_sql.json"))


def rel_agg(rel):
    cols = [r[0] for r in con.execute(f"DESCRIBE {rel}").fetchall()]
    sc = sorted(cols)
    expr = "concat_ws(chr(31), " + ", ".join(
        f'COALESCE(CAST("{c}" AS VARCHAR), chr(1))' for c in sc) + ")"
    n, h = con.execute(
        f"SELECT count(*), COALESCE(sum(hash({expr})), 0) FROM {rel}"
    ).fetchone()
    return sc, int(n), int(h)


fails = []
for name in names.split(","):
    if name not in oracles:
        aux = f"{out}__aux/{name}"
        if os.path.isdir(aux):
            _, n, h = rel_agg(f"(SELECT * FROM '{aux}/*.parquet')")
            print(f"  {name:24s} rows={n} aux hash={h}")
        else:
            print(f"  {name:24s} (no oracle, no aux dump — skipped)")
        continue
    gc, gn, gh = rel_agg(f"(SELECT * FROM '{out}/{name}/*.parquet')")
    ec, en, eh = rel_agg(f"({oracles[name]})")
    ok = gc == ec and gn == en and gh == eh
    why = "OK" if ok else (
        f"SCHEMA got={gc} exp={ec}" if gc != ec else
        f"ROWS got={gn} exp={en}" if gn != en else "HASH-MISMATCH")
    print(f"{' ' if ok else 'X'} {name:24s} rows={gn} {why}")
    if not ok:
        fails.append(name)
sys.exit(1 if fails else 0)
