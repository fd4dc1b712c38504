#!/usr/bin/env python3
"""Seeded benchmark of graft's public interval and corpus API.

    python3 perfbench/run.py --workload iv_heavytail --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
runs one closed-loop run of the workload in a fresh JVM, checks the outputs
(DuckDB oracle for the interval ops, planted ground truth for the corpus
ops, identical (rows, sig) on every pass), prints a report and, as the last
line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones of a traced run. Run files are kept under
perfbench/out/<workload>-s<seed>-t<trace>/. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import oracle  # noqa: E402
import summary  # noqa: E402

WORKLOADS = ("iv_heavytail", "corpus", "iv_peaks")
# the JVM is stopped after this many seconds; the run then fails
JVM_TIMEOUT_S = 165
# end/start CPU canary ratio beyond which the run is flagged as disturbed
CANARY_LIMIT = 1.25
HEAP = "2g"
# what SparkSession needs on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
BUILD_INPUTS = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
                HERE / "build.sbt", HERE / "project", HERE / "src"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for base in BUILD_INPUTS:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the sources are unchanged
    since the last build; return the runtime classpath."""
    cache = HERE / "target" / "perfbench-build.json"
    stamp = source_stamp()
    if cache.exists():
        got = json.loads(cache.read_text())
        if got["stamp"] == stamp and all(
                Path(p).exists() for p in got["classpath"].split(os.pathsep)):
            return got["classpath"]
    cache.parent.mkdir(parents=True, exist_ok=True)
    log = HERE / "target" / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840).returncode
    lines = log.read_text().splitlines()
    if rc != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {log}")
    cache.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1]}))
    return lines[-1]


def run_jvm(cp, args, out):
    cmd = (["java", *ADD_OPENS, f"-Xmx{HEAP}", f"-Xms{HEAP}",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={out / 'tmp'}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(out)])
    (out / "tmp").mkdir(parents=True)
    with open(out / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S}s, see {out / 'jvm.log'}", 1)
    if rc != 0:
        fail(f"harness exited with {rc}, see {out / 'jvm.log'}", 1)


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found next to {HERE.name}/ (need build.sbt and src/main/scala)")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    out = HERE / "out" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    run_jvm(cp, args, out)
    result = json.loads((out / "result.json").read_text())
    spans = json.loads((out / "spans.json").read_text()) if args.trace else []

    problems = dict(result["problems"])
    inputs = sorted(out.glob("inputs*"))[-1]
    if (inputs / "iv_a").is_dir():
        problems.update(oracle.check(inputs, result["oracle"], out / "tmp"))
    attempted, failed, reasons = summary.failures(result, problems)
    env = result["env"]
    ratio = env["canary_end_s"] / env["canary_start_s"]
    disturbed = not (1 / CANARY_LIMIT <= ratio <= CANARY_LIMIT)

    lines = [f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
             f"cores={env['cores']} nproc={env['nproc']} heap_max_mb={env['heap_max_mb']:.0f} "
             f"spark={env['spark_version']} java={env['java_version']}",
             f"  loadavg {env['loadavg_start']:.2f} -> {env['loadavg_end']:.2f}; "
             f"canary {env['canary_start_s']:.3f}s -> {env['canary_end_s']:.3f}s"
             + ("  DISTURBED (flagged, not corrected)" if disturbed else ""),
             "  inputs: " + ", ".join(
                 f"{t} {m['rows']} rows/{m['bytes']} B/{m['files']} files"
                 for t, m in sorted(env["manifest"].items())),
             f"  calls attempted={attempted} failed={failed} "
             f"error_rate={summary.error_rate(attempted, failed):.4g}"]
    lines += [f"  FAILED {op}: {why}" for op, why in sorted(reasons.items())]
    correct = failed == 0
    if args.trace:
        layer = summary.per_layer(result, spans, env["cores"])
        gap = summary.self_time_check(result, spans)
        lines.append(f"  span self times vs op wall: largest gap {gap:.2%}")
        correct = correct and gap < 0.01
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        lines += [f"  {k:26s} {fmt(m['value'])} {m['unit']}" for k, m in metrics.items()]
    else:
        e2e, families, walls = summary.end_to_end(result)
        pct = summary.supported_percentile(walls)
        lines.append(f"  passes n={len(walls)}; highest supported percentile: "
                     + (f"p{pct[0]}={pct[1]:.4g}s" if pct else "none (n < 20)"))
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        lines += [f"  {k:26s} {fmt(m['value'])} {m['unit']}" for k, m in metrics.items()]
        lines += [f"  {k:26s} {fmt(v)} s (median of n={n} passes)"
                  for k, (v, n) in sorted(families.items(),
                                             key=lambda kv: summary.FAMILIES.index(kv[0][:-2]))]
        lines.append(f"  {'error_rate':26s} {fmt(summary.error_rate(attempted, failed))}")
    for p in sorted(out.iterdir()):
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
    final = {"correct": correct, "attempted": attempted, "failed": failed,
             "metrics": metrics}
    (out / "report.txt").write_text("\n".join(lines) + "\n")
    print("\n".join(lines))
    print(json.dumps(final))



if __name__ == "__main__":
    main()
