"""Summaries of one benchmark run: medians, the percentile a sample
supports, the error rate, span self times, and the end-to-end and
per-layer metrics computed from the harness's `result.json` and
`spans.json`."""

import math
import statistics

# The op families of the interval workloads and of the corpus workload;
# each family's time is the sum of its ops' times in a pass.
FAMILIES = ("join", "agg_join", "closest", "sweep", "dedup", "ann", "text")

PERCENTILES = (50, 90, 95, 99, 99.9)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def supported_percentile(xs):
    """(p, value) for the highest of PERCENTILES that has at least ten
    samples beyond it, or None when the sample is too small for any. The
    value is the nearest-rank percentile."""
    n = len(xs)
    ok = [p for p in PERCENTILES if round(n * (100 - p), 6) >= 1000]
    if not ok:
        return None
    p = ok[-1]
    k = math.ceil(round(p * n / 100, 6)) - 1
    return p, sorted(xs)[max(0, min(n - 1, k))]


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


def self_times(spans):
    """Self time of every span, in microseconds.

    A span's self time is the part of its interval during which none of its
    children runs. Where children overlap each other (concurrent jobs or
    stages), each instant is split equally among the innermost spans active
    at it, so the self times of a span and all its descendants always sum to
    that span's duration. Children are clamped to their parent's interval.
    Without overlapping siblings this is exactly duration minus the union
    of the children's intervals."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    # clamp each span into its parent, top down
    iv = {}
    for s in sorted(spans, key=lambda s: depth(by_id, s)):
        lo, hi = s["start_us"], max(s["start_us"], s["end_us"])
        p = iv.get(s["parent"])
        if p is not None:
            lo, hi = min(max(lo, p[0]), p[1]), max(min(hi, p[1]), p[0])
        iv[s["id"]] = (lo, hi)
    out = {i: 0.0 for i in iv}
    for root in (s["id"] for s in spans if s["parent"] not in by_id):
        tree = subtree(children, root)
        cuts = sorted({t for i in tree for t in iv[i]})
        for a, b in zip(cuts, cuts[1:]):
            active = [i for i in tree if iv[i][0] <= a and iv[i][1] >= b]
            leaves = [i for i in active
                      if not any(c in active for c in children.get(i, ()))]
            for i in leaves:
                out[i] += (b - a) / len(leaves)
    return out


def union_len(intervals, lo, hi):
    """Length of the union of `intervals`, each clamped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > max(a, end):
            total += b - max(a, end)
            end = b
    return total


def depth(by_id, s):
    d = 0
    while s["parent"] in by_id:
        s = by_id[s["parent"]]
        d += 1
    return d


def subtree(children, root):
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(children.get(i, ()))
    return out


def failures(result, problems):
    """(attempted, failed, reasons) over the measured op calls. A call fails
    when it raised or timed out, when its (rows, sig) differs from the
    warm-up call's, or when its op failed an output check."""
    warm = {c["op"]: c for c in result["calls"] if c["pass"] < 0}
    bad_ops = dict(problems)
    for op, c in warm.items():
        if c["error"]:
            bad_ops.setdefault(op, c["error"])
    attempted = failed = 0
    reasons = dict(bad_ops)
    for c in result["calls"]:
        if c["pass"] < 0:
            continue
        attempted += 1
        ref = warm.get(c["op"])
        if c["error"]:
            reasons.setdefault(c["op"], c["error"])
        elif ref is None or (c["rows"], c["sig"]) != (ref["rows"], ref["sig"]):
            reasons.setdefault(c["op"], "output differs from the warm-up pass")
        elif c["op"] not in bad_ops:
            continue
        failed += 1
    return attempted, failed, reasons


def family_times(result, traced):
    """{family: [seconds per measured pass]} over passes with the given
    tracing state."""
    per = {}
    for c in result["calls"]:
        if c["pass"] >= 0 and c["traced"] == traced:
            key = (c["family"], c["pass"])
            per[key] = per.get(key, 0.0) + c["total_s"]
    out = {}
    for (fam, _), t in sorted(per.items()):
        out.setdefault(fam, []).append(t)
    return out


def setup_s(result):
    s = result["setup"]
    return s["session_s"] + median(s["generate_s"]) + s["warmup_s"]


def end_to_end(result):
    """The run's end-to-end metrics from its untraced passes, plus the
    per-family breakdown that the report prints."""
    passes = [p for p in result["passes"] if p["pass"] >= 0 and not p["traced"]]
    walls = [p["wall_s"] for p in passes]
    metrics = {
        "setup_s": setup_s(result),
        "wall_s": median(walls),
        "peak_heap_mb": median([p["heap_peak_mb"] for p in passes]),
    }
    families = {f"{f}_s": (median(ts), len(ts))
                for f, ts in family_times(result, traced=False).items()}
    return metrics, families, walls


def per_layer(result, spans, cores):
    """Per-layer metrics from the traced passes: each is summed over the
    ops of a traced pass, then the median over traced passes is taken."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    traced = [p for p in result["passes"] if p["pass"] >= 0 and p["traced"]]
    plain = [p for p in result["passes"] if p["pass"] >= 0 and not p["traced"]]
    calls = [c for c in result["calls"] if c["traced"]]
    rows = []
    for p in traced:
        pc = [c for c in calls if c["pass"] == p["pass"]]
        ops = [by_id[c["span"]] for c in pc]
        jobs = [j for o in ops for j in children.get(o["id"], ())]
        stages = [st for j in jobs for st in children.get(j["id"], ())]
        a = lambda k, xs=ops: sum(x["attrs"].get(k, 0.0) for x in xs)
        byop = {c["op"]: c for c in pc}
        skews = [st["attrs"]["task_max_s"] / st["attrs"]["task_median_s"]
                 for st in stages
                 if st["attrs"]["tasks"] >= 2 and st["attrs"]["task_median_s"] > 0]
        run_s = a("run_s", stages)
        gap = sum((o["end_us"] - o["start_us"]) - union_len(
            [(st["start_us"], st["end_us"]) for j in children.get(o["id"], ())
             for st in children.get(j["id"], ())], o["start_us"], o["end_us"])
            for o in ops) / 1e6
        bin_in = a("ops.bin_in_rows")
        rows.append({
            "ops.call_s": sum(c["call_s"] for c in pc),
            "ops.call_jobs": float(sum(1 for j in jobs if j["attrs"].get("phase") == "call")),
            "ops.bin_rows": a("ops.bin_out_rows") / bin_in if bin_in else 0.0,
            "ops.join_rows": a("ops.join_rows"),
            "ops.out_rows": float(sum(max(c["rows"], 0) for c in pc)),
            "plan.analysis_s": a("plan.analysis_s"),
            "plan.optimization_s": a("plan.optimization_s"),
            "plan.planning_s": a("plan.planning_s"),
            "plan.exchanges": a("plan.exchanges"),
            "plan.reused_exchanges": a("plan.reused_exchanges"),
            "plan.codegen_stages": a("plan.codegen_stages"),
            "plan.codegen_fallbacks": float(sum(c["codegen_fallbacks"] for c in pc)),
            "exec.jobs": float(len(jobs)),
            "exec.stages": float(len(stages)),
            "exec.tasks": a("tasks", stages),
            "exec.cpu_s": a("cpu_s", stages),
            "exec.run_s": run_s,
            "exec.gc_s": a("gc_s", stages),
            "exec.core_busy": run_s / (p["wall_s"] * cores) if p["wall_s"] else 0.0,
            "exec.shuffle_write_mb": a("shuffle_write_mb", stages),
            "exec.shuffle_read_mb": a("shuffle_read_mb", stages),
            "exec.spill_mb": a("spill_mb", stages),
            "exec.task_skew": max(skews, default=0.0),
            "exec.driver_gap_s": gap,
            "io.read_mb": a("read_mb", stages),
            "io.write_mb": a("write_mb", stages),
            "dedup.candidate_pairs": a("dedup.candidate_pairs"),
            "dedup.verified_pairs": float(max(byop["minhash_pairs"]["rows"], 0))
                if "minhash_pairs" in byop else 0.0,
            "ann.centroids_s": byop["ivf_centroids"]["total_s"]
                if "ivf_centroids" in byop else 0.0,
            "ann.candidate_rows": a("ann.candidate_rows"),
            "text.train_s": byop["bpe_train"]["total_s"] if "bpe_train" in byop else 0.0,
            "text.train_jobs": float(len(children.get(byop["bpe_train"]["span"], ())))
                if "bpe_train" in byop else 0.0,
        })
    s = result["setup"]
    out = {k: median([r[k] for r in rows]) for k in (rows[0] if rows else {})}
    out["setup.session_s"] = s["session_s"]
    out["setup.generate_s"] = median(s["generate_s"])
    out["setup.warmup_s"] = s["warmup_s"]
    t, u = median([p["wall_s"] for p in traced]), median([p["wall_s"] for p in plain])
    out["trace.overhead"] = t / u if u else 0.0
    return out


def self_time_check(result, spans):
    """Largest relative gap, over traced op calls, between an op's wall time
    and the sum of the self times of its span subtree."""
    selfs = self_times(spans)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    by_id = {s["id"]: s for s in spans}
    worst = 0.0
    for c in result["calls"]:
        if not c["traced"]:
            continue
        op = by_id[c["span"]]
        total = sum(selfs[i] for i in subtree(children, op["id"]))
        dur = op["end_us"] - op["start_us"]
        if dur > 0:
            worst = max(worst, abs(total - dur) / dur)
    return worst
