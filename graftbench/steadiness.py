"""Steadiness check: runs the benchmark on several seeds per workload and
reports, for every end-to-end metric, the median, the quartiles and the
spread (IQR / median) against the bound in BENCHMARK.json.

    python3 graftbench/steadiness.py [--seeds 1-10] [--workloads a,b]
        [--traced N] [--out graftbench/steadiness/<name>.json]
    python3 graftbench/steadiness.py --render graftbench/steadiness/<name>.json

Run from the root of a checkout. Each run is one `run.py` invocation, one
after another, the workloads taking turns seed by seed. With --traced N the
first N seeds of each workload also get a traced run right after their
untraced one; the tracing overhead is the median over these pairs of
(traced - untraced) / untraced, so a host that slows over the set does not
show up as overhead.

    python3 graftbench/steadiness.py --compare FIRST.json SECOND.json

prints how far each end-to-end median of the second saved report moved
from the first, against the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit("run failed: %s" % " ".join(cmd))
    host = next((json.loads(l[5:]) for l in lines if l.startswith("host ")), {})
    return json.loads(lines[-1]), host


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default="")
    ap.add_argument("--render", default="", help="re-render a saved report with the current bounds")
    ap.add_argument("--compare", nargs=2, default=None, metavar=("FIRST", "SECOND"),
                    help="compare the medians of two saved reports against the bounds")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if a.compare:
        sys.stdout.write(compare(spec, *a.compare))
        return
    if a.render:
        with open(a.render) as f:
            report = json.load(f)
        for e in report["workloads"].values():
            for m in spec["end_to_end"]:
                st = e["stats"][m["name"]]
                st["bound"] = m["bound"]
                st["within_third_of_bound"] = st["spread"] < m["bound"] / 3
        with open(a.render, "w") as f:
            json.dump(report, f, indent=1)
        with open(os.path.splitext(a.render)[0] + ".md", "w") as f:
            f.write(markdown(report))
        return
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "seeds": seeds(a.seeds), "workloads": {}}
    # seed-major order: the workloads take turns, so a slow spell of the
    # host falls on both instead of on one workload's whole set
    runs = {w: [] for w in workloads}
    pairs = {w: [] for w in workloads}
    for i, s in enumerate(seeds(a.seeds)):
        for w in workloads:
            res, host = run(w, s, spec["run_seconds"], 0)
            metrics = {k: v["value"] for k, v in res["metrics"].items()}
            runs[w].append({"seed": s, "correct": res["correct"], "attempted": res["attempted"],
                            "failed": res["failed"], "host": host, "metrics": metrics})
            print("%s seed %d: %s" % (w, s, json.dumps(metrics)), flush=True)
            if i < a.traced:
                t = run(w, s, spec["run_seconds"], 1)[0]["metrics"]
                pairs[w].append({k: (t["traced." + k]["value"], metrics[k])
                                 for k in ("p50_ms", "tail_ms", "job_s")})
    for w in workloads:
        stats = {}
        for m in bounds:
            st = summary([r["metrics"][m] for r in runs[w]])
            st["bound"] = bounds[m]
            st["within_third_of_bound"] = st["spread"] < bounds[m] / 3
            stats[m] = st
        entry = {"runs": runs[w], "stats": stats}
        if pairs[w]:
            entry["tracing_overhead"] = {}
            for k in ("p50_ms", "tail_ms", "job_s"):
                ps = [p[k] for p in pairs[w]]
                entry["tracing_overhead"][k] = {
                    "pairs": ps, "traced_median": statistics.median(t for t, _ in ps),
                    "untraced_median": statistics.median(u for _, u in ps),
                    "overhead_pct": 100.0 * statistics.median((t - u) / u for t, u in ps)}
        report["workloads"][w] = entry
        for m, st in stats.items():
            print("%-14s %-12s median %12.4f  IQR/median %6.3f  bound %.2f%s"
                  % (w, m, st["median"], st["spread"], st["bound"],
                     "" if st["within_third_of_bound"] else "  <-- above a third of the bound"))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
        with open(os.path.splitext(a.out)[0] + ".md", "w") as f:
            f.write(markdown(report))


def compare(spec, first, second):
    """Markdown table: each end-to-end median of the second report against
    the first, as a share of the first, next to the metric's bound."""
    with open(first) as f:
        r1 = json.load(f)
    with open(second) as f:
        r2 = json.load(f)
    out = ["| workload | metric | first median | second median | change | bound | within |",
           "|---|---|---|---|---|---|---|"]
    for w, e in r1["workloads"].items():
        if w not in r2["workloads"]:
            continue
        for m in spec["end_to_end"]:
            a, b = e["stats"][m["name"]]["median"], r2["workloads"][w]["stats"][m["name"]]["median"]
            change = (b - a) / a
            worse = change if m["better"] == "lower" else -change
            out.append("| %s | %s | %.4f | %.4f | %+.3f | %.2f | %s |"
                       % (w, m["name"], a, b, change, m["bound"], "yes" if worse <= m["bound"] else "NO"))
    return "\n".join(out) + "\n"


def markdown(report):
    out = ["| workload | metric | median | q1 | q3 | IQR/median | bound |", "|---|---|---|---|---|---|---|"]
    for w, e in report["workloads"].items():
        for m, st in e["stats"].items():
            out.append("| %s | %s | %.4f | %.4f | %.4f | %.3f | %.2f |"
                       % (w, m, st["median"], st["q1"], st["q3"], st["spread"], st["bound"]))
    for w, e in report["workloads"].items():
        for k, o in e.get("tracing_overhead", {}).items():
            out.append("")
            out.append("%s tracing overhead %s: %+.1f%% (median over %d traced/untraced pairs;"
                       " traced median %.4f, untraced median %.4f)"
                       % (w, k, o["overhead_pct"], len(o["pairs"]), o["traced_median"], o["untraced_median"]))
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    main()
