#!/usr/bin/env python3
"""Steadiness check: run each workload with several seeds and print every
end-to-end metric's spread against its bound.

    python3 perfbench/steady.py [--runs 10] [--seed0 1000] [--workloads a,b]
                                [--traced] [--out FILE]

Spread = (Q3 - Q1) / median over the runs, quartiles as
statistics.quantiles(values, n=4) gives them. A metric is steady when its
spread is below a third of its bound (setup_s is reported, not gated).
--traced adds one traced run per workload at the first seed, prints the
tracing overhead (the traced run's values minus the untraced medians) and
keeps the traced run's per-layer values.
--out writes the medians, spreads and host facts as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed (exit {p.returncode}):\n"
                 + p.stderr[-2000:])
    info = next((json.loads(l)["info"] for l in lines if l.startswith('{"info"')), {})
    return json.loads(lines[-1]), info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = a.workloads.split(",")
    report = {}
    for w in names:
        values, hosts = {}, []
        for i in range(a.runs):
            res, info = run(w, a.seed0 + i, bench["run_seconds"], 0)
            assert res["correct"] and res["failed"] == 0, res
            hosts.append(info.get("host", {}))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {a.seed0 + i}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                flush=True)
        rows = {}
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            rows[k] = {"median": med, "spread": spread, "bound": bounds[k],
                       "steady": k == "setup_s" or spread < bounds[k] / 3}
        entry = {"metrics": rows, "seeds": [a.seed0, a.seed0 + a.runs - 1],
                 "calibration_probe_s_median": statistics.median(
                     h.get("calibration_probe_s", 0) for h in hosts),
                 "calibration_ratio_median": statistics.median(
                     h.get("calibration_ratio", 0) for h in hosts),
                 "loadavg_1m_median": statistics.median(
                     h.get("loadavg_1m", 0) for h in hosts),
                 "nproc": hosts[0].get("nproc")}
        if a.traced:
            res, _ = run(w, a.seed0, bench["run_seconds"], 1)
            m = res["metrics"]
            entry["trace_overhead"] = {
                k: m[f"trace.{k}"]["value"] - rows[k]["median"]
                for k in ("batch_p50_ms", "docs_per_s")}
            entry["traced"] = {k: v["value"] for k, v in m.items()}
        report[w] = entry
        print(f"\n{w}: metric, median, spread, bound, steady")
        for k, r in rows.items():
            print(f"  {k:14s} {r['median']:12.4f} {r['spread']:8.4f} "
                  f"{r['bound']:6.3f}  {'yes' if r['steady'] else 'NO'}")
        if a.traced:
            print(f"  tracing overhead: {entry['trace_overhead']}")
        print(flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    sys.exit(0 if all(r["steady"] for e in report.values()
                      for r in e["metrics"].values()) else 1)


if __name__ == "__main__":
    main()
