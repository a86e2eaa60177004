#!/usr/bin/env python3
"""The benchmark's own steadiness check: runs of one commit, compared
metric by metric.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--traced 1]
                                [--workloads a,b] [--seed-base 100]

For each set, every workload runs `--runs` times, each with another seed
(set k uses seeds seed-base + 1000*k + i; workloads interleave per seed so
drift of the machine spreads over all of them). For each end-to-end metric
and workload it reports, per set, the median and the spread (distance
between the first and third quartile, `statistics.quantiles(n=4)`, as a
share of the median), and the drift of the later set's median from the
first set's in the metric's worse direction. A check fails when a spread
exceeds the metric's bound in BENCHMARK.json, or a drift exceeds the
bound. It then makes `--traced` traced runs per workload
and reports the tracing overhead (traced minus untraced median operation
time) and the largest gap between span self-times plus the unattributed
remainder and the measured wall time. The traced `etl_sql` run runs all
21 queries, not the untraced ten, so its `query_s` overhead also holds
the change of query mix.

Run from the checkout root. Writes `.bench_build/steady.json`; exits 1
when a check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed} trace {trace}")
    report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
    print(f"  {workload:15s} seed {seed:5d} trace {trace} wall {time.monotonic() - t0:5.1f} s "
          f"correct={result['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                     if not trace), flush=True)
    return report, result


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed-base", type=int, default=100)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workloads:
        workloads = [w for w in workloads if w in a.workloads.split(",")]
    e2e = {m["name"]: m for m in spec["end_to_end"]}

    values = {w: [{m: [] for m in e2e} for _ in range(a.sets)] for w in workloads}
    timed = ("ingest_s", "query_s")
    untraced_s = {w: {t: [] for t in timed} for w in workloads}
    failures = []
    for k in range(a.sets):
        print(f"set {k + 1}", flush=True)
        for i in range(a.runs):
            for w in workloads:
                report, result = one_run(w, a.seed_base + 1000 * k + i,
                                         spec["run_seconds"], 0)
                if not result["correct"]:
                    failures.append(f"{w}: incorrect output (seed {a.seed_base + 1000 * k + i})")
                for m in e2e:
                    values[w][k][m].append(result["metrics"][m]["value"])
                for t in timed:
                    untraced_s[w][t].append(report[t])

    summary = {"runs": a.runs, "sets": a.sets, "metrics": {}, "tracing": {}}
    print(f"\n{'workload':15s} {'metric':12s} " + " ".join(
        f"{'median' + str(k + 1):>10s} {'spread' + str(k + 1):>8s}" for k in range(a.sets))
        + f" {'drift':>7s} {'bound':>6s}")
    for w in workloads:
        for m, spec_m in e2e.items():
            sets = values[w]
            meds = [statistics.median(s[m]) for s in sets]
            spreads = [spread(s[m]) for s in sets]
            sign = 1 if spec_m["better"] == "lower" else -1
            drift = max(sign * (x - meds[0]) / meds[0] for x in meds)
            bound = spec_m["bound"]
            summary["metrics"][f"{w}/{m}"] = {
                "medians": meds, "spreads": spreads, "worse_drift": drift, "bound": bound}
            if max(spreads) > bound:
                failures.append(f"{w}/{m}: spread {max(spreads):.3f} > bound {bound}")
            if drift > bound:
                failures.append(f"{w}/{m}: drift {drift:.3f} > bound {bound}")
            print(f"{w:15s} {m:12s} " + " ".join(
                f"{x:10.4g} {s:8.3f}" for x, s in zip(meds, spreads))
                + f" {drift:7.3f} {bound:6.2f}")

    for w in workloads:
        for i in range(a.traced):
            report, result = one_run(w, a.seed_base + 900 + i, spec["run_seconds"], 1)
            m = {k: v["value"] for k, v in result["metrics"].items()}
            selfs = sum(v for k, v in m.items() if k.startswith("self."))
            gap = abs(selfs + m["trace.unattributed_s"] - m["trace.wall_s"])
            entry = {"self_plus_unattributed_minus_wall_s": gap, "correct": result["correct"]}
            for t in timed:
                untraced = statistics.median(untraced_s[w][t])
                entry[t] = {"traced": report[t], "untraced_median": untraced,
                            "overhead_s": report[t] - untraced}
                print(f"tracing {w}: {t} {report[t]:.3f} s traced vs {untraced:.3f} s "
                      f"untraced median (overhead {report[t] - untraced:+.3f} s)")
            summary["tracing"].setdefault(w, []).append(entry)
            print(f"tracing {w}: self + unattributed - wall = {gap:.2e} s")
            if not result["correct"]:
                failures.append(f"{w}: incorrect output in the traced run")

    summary["failures"] = failures
    os.makedirs(".bench_build", exist_ok=True)
    with open(os.path.join(".bench_build", "steady.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print("\n" + ("\n".join(failures) if failures else "all checks pass"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
