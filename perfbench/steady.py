#!/usr/bin/env python3
"""Steadiness check for the benchmark, against the bounds in BENCHMARK.json.

  python3 perfbench/steady.py run --workload W [--runs 10] [--seed0 1] [--out F]
      Runs the benchmark command K times on one workload, each with its own
      seed, and prints for every end-to-end metric the median, the quartiles
      (`statistics.quantiles(values, n=4)`) and the spread: the distance
      between the quartiles as a share of the median. Saves the values to F.

  python3 perfbench/steady.py compare A.json B.json
      Compares two saved sets: each spread, except that of setup_s, must stay
      within the metric's bound, and B's median may not be worse than A's by
      more than the bound. Exits 1 if any check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def run(a):
    b = spec()
    values = {m["name"]: [] for m in b["end_to_end"]}
    for i in range(a.runs):
        seed = a.seed0 + i
        cmd = b["command"] + ["--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(b["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"run with seed {seed} exited with code {r.returncode}")
        last = json.loads(r.stdout.strip().splitlines()[-1])
        for k in values:
            values[k].append(last["metrics"][k]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    print(f"{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for k, vs in values.items():
        med, q1, q3, sp = summary(vs)
        print(f"{k:<18}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.4f}{bounds[k]:>7}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "values": values}, f, indent=1)


def compare(a):
    metrics = {m["name"]: m for m in spec()["end_to_end"]}
    sets = []
    for path in (a.first, a.second):
        with open(path) as f:
            sets.append(json.load(f))
    if sets[0]["workload"] != sets[1]["workload"]:
        sys.exit("the two sets are of different workloads")
    ok = True
    print(f"workload {sets[0]['workload']}")
    for k, m in metrics.items():
        (m1, _, _, s1), (m2, _, _, s2) = (summary(s["values"][k]) for s in sets)
        worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
        checks = [worse <= m["bound"]]
        if k != "setup_s":
            checks += [s1 <= m["bound"], s2 <= m["bound"]]
        ok &= all(checks)
        print(f"{k:<18} spread {s1:.4f} / {s2:.4f}  medians {m1:.4f} -> {m2:.4f} "
              f"({worse:+.2%} worse)  bound {m['bound']}  {'ok' if all(checks) else 'FAIL'}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else compare(a)


if __name__ == "__main__":
    main()
