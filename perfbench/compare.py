"""Collect, print and compare benchmark result sets.

    python3 perfbench/compare.py collect --seeds 1-10 [--workloads a,b] [--trace 0|1]
                                         [--seconds S] --out set.jsonl
    python3 perfbench/compare.py set.jsonl               # every metric, by name and unit
    python3 perfbench/compare.py base.jsonl change.jsonl # per workload and metric

A result set is a JSON-lines file, one line per run:
{"workload", "seed", "trace", "result"}, where `result` is the last line
run.py printed. Comparing two sets gives, per workload and metric, the
median and quartiles of each side and a verdict against BENCHMARK.json:

  worse       the change's median is worse than the base's by more than
              the metric's bound
  better      the change's median is better by more than the bound and
              by more than either side's quartile spread
  unresolved  neither: the spread of either side exceeds the bound, or
              the medians differ by less than the spread
  same        within the bound, with both spreads within the bound

Per-layer metrics have no bound: they are marked better or worse only
when every run of one side beats every run of the other, else
unresolved (or same when all values are equal).
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def seeds_arg(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(argv):
    import argparse
    ap = argparse.ArgumentParser(prog="compare.py collect")
    ap.add_argument("--seeds", required=True, type=seeds_arg)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec()["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    with open(a.out, "a") as out:
        for seed in a.seeds:
            for w in a.workloads.split(","):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace)]
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
                lines = p.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                out.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace,
                                      "result": result}) + "\n")
                out.flush()
                print(f"{w} seed {seed}: " + ("ok" if result and result["correct"]
                                              else "FAILED"), file=sys.stderr)


def load(path):
    """workload -> metric -> [values], plus workload -> [attempted, failed]."""
    values, counts = {}, {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            r = rec["result"]
            c = counts.setdefault(rec["workload"], [0, 0, 0])
            c[2] += 1
            if r is None:
                continue
            c[0] += r["attempted"]
            c[1] += r["failed"]
            for name, m in r["metrics"].items():
                values.setdefault(rec["workload"], {}).setdefault(name, []).append(m["value"])
    return values, counts


def units_bounds():
    s = spec()
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    better = {m["name"]: m["better"] for m in s["end_to_end"] + s["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    return units, better, bounds


def show(path):
    values, counts = load(path)
    units, _, _ = units_bounds()
    for w in sorted(counts):
        attempted, failed, runs = counts[w]
        rate = failed / attempted if attempted else float("nan")
        print(f"{w}: {runs} runs, error_rate = {rate:.4g} ({failed}/{attempted})")
        for name, xs in sorted(values.get(w, {}).items()):
            q1, q2, q3 = quartiles(xs)
            spread = (q3 - q1) / q2 if q2 else 0.0
            print(f"  {name:28s} median {q2:<12.6g} {units.get(name, ''):7s} "
                  f"q1 {q1:<11.6g} q3 {q3:<11.6g} spread {spread:.3f}  n={len(xs)}")


def verdict(name, a, b, better, bounds):
    qa, qb = quartiles(a), quartiles(b)
    hi = better.get(name) == "higher"
    if name not in bounds:
        if min(a) == max(a) == min(b) == max(b):
            return "same"
        if (min(b) > max(a)) if hi else (max(b) < min(a)):
            return "better"
        if (max(b) < min(a)) if hi else (min(b) > max(a)):
            return "worse"
        return "unresolved"
    bound = bounds[name]
    base = abs(qa[1]) or 1.0
    change = (qb[1] - qa[1]) / base * (1.0 if hi else -1.0)  # > 0 is an improvement
    spread = max((qa[2] - qa[0]) / base, (qb[2] - qb[0]) / (abs(qb[1]) or 1.0))
    if change < -bound:
        return "worse"
    if change > bound and change > spread:
        return "better"
    if spread > bound or abs(change) > bound:
        return "unresolved"
    return "same"


def compare(path_a, path_b):
    va, ca = load(path_a)
    vb, cb = load(path_b)
    units, better, bounds = units_bounds()
    for w in sorted(set(va) | set(vb)):
        for label, c in (("base", ca.get(w)), ("change", cb.get(w))):
            if c:
                print(f"{w} {label}: {c[2]} runs, error_rate {c[1] / max(c[0], 1):.4g}")
        names = sorted(set(va.get(w, {})) | set(vb.get(w, {})))
        for name in names:
            a, b = va.get(w, {}).get(name), vb.get(w, {}).get(name)
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            bound = f"bound {bounds[name]:.2f}" if name in bounds else "no bound"
            print(f"  {name:28s} {units.get(name, ''):7s} "
                  f"base {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}]  "
                  f"change {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}]  "
                  f"{bound}: {verdict(name, a, b, better, bounds)}")


def main(argv):
    if argv and argv[0] == "collect":
        collect(argv[1:])
    elif len(argv) == 1:
        show(argv[0])
    elif len(argv) == 2:
        compare(argv[0], argv[1])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
