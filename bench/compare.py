#!/usr/bin/env python3
"""Collect benchmark result sets and compare two of them.

    python3 bench/compare.py collect OUT --seeds 1-10 [--workloads a,b] [--trace 0|1]
        Run bench/run.py once per workload and seed; each run's last stdout
        line is saved as OUT/<workload>-seed<N>-trace<T>.json.
    python3 bench/compare.py spread SET
        Per workload and metric: median, quartiles and the quartile spread
        as a share of the median, against the metric's bound.
    python3 bench/compare.py compare BASE NEW
        Per workload and metric: each set's median and quartiles, the
        paired win rate of NEW over BASE (runs paired by seed, ties count
        for neither), and a verdict:
          gain        NEW wins >= 9 of 10 pairs and the medians differ by
                      more than BASE's quartile spread;
          regression  NEW's median is worse than BASE's by more than the
                      metric's bound;
          unresolved  either set's quartile spread exceeds the bound (and
                      not every NEW run beats, or loses to, every BASE run);
          no change   otherwise.
        Per-layer metrics have no bound and get no verdict.

Run from the root of a checkout; bounds and directions come from
BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def metric_specs():
    s = spec()
    return {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def collect(args):
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    s = spec()
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in s["workloads"]]
    for seed in seeds(args.seeds):
        for w in names:
            cmd = s["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(s["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            last = lines[-1] if lines else ""
            name = f"{w}-seed{seed}-trace{args.trace}.json"
            (out / name).write_text(last + "\n")
            if len(lines) > 1:  # the run metadata line: anchors, passes, samples
                (out / (name[:-5] + ".meta")).write_text(lines[-2] + "\n")
            print(f"{name}: exit {p.returncode} {last[:160]}", flush=True)


def load(path):
    """{workload: {metric: {seed: value}}} plus {workload: [failed runs]}."""
    values = defaultdict(lambda: defaultdict(dict))
    bad = defaultdict(list)
    for f in sorted(Path(path).glob("*.json")):
        w, seed = f.stem.rsplit("-trace", 1)[0].rsplit("-seed", 1)
        try:
            r = json.loads(f.read_text())
        except json.JSONDecodeError:
            bad[w].append(f.name)
            continue
        if not r.get("correct"):
            bad[w].append(f.name)
        for m, v in r.get("metrics", {}).items():
            values[w][m][int(seed)] = v["value"]
    return values, bad


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def rel_spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def fmt(x):
    return f"{x:.4g}"


def spread(args):
    specs = metric_specs()
    values, bad = load(args.set)
    for w in sorted(values):
        print(f"== {w} ({len(bad[w])} incorrect runs)")
        for m, by_seed in values[w].items():
            xs = list(by_seed.values())
            q1, q2, q3 = quartiles(xs)
            bound = specs.get(m, {}).get("bound")
            rs = rel_spread(xs)
            flag = "" if bound is None else ("  ok" if rs <= bound / 3 else
                                             "  within bound" if rs <= bound else "  OVER BOUND")
            print(f"  {m:32s} n={len(xs):2d} median {fmt(q2):>10s} q1 {fmt(q1):>10s} "
                  f"q3 {fmt(q3):>10s} spread {rs:6.3f}" +
                  ("" if bound is None else f" bound {bound}") + flag)


def compare(args):
    specs = metric_specs()
    base, bad_b = load(args.base)
    new, bad_n = load(args.new)
    for w in sorted(set(base) | set(new)):
        print(f"== {w} (incorrect runs: base {len(bad_b[w])}, new {len(bad_n[w])})")
        for m in base.get(w, {}):
            if m not in new.get(w, {}):
                continue
            b, n = base[w][m], new[w][m]
            sp = specs.get(m, {})
            lower = sp.get("better", "lower") == "lower"
            paired = [(b[s], n[s]) for s in sorted(set(b) & set(n))]
            wins = sum(1 for x, y in paired if (y < x if lower else y > x))
            ties = sum(1 for x, y in paired if x == y)
            bq, nq = quartiles(list(b.values())), quartiles(list(n.values()))
            worse = (nq[1] - bq[1]) / abs(bq[1]) if bq[1] else 0.0
            if not lower:
                worse = -worse
            verdict = ""
            bound = sp.get("bound")
            if bound is not None:
                sep = ((max(n.values()) < min(b.values())) or (min(n.values()) > max(b.values())))
                if paired and wins >= 0.9 * len(paired) and abs(nq[1] - bq[1]) > bq[2] - bq[0]:
                    verdict = "gain"
                elif max(rel_spread(list(b.values())), rel_spread(list(n.values()))) > bound and not sep:
                    verdict = "unresolved"
                elif worse > bound:
                    verdict = "regression"
                else:
                    verdict = "no change"
            print(f"  {m:32s} base {fmt(bq[1]):>10s} [{fmt(bq[0])}, {fmt(bq[2])}]  "
                  f"new {fmt(nq[1]):>10s} [{fmt(nq[0])}, {fmt(nq[2])}]  "
                  f"wins {wins}/{len(paired)} ties {ties}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads", default="")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("spread")
    s.add_argument("set")
    p = sub.add_parser("compare")
    p.add_argument("base")
    p.add_argument("new")
    args = ap.parse_args()
    {"collect": collect, "spread": spread, "compare": compare}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
