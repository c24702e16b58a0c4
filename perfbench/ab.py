"""A/B runner: compares two commits with identical benchmark code.

    python3 perfbench/ab.py BASE CHANGE [--workloads research,ingest]
        [--pairs 10] [--seed 7919]

Both commits are exported (git archive) under .bench_build/ab/, and this
checkout's BENCHMARK.json and perfbench/ are copied over each, so only the
library differs. Every pair runs both sides once, alternating which side
runs first. Per workload and metric it prints each side's median and
quartiles and the share of pairs the change won (ties count for neither),
and a verdict:

- "better": at least 10 pairs ran, the change won at least nine tenths of
  them, and the medians differ by more than the base's own quartile spread;
  when the change failed more operations than the base on that workload, a
  gain does not count and reads "better (void: more failures)";
- "worse": the change's median is worse than the base's by more than the
  metric's bound;
- "unresolved": the base's quartile spread, as a share of its median,
  exceeds the bound — unless every change run beats every base run;
- "same": none of the above.

The default seed is one that was not used while the benchmark was tuned
(seeds 1-230 were).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# workload-specific metrics from the stamp line, where higher is better
HIGHER = {"ann_recall_at_10", "dedup_pair_recall"}


def export(rev, dest):
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, capture_output=True,
                         text=True, check=True).stdout.strip()
    d = os.path.join(dest, sha[:12])
    if not os.path.exists(d):
        os.makedirs(d + ".tmp", exist_ok=True)
        archive = subprocess.run(["git", "archive", sha], cwd=ROOT, capture_output=True,
                                 check=True).stdout
        subprocess.run(["tar", "-x", "-C", d + ".tmp"], input=archive, check=True)
        os.replace(d + ".tmp", d)
    shutil.rmtree(os.path.join(d, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    return d


def run(checkout, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"ab: run failed in {checkout}")
    lines = out.stdout.strip().splitlines()
    stamp, res = json.loads(lines[-2])["stamp"], json.loads(lines[-1])
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    vals.update({k: v["value"] for k, v in stamp.get("extra", {}).items()})
    return vals, res["failed"]


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workloads", default="research,ingest")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=7919)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}
    dest = os.path.join(ROOT, ".bench_build", "ab")
    sides = {"base": export(a.base, dest), "change": export(a.change, dest)}
    for w in a.workloads.split(","):
        got = {"base": [], "change": []}
        failed = {"base": 0, "change": 0}
        for i in range(a.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                vals, f = run(sides[side], w, a.seed, bench["run_seconds"])
                got[side].append(vals)
                failed[side] += f
        print(f"\n== {w}: {a.pairs} pairs, seed {a.seed}, failed ops base {failed['base']} "
              f"change {failed['change']}")
        print(f"{'metric':<30}{'base q1/med/q3':>32}{'change q1/med/q3':>32}{'won':>6}  verdict")
        for name in got["base"][0]:
            if name not in got["change"][0]:
                continue
            b = [v[name] for v in got["base"]]
            c = [v[name] for v in got["change"]]
            lower = spec.get(name, {}).get("better", "higher" if name in HIGHER else "lower") == "lower"
            bound = spec.get(name, {}).get("bound")
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            won = sum(better(y, x) for x, y in zip(b, c)) / len(b)
            bq, cq = quartiles(b), quartiles(c)
            spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
            worse_by = ((cq[1] - bq[1]) if lower else (bq[1] - cq[1])) / bq[1] if bq[1] else 0.0
            if len(b) >= 10 and won >= 0.9 and abs(cq[1] - bq[1]) > bq[2] - bq[0]:
                verdict = "better" if failed["change"] <= failed["base"] \
                    else "better (void: more failures)"
            elif bound is not None and worse_by > bound:
                verdict = "worse"
            elif bound is not None and spread > bound and not all(
                    better(y, x) for x in b for y in c):
                verdict = "unresolved"
            else:
                verdict = "same" if bound is not None else "same (no bound)"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{name:<30}{fmt(bq):>32}{fmt(cq):>32}{won:>6.0%}  {verdict}")


if __name__ == "__main__":
    main()
