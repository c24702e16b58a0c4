"""Traced-run report: per-layer metrics per workload, the tracing overhead,
and a check that the layers' self times account for the traced pass.

    python3 perfbench/layers.py [--workloads research,ingest] [--seed N]

For each workload it runs the benchmark twice on the same seed — untraced,
then traced — prints every layer the workload entered with its metrics,
the overhead (traced wall_s minus untraced wall_s), and fails (exit 1) when
the time no layer span covers (harness work between calls) exceeds 5% of
the traced wall time.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
METRICS = ("self_s", "plan_s", "driver_gap_s", "jobs", "tasks", "exec_cpu_s",
           "shuffle_bytes", "spill_bytes")


def run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout.strip().splitlines()
    return json.loads(out[-2])["stamp"], json.loads(out[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="research,ingest")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    ok = True
    for w in a.workloads.split(","):
        _, plain = run(w, a.seed, 0)
        stamp, traced = run(w, a.seed, 1)
        m = {k: v["value"] for k, v in traced["metrics"].items()}
        wall = m["trace.wall_s"]
        print(f"\n== {w} (seed {a.seed}, k={stamp['k']}, loadavg {stamp['loadavg_start']} -> "
              f"{stamp['loadavg_end']}, correct={traced['correct'] and plain['correct']})")
        layers = sorted({k.split(".")[0] for k in m if k.endswith(".self_s")},
                        key=lambda l: -m[f"{l}.self_s"])
        print(f"{'layer':<13}" + "".join(f"{c:>15}" for c in METRICS))
        for l in layers:
            if m[f"{l}.self_s"] == 0 and m[f"{l}.jobs"] == 0:
                continue
            print(f"{l:<13}" + "".join(f"{m[f'{l}.{c}']:>15.3f}" if c.endswith("_s")
                                       else f"{m[f'{l}.{c}']:>15.0f}" for c in METRICS))
        extras = {k: v for k, v in m.items()
                  if not k.startswith("trace.") and k.split(".", 1)[1] not in METRICS}
        print("extras: " + ", ".join(f"{k}={v:.6g}" for k, v in sorted(extras.items())))
        untraced = plain["metrics"]["wall_s"]["value"]
        print(f"wall_s untraced {untraced:.3f} s, traced {wall:.3f} s, tracing overhead "
              f"{wall - untraced:+.3f} s ({(wall - untraced) / untraced:+.1%}); "
              f"time inside listener callbacks {m['trace.listener_s']:.3f} s")
        share = m["trace.unattributed_s"] / wall
        verdict = "ok" if share <= 0.05 else "FAIL"
        ok &= share <= 0.05
        print(f"accounting: layer self times {wall - m['trace.unattributed_s']:.3f} s of "
              f"{wall:.3f} s traced wall; unattributed {share:.1%} [{verdict}]")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
