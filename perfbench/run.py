"""graft benchmark: cold, fully materialized passes of two workloads.

    python3 perfbench/run.py --workload research|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the harness from
source (perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py, cached by workload, seed and size), then runs cold
passes — each one a fresh JVM with a fresh SparkSession — until `--seconds`
have passed (at least one pass), and checks every pass's outputs
(perfbench/check.py). Prints one stamp line, then as the last line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics of the traced run with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(build.OUT, "work")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

NPROC = len(os.sched_getaffinity(0))
# every pass runs on local[K]
K = min(4, NPROC)
# end-to-end metrics every workload reports
END_TO_END = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MiB",
              "bytes_stored_per_input_byte": "ratio"}


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def inputs(workload, seed):
    """Generated inputs, made once per (workload, seed, generator)."""
    h = hashlib.sha256(json.dumps(gen.SIZES[workload], sort_keys=True).encode())
    with open(gen.__file__, "rb") as f:
        h.update(f.read())
    tag = f"{workload}-{seed}-{h.hexdigest()[:8]}"
    d = os.path.join(build.OUT, "inputs", tag)
    if not os.path.exists(os.path.join(d, "meta.json")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def tail(xs):
    """Highest percentile with at least ten samples beyond it, and its value."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:  # no percentile has ten samples beyond it: report the maximum
        return 100.0, xs[-1]
    i = n - 11  # index of the sample with exactly ten above it
    return round(100.0 * (i + 1) / n, 1), xs[i]


def one_pass(workload, seed, input_dir, classes, trace, i):
    work = os.path.join(WORK, f"{workload}-{os.getpid()}-{i}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    result = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    # a fixed young generation and no adaptive resizing keep the resident
    # set a function of the work done rather than of GC timing
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-Xmn384m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(classes), "perfbench.Harness",
           workload, input_dir, work, result, str(trace), str(K)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        spawn_ms = int(time.time() * 1000)
        p = subprocess.Popen(cmd + [str(spawn_ms)], stdout=log, stderr=subprocess.STDOUT,
                             cwd=ROOT, env=env)
        try:
            rc = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: pass {i} of {workload} exited with {rc}")
    jvm_s = time.time() - spawn_ms / 1000
    with open(result) as f:
        r = json.load(f)
    t_check = time.time()
    bad = {f["op"]: f["error"] for f in r["failures"]}
    if workload == "ingest":
        bad.update(check.check_ingest(input_dir, work))
        if r["metrics"].get("check.forgotten_hits", 0) != 0:
            bad["forgotten"] = f"{r['metrics']['check.forgotten_hits']:.0f} rows of forgotten keys read"
    else:
        bad.update(check.check_queries(input_dir, work))
    if workload == "research":
        r["metrics"].update(check.research_metrics(input_dir, work))
    r["bad"] = bad
    if trace:
        os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(build.OUT, "traces", f"{workload}-{seed}-{i}.jsonl"))
    r["jvm_s"], r["check_s"] = jvm_s, time.time() - t_check
    shutil.rmtree(work, ignore_errors=True)
    return r


def summarize(workload, passes, trace):
    """(metrics of the last line, workload-specific extras)."""
    med = lambda k: statistics.median(p["metrics"][k] for p in passes)  # noqa: E731
    if trace:
        return {k: {"value": med(k), "unit": layer_unit(k)} for k in passes[0]["metrics"]
                if "." in k and not k.startswith("check.")}, {}
    m = {k: med(k) for k in ("setup_s", "wall_s", "peak_rss_mb")}
    m["bytes_stored_per_input_byte"] = med("bytes_stored") / med("bytes_ingested")
    extra = {}
    if workload == "ingest":
        for s, name in (("commit_s", "commit"), ("read_s", "read")):
            xs = [x for p in passes for x in p["samples"][s]]
            pct, val = tail(xs)
            extra[f"{name}_p50_s"] = {"value": statistics.median(xs), "unit": "s"}
            extra[f"{name}_tail_s"] = {"value": val, "unit": "s", "percentile": pct,
                                       "samples": len(xs)}
    if workload == "research":
        for k in ("ann_recall_at_10", "dedup_pair_recall"):
            extra[k] = {"value": med(k), "unit": "ratio"}
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}, extra


def layer_unit(k):
    m = k.split(".", 1)[1]
    if m.endswith("_s"):
        return "s"
    if "bytes" in m:
        return "bytes"
    if m == "write_amp":
        return "ratio"
    return "count"


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_start = loadavg()
    t_build = time.time()
    classes = build.build()
    t_gen = time.time()
    input_dir = inputs(a.workload, a.seed)
    t_gen, t_build = time.time() - t_gen, t_gen - t_build
    start = time.time()
    passes = []
    while True:
        t0 = time.time()
        passes.append(one_pass(a.workload, a.seed, input_dir, classes, a.trace, len(passes)))
        took = time.time() - t0
        if time.time() + took > start + a.seconds:
            break
    attempted = sum(p["attempted"] for p in passes)
    bad = [(i, op, why) for i, p in enumerate(passes) for op, why in p["bad"].items()]
    failed = min(attempted, len(bad))
    for i, op, why in bad:
        sys.stderr.write(f"perfbench: pass {i} {op}: {why}\n")
    stamp = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "passes": len(passes),
        "nproc": NPROC, "k": K, "loadavg_start": load_start,
        "loadavg_end": loadavg(), "jvm": passes[0]["info"]["jvm_version"],
        "spark": passes[0]["info"]["spark_version"],
        "build_s": round(t_build, 2), "gen_s": round(t_gen, 2),
        "jvm_s": [round(p["jvm_s"], 2) for p in passes],
        "check_s": [round(p["check_s"], 2) for p in passes],
    }
    metrics, extra = summarize(a.workload, passes, a.trace)
    if extra:
        stamp["extra"] = extra
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": dict(sorted(metrics.items()))}))


if __name__ == "__main__":
    main()
