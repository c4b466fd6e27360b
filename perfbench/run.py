#!/usr/bin/env python3
"""The repo's benchmark of record.

One single-threaded client in one JVM drives the library's public entry
points in closed loop on Spark local[N] (N = the usable cores, at most
4): each operation starts when the previous one has returned.

Workloads (inputs are generated from --seed by perfbench/scala/Inputs):
  profile        ProfileReport(df).html with the exact default config,
                 interleaved in a seed-chosen order with the fused one-scan
                 config, on a 200k-row lineitem table.
  corpus_funnel  CorpusPipeline.funnelCounts with the default (routed)
                 config on a 22.5k-doc open-vocabulary corpus with planted
                 near-duplicates: above the router's 20k-row threshold, so
                 the banded MinHash and Bloom arms run.

Usage:
  python3 perfbench/run.py --workload profile --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --compare A.json B.json

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
from spans recorded around the benchmark's calls into each layer. The last
stdout line is one JSON object {correct, attempted, failed, metrics}.
Each run's full result, with the fingerprint of its inputs and settings,
is kept under .bench_build/perfbench/results/; --compare refuses two
results whose fingerprints differ.
"""
import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
HEAP = "3g"
MAX_CORES = 4
# every run must end within 180 s; leave room for start-up and teardown
RUN_DEADLINE_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def read(path):
    with open(path) as fh:
        return fh.read()


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def run_jvm(args, cores, work, out_file):
    data = os.path.join(OUT, "data")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = build.build()
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-cp", cp,
              "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(cores),
              "--data", data, "--work", work, "--out", out_file])
    err_path = os.path.join(OUT, "logs", f"{args.workload}-{args.seed}.log")
    os.makedirs(os.path.dirname(err_path), exist_ok=True)
    stat0, load0 = read("/proc/stat"), read("/proc/loadavg").split()[0]
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                                cwd=ROOT)
        try:
            code = proc.wait(timeout=RUN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: run exceeded {RUN_DEADLINE_S} s; "
                             f"log in {err_path}")
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    stat1, load1 = read("/proc/stat"), read("/proc/loadavg").split()[0]
    if code != 0:
        sys.stderr.write(read(err_path)[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {code}; log in {err_path}")
    own = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    box = stats.contamination(stat0, stat1, own, os.sysconf("SC_CLK_TCK"))
    box.update(load1_before=float(load0), load1_after=float(load1))
    return box


def usable_cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def summarize(rec, box, cores):
    ops = rec["ops"] + rec["untimed_ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and len(rec["ops"]) > 0
    if rec["trace"]:
        correct = correct and rec["notes"].get("decompose_ok", "true") == "true"
    for kind in sorted({o["kind"] for o in rec["ops"]}):
        lat = stats.latency(rec["ops"], kind)
        tail = "".join(f", {k} {v:.4f} s" for k, v in lat.items()
                       if k not in ("n", "p50"))
        p50 = f"{lat['p50']:.4f} s" if lat["n"] else "none succeeded"
        log(f"{kind}: p50 {p50} over n={lat['n']}{tail}")
    log(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} "
        f"operations failed or gave a wrong output)")
    for o in ops:
        if not o["ok"]:
            log(f"failed {o['kind']}: {o['error']}")
    flag = "CONTAMINATED" if box["contaminated"] else "clean"
    log(f"box: load1 {box['load1_before']:.2f} -> {box['load1_after']:.2f}, "
        f"others' CPU {100 * box['others_cpu_share']:.1f}%, steal "
        f"{100 * box['steal_share']:.1f}% of {os.cpu_count()} cpus: {flag}")
    if rec["trace"]:
        values = stats.per_layer(rec, cores)
        units = stats.PER_LAYER
    else:
        values = stats.end_to_end(rec)
        units = stats.END_TO_END
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    for k, v in metrics.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def compare_cmd(a_path, b_path):
    a, b = json.loads(read(a_path)), json.loads(read(b_path))
    try:
        rows = stats.compare(a, b)
    except stats.FingerprintMismatch as e:
        print(f"perfbench: refusing to compare: {e}", file=sys.stderr)
        return 2
    for k, (va, vb, ratio) in rows.items():
        r = f"{ratio:.4f}" if ratio is not None else "n/a"
        print(f"{k}: {va:.6g} -> {vb:.6g} (x{r})")
    return 0


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(stats.MAIN_OP))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = p.parse_args()
    if args.compare:
        return compare_cmd(*args.compare)
    if not args.workload:
        p.error("--workload is required")

    cores = usable_cores()
    work = os.path.join(OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_file = os.path.join(work, "record.json")
    box = run_jvm(args, cores, work, out_file)
    rec = json.loads(read(out_file))
    result = summarize(rec, box, cores)
    result_dir = os.path.join(OUT, "results")
    os.makedirs(result_dir, exist_ok=True)
    keep = dict(result, fingerprint=stats.fingerprint(rec), box=box,
                record=rec)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(result_dir, name), "w") as fh:
        json.dump(keep, fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
