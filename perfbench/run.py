#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process tree.

  python3 perfbench/run.py --workload offline_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds graft from source (perfbench/
build.py), writes the workload's inputs from the seed (perfbench/gen.py),
runs them in a fresh JVM and Spark session on local[nproc], checks the
outputs, and prints as its last line one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, measured untraced.
With --trace 1 the run is traced and the metrics are the per-layer ones;
spans and per-query rows are written under .bench_run/. Every metric is
described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {"offline_batch": "batch", "serve_mixed": "lookup",
             "query_sweep": "query"}
SETUP_REPEATS = 3
JVM_TIMEOUT_S = 165

END_TO_END = [("setup_s", "s"), ("op_latency_ms", "ms"),
              ("throughput_per_s", "1/s"), ("heap_live_mb", "MB")]
PER_LAYER = [
    ("tables.load_ms", "ms"), ("tables.load_jobs", "count"),
    ("construct.s", "s"), ("construct.jobs", "count"),
    ("construct.stages", "count"), ("catalyst.plan_s", "s"),
    ("exec.s", "s"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.ms_per_stage", "ms"),
    ("asof.construct_s", "s"), ("asof.plan_s", "s"), ("asof.exec_s", "s"),
    ("asof.stages", "count"), ("asof.shuffle_bytes", "bytes"),
    ("asof.spill_bytes", "bytes"), ("asof.task_skew", "ratio"),
    ("materialize.exec_s", "s"), ("materialize.shuffle_bytes", "bytes"),
    ("export.s", "s"), ("export.bytes_written", "bytes"),
    ("validate.s", "s"),
    ("publish.s", "s"), ("publish.bytes_written", "bytes"),
    ("lookup.construct_ms", "ms"), ("lookup.exec_ms", "ms"),
    ("lookup.jobs", "count"), ("lookup.files_opened", "count"),
    ("lookup.prune_ratio", "ratio"), ("lookup.rows_scanned_per_row", "ratio"),
    ("upsert.jobs", "count"), ("upsert.write_amp", "ratio"),
    ("upsert.files_added", "count"), ("compact.s", "s"),
    ("compact.bytes_written", "bytes"),
    ("vstore.manifest_ms", "ms"), ("vstore.versions", "count"),
    ("trace.overhead_frac", "ratio"), ("trace.gap_frac", "ratio"),
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    """Usable cores from the scheduler's affinity mask (what nproc prints)."""
    n = len(os.sched_getaffinity(0))
    if not isinstance(n, int) or n < 1:
        fail(f"cannot determine the core count (got {n!r})")
    return n


def quantile(xs, q):
    """Linear-interpolated quantile; a None sample sorts above all others."""
    s = sorted(xs, key=lambda x: float("inf") if x is None else x)
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    if s[hi] is None:
        return None
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_jvm(cp, args, data, out, tmp, log_path, n_cores):
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--data", data, "--out", out,
              "--cores", str(n_cores)])
    t0 = time.perf_counter()
    jvm_s = None
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            for line in p.stdout:
                if line.strip() == "READY" and jvm_s is None:
                    jvm_s = time.perf_counter() - t0
            p.wait(timeout=max(1, JVM_TIMEOUT_S - (time.perf_counter() - t0)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or jvm_s is None:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"JVM exited with {p.returncode}; log tail:\n{tail}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), jvm_s


def median_ms(ops, kind):
    xs = [o["s"] * 1000 for o in ops if o["kind"] == kind and o["ok"]]
    return (statistics.median(xs) if xs else None), len(xs)


def end_to_end(workload, res, setup_s):
    """The gated metrics, and the workload's own named ones with their n."""
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    # a failed operation counts as missing every percentile
    lat = [o["s"] * 1000 if o["ok"] else None
           for o in ops if o["kind"] == WORKLOADS[workload]]
    named = {"setup_s": (setup_s, "s", SETUP_REPEATS),
             "failed_frac": (failed / len(ops), "ratio", len(ops)),
             "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
             "heap_live_mb": (res["heap_live_mb"], "MB", 1)}
    if workload == "query_sweep":
        # each query's median over passes; a failed query never shortens
        # a pass, it makes the sweep's time unknown (None)
        per = {}
        for r in res["extra"]["per_query"]:
            if r["warmup"]:
                continue
            per.setdefault(r["query"], []).append(r["total_s"] if r["ok"] else None)
        lat = [None if None in v else statistics.median(v) * 1000
               for v in per.values()]
        sweep_s = None if None in lat else sum(lat) / 1000
        throughput = len(lat) / sweep_s if sweep_s else 0.0
        named["sweep_s"] = (sweep_s, "s", len(lat))
        named["query_p50_s"] = (_s(quantile(lat, 0.5)), "s", len(lat))
        named["query_p90_s"] = (_s(quantile(lat, 0.9)), "s", len(lat))
    elif workload == "offline_batch":
        # training rows per second of the whole job; the PIT + export
        # rate is printed beside it, ungated (it spans ~2 s)
        throughput = res["named"]["batch_rows_per_s"]
        named["batch_s"] = (_s(quantile(lat, 0.5)), "s", len(lat))
        named["train_rows_per_s"] = (res["named"]["train_rows_per_s"], "1/s", len(lat))
    else:
        throughput = res["named"]["serve_ops_per_s"]
        med = {k: median_ms(ops, k) for k in ("upsert", "compact")}
        named["lookup_p50_ms"] = (quantile(lat, 0.5), "ms", len(lat))
        named["lookup_p90_ms"] = (quantile(lat, 0.9), "ms", len(lat))
        named["upsert_p50_ms"] = (med["upsert"][0], "ms", med["upsert"][1])
        named["compact_p50_ms"] = (med["compact"][0], "ms", med["compact"][1])
        named["serve_ops_per_s"] = (throughput, "1/s", len(ops))
    if workload == "query_sweep":
        # a fixed, mixed query set: the geometric mean of per-query medians
        typical = (None if None in lat
                   else statistics.geometric_mean(lat))
    else:
        typical = quantile(lat, 0.5)
    # a failed operation makes the typical latency unknown; the run's
    # whole operation time is the least it can be
    metrics = {"setup_s": setup_s,
               "op_latency_ms": typical if typical is not None
               else sum(o["s"] for o in ops) * 1000,
               "throughput_per_s": throughput,
               "heap_live_mb": res["heap_live_mb"]}
    return metrics, named


def _s(ms):
    return None if ms is None else ms / 1000


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if args.seconds <= 0:
        fail("--seconds must be positive")
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft missing)")

    n_cores = cores()
    try:
        cp = build.build(root, os.path.join(root, ".bench_build"))
    except (OSError, subprocess.CalledProcessError) as e:
        fail(f"build failed: {e}")

    run_dir = os.path.join(root, ".bench_run", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, tmp = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    for d in (out, tmp):
        os.makedirs(d)

    # set-up, part 1: input generation, repeated; the median counts
    gen_s = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        sizes = gen.generate(args.workload, args.seed, data, args.seconds)
        gen_s.append(time.perf_counter() - t0)

    t_jvm = time.perf_counter()
    res, jvm_s = run_jvm(cp, args, data, out, tmp,
                         os.path.join(run_dir, "jvm.log"), n_cores)
    # set-up, part 2: JVM and session start; part 3: in-JVM set-up
    # (the initial publish for serve_mixed), repeated, median
    setup_s = (jvm_s + statistics.median(gen_s)
               + (statistics.median(res["setup_samples_s"])
                  if res["setup_samples_s"] else 0.0))

    t_jvm_done = time.perf_counter()
    problems = list(res["mismatches"])
    problems += checks.check(args.workload, args.seed, data, res)
    print(f"perfbench: generation {sum(gen_s):.2f} s, JVM {t_jvm_done - t_jvm:.2f} s"
          f" (ready after {jvm_s:.2f} s), checks {time.perf_counter() - t_jvm_done:.2f} s",
          file=sys.stderr)
    ops = res["ops"]
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])

    facts = {"workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace, "nproc": n_cores,
             "master": f"local[{n_cores}]", "max_heap_mb": res["max_heap_mb"],
             "jvm": res["jvm"], "spark": res["spark"], "inputs": sizes}
    print("inputs and machine:", json.dumps(facts))
    if problems:
        print("correctness problems:", file=sys.stderr)
        for p in problems:
            print("  " + p, file=sys.stderr)

    if args.trace:
        layers = res["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
        print(f"spans: {os.path.join(out, 'spans.jsonl')}")
        if "sweep_rows" in res["extra"]:
            rows_path = os.path.join(out, "sweep_rows.json")
            with open(rows_path, "w") as f:
                json.dump(res["extra"]["sweep_rows"], f, indent=1)
            print(f"per-query rows: {rows_path}")
    else:
        e2e, named = end_to_end(args.workload, res, setup_s)
        print(f"{args.workload} metrics:", json.dumps(
            {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()}))
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}

    # keep the run's outputs small: inputs and stores go, results stay
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(out, "store"), ignore_errors=True)

    correct = not problems
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
