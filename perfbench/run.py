#!/usr/bin/env python3
"""The graft benchmark: runs one workload against the compiled engine, checks
its outputs and prints its metrics. See perfbench/README.md.

    python3 perfbench/run.py --workload batch|stream \\
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. The last line of stdout is one JSON object
{correct, attempted, failed, metrics}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The exit
code is 0 only when every output was correct.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402

CORES = 4
RUN_BUDGET_S = 170  # a run, not counting the build, must end within 180 s
# The harness's host-speed probe (a fixed-work LCG spin) takes about this
# long on a quiet host. On a shared host the whole VM runs slower or faster
# for minutes at a time, and between runs the ops' latencies followed the
# probe's time in rank; op_p50_norm_ms scales each run's latency by
# REF_SPIN_S / (the run's median probe time), to what a quiet host would show.
REF_SPIN_S = 0.05

# The analysts' reads in a batch pass: a dashboard read (an as-of join) and
# an iterative kernel (g3_components: ten label-propagation rounds, each
# checkpointed). The feature transform itself runs inside runEtl.
QUERIES = ["j10_asof_nearest", "g3_components"]
# (symbols, trading days) of the runEtl payloads
ETL_SIZE = {"full": (12, 250), "smoke": (10, 60)}
# A fixed, pre-touched heap with a fixed young generation. Under the default
# adaptive sizing the process's peak RSS varied by +-20 % between identical
# runs, and without pre-touching it still varied by 12 % with how much of the
# old generation the collector had touched. Peak RSS is then the heap plus
# the JVM's native memory (metaspace, code cache, thread stacks, buffers).
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms1536m", "-Xmx1536m", "-Xmn512m",
              "-XX:+AlwaysPreTouch"]
# symbols per day file, warm-up files and the landing interval. A
# micro-batch took about 0.65 s at the seed commit whatever the file size,
# so one file every 1.3 s is half the sustainable rate.
STREAM = {"full": dict(symbols=500, warm=10, interval_ms=1300),
          "smoke": dict(symbols=200, warm=2, interval_ms=500)}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def prepare(workload, seed, seconds, size, work):
    """Generate the workload's inputs; return the harness arguments and what
    the checks need."""
    if workload == "batch":
        corpus = os.path.join(work, "corpus")
        inputs.corpus(corpus, seed)
        path = os.path.join(work, "payloads.parquet")
        expect = inputs.etl_payloads(path, seed, *ETL_SIZE[size])
        # the seed also permutes query order
        return {"corpus": corpus, "payloads": path,
                "queries": ",".join(inputs.permuted(QUERIES, seed))}, expect
    s = STREAM[size]
    files = s["warm"] + max(2, math.ceil(seconds * 1000 / s["interval_ms"]))
    staging = os.path.join(work, "staging")
    inputs.stream_days(staging, seed, s["symbols"], files)
    return {"staging": staging, "warm_files": s["warm"], "interval_ms": s["interval_ms"]}, None


def cpu_ticks():
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_jvm(classes, work, args, timeout):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + JVM_MEMORY + ADD_OPENS +
           ["-cp", os.pathsep.join([classes, jars]), "graft.perfbench.Harness"] +
           [f"{k}={v}" for k, v in args.items()])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep it in work
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {code} and wrote no result:\n{tail}")
    with open(path) as f:
        return json.load(f)


def check(workload, res, work, expect):
    """Return the set of failed op ids (0 = a whole-workload failure) and the
    reasons."""
    bad, why = set(), []
    ops = res["ops"]
    for op in ops:
        if op["error"]:
            bad.add(op["id"])
            why.append(f"op {op['id']} {op['kind']}: {op['error']}")
    if workload == "batch":
        for name, err in oracle.check(os.path.join(work, "corpus"), os.path.join(work, "out"),
                                      os.path.join(work, "oracle_sql.json")).items():
            if err:
                bad.update(op["id"] for op in ops if op["kind"] == name)
                why.append(f"{name}: {err}")
        checked = set()
        for r in res.get("etl", []):
            checked.add(r["op"])
            want = {k: expect[k] for k in ("loaded", "unique_symbols", "earliest_date",
                                           "latest_date", "pass_rate")}
            want["total_records"] = expect["loaded"]
            problems = [k for k, v in want.items() if r[k] != v]
            if abs(r["avg_close"] - expect["avg_close"]) > 1e-9 * expect["avg_close"]:
                problems.append("avg_close")
            if r["alert"] or r["alerts_sent"]:
                problems.append(f"alert {r['alert']!r}")
            if problems:
                bad.add(r["op"])
                why.append(f"op {r['op']} runEtl: {problems} (expected {expect})")
        bad.update(op["id"] for op in ops if op["kind"] == "runEtl" and op["id"] not in checked)
    else:
        st = res["stream"]
        if st["mismatches"] or st["expected_rows"] != st["streamed_rows"]:
            bad.add(0)
            why.append(f"stream output differs from the batch derivation: {st}")
    return bad, why


def per_kind(ops, stat):
    """stat over each op kind's latencies, summed over the kinds: one pass
    over the op kinds at that percentile (a single kind on stream)."""
    return sum(stat([op["sec"] for op in ops if op["kind"] == k])
               for k in {op["kind"] for op in ops})


def end_to_end(res, gen_s):
    """The end-to-end metrics, the unscaled latencies (diagnostics) and the
    sample count."""
    timed = [op for op in res["ops"] if op["section"] == "timed" and not op["error"]]
    raw = {"op_p50_ms": per_kind(timed, median) * 1e3, "op_p90_ms": per_kind(timed, p90) * 1e3}
    return {"setup_s": gen_s + res["setup_s"],
            "op_p50_norm_ms": raw["op_p50_ms"] * REF_SPIN_S / median(res["spins"]),
            "peak_rss_mb": res["peak_rss_mb"]}, raw, len(timed)


RATIO = {"ops.clean_keep_ratio", "spark.tasks_per_stage_p50", "spark.core_busy_ratio",
         "streaming.state_rows", "streaming.state_mb", "loadgen.late_ms",
         "io.lake_bytes_per_row", "trace.overhead_s"}


def per_layer(workload, res, names):
    layers = list(res["layers"].values())
    total = {n: sum(m.get(n, 0.0) for m in layers) for n in names if n not in RATIO}
    tot = lambda k: sum(m.get(k, 0.0) for m in layers)  # noqa: E731
    rows_in = tot("ops.rows_in")
    total["ops.clean_keep_ratio"] = tot("ops.rows_out") / rows_in if rows_in else 0.0
    total["spark.tasks_per_stage_p50"] = median(res["stage_tasks"])
    wall = tot("op.wall_s")
    total["spark.core_busy_ratio"] = tot("spark.task_s") / (wall * CORES) if wall else 0.0
    total["streaming.state_rows"] = max([m.get("streaming.state_rows", 0.0) for m in layers] or [0.0])
    total["streaming.state_mb"] = max([m.get("streaming.state_mb", 0.0) for m in layers] or [0.0])
    total["loadgen.late_ms"] = res.get("stream", {}).get("late_ms", 0.0)
    traced = [r for r in res.get("etl", []) if str(r["op"]) in res["layers"]]
    loaded = sum(r["loaded"] for r in traced)
    total["io.lake_bytes_per_row"] = sum(r["lake_bytes"] for r in traced) / loaded if loaded else 0.0
    # tracing overhead: the traced pass against the untraced pass of one run
    if workload == "stream":
        trig = res["stream"]["triggers"]
        on = [t[3] for t in trig if t[1] and t[2]]
        off = [t[3] for t in trig if t[1] and not t[2]]
        total["trace.overhead_s"] = (median(on) - median(off)) / 1e3
    else:
        def pass_s(section):
            return per_kind([op for op in res["ops"] if op["section"] == section], median)
        total["trace.overhead_s"] = pass_s("traced") - pass_s("untraced")
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["batch", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest inputs, for the benchmark's own tests")
    a = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        classes = build.build(root)
    except (OSError, ValueError, build.BuildError) as e:
        log(f"cannot build the engine: {e}")
        return 2

    started = time.monotonic()
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.monotonic()
    args, expect = prepare(a.workload, a.seed, a.seconds, "smoke" if a.smoke else "full", work)
    gen_s = time.monotonic() - t0
    args.update(workload=a.workload, work=work, seconds=a.seconds, trace=a.trace)
    steal0, total0 = cpu_ticks()
    try:
        res = run_jvm(classes, work, args, RUN_BUDGET_S - (time.monotonic() - started))
    except RuntimeError as e:
        log(str(e))
        return 1
    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)

    if "fatal" in res:
        log(f"harness failed: {res['fatal']} (see {os.path.join(work, 'jvm.log')})")
        return 1
    bad, why = check(a.workload, res, work, expect)
    for w in why:
        log(f"FAILED {w}")
    attempted = len(res["ops"])
    failed = attempted if 0 in bad else len(bad)
    e2e, raw, samples = end_to_end(res, gen_s)
    layer_names = [m["name"] for m in spec["per_layer"]]
    layers = per_layer(a.workload, res, layer_names) if a.trace else {}

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} samples={samples} "
          f"failed_ratio={failed / attempted:.4f} ({failed}/{attempted}) "
          f"spin_s={median(res['spins']):.4f} ({len(res['spins'])} probes) "
          f"load1={res['load1']:.2f} steal={steal:.1%}")
    for name, v in e2e.items() if not a.trace else []:
        print(f"  {name:26s} {v:14.4f} {units[name]}")
    for name, v in raw.items() if not a.trace else []:
        print(f"  {name:26s} {v:14.4f} ms")
    if a.workload == "batch":
        runs = res.get("etl", [])
        rows = sum(r["loaded"] for r in runs)
        if rows:
            print(f"  {'lake_bytes_per_row':26s} {sum(r['lake_bytes'] for r in runs) / rows:14.4f} B/row")
    for name in layer_names if a.trace else []:
        print(f"  {name:26s} {layers[name]:14.4f} {units[name]}")
    if a.trace:
        print(f"  spans: {os.path.relpath(os.path.join(work, 'spans.jsonl'), root)}")
    metrics = layers if a.trace else e2e
    names = layer_names if a.trace else [m["name"] for m in spec["end_to_end"]]
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names}}))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
