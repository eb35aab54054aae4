#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads.

    python3 perfbench/run.py --workload core-sql --seed 11 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program from
`src/main/scala` and the benchmark's JVM side from `perfbench/src` into
`.bench_build/` (plain scalac from the Spark distribution named by
SPARK_HOME; rebuilt whenever a source changes). Each run then

1. generates its inputs from `--seed` into a private temp root under
   `.bench_runs/` (deleted afterwards),
2. starts one JVM sized to this host (`local[nproc]`, shuffle
   partitions = nproc), which sets up three times, runs the workload
   closed-loop with one client for `--seconds`, and writes raw samples,
3. checks every output outside the timed region (DuckDB oracle hashes
   for the query workloads; SCD2 invariants and generator-predicted
   counts for daily-etl),
4. writes a result record with the host shape to `.bench_out/` and
   prints, as the last stdout line, `{"correct", "attempted", "failed",
   "metrics"}`: the end-to-end metrics of BENCHMARK.json with
   `--trace 0`, its per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("core-sql", "dedup-pairs", "daily-etl")
# Input sizes. The query workloads run at a generated scale factor small
# enough that several whole passes fit in one run; daily-etl's feed has
# FEED_KEYS products on day 0 and churns from there.
QUERY_SF = {"core-sql": 0.02, "dedup-pairs": 0.02}
FEED_KEYS = 10000
XMX = "4g"
TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(root, spark_home):
    """Compile program + harness into .bench_build unless up to date."""
    srcs = sources(root)
    prog = [s for s in srcs if "/src/main/scala/" in s]
    bench = [s for s in srcs if "/perfbench/src/" in s]
    if not prog:
        fail("no program sources under src/main/scala: run from a checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_home, "jars", "*")
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
              "-nowarn", "-usejavacp"]
    t = time.time()
    for dest, files, extra in (("classes", prog, []),
                               ("bench", bench, ["-cp", os.path.join(out, "classes")])):
        os.makedirs(os.path.join(out, dest))
        r = subprocess.run(scalac + extra + ["-d", os.path.join(out, dest)] + files,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail(f"build of {dest} failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"perfbench: built in {time.time() - t:.1f}s", file=sys.stderr)
    return out


def cpu_times():
    """Aggregate (busy, steal) jiffies of this host's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7]


def run_jvm(args, build_dir, spark_home, root, cores, feed=None):
    """Run perfbench.Main; answer its feed requests; return its result."""
    cp = os.pathsep.join([os.path.join(build_dir, "bench"),
                          os.path.join(build_dir, "classes"),
                          os.path.join(spark_home, "jars", "*")])
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    out = os.path.join(root, "result.json")
    # -UsePerfData: no hsperfdata file in the system temp dir
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{XMX}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={root}",
              f"-Dderby.stream.error.file={root}/derby.log",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--root", root, "--out", out,
              "--data", os.path.join(root, "data")])
    if args.trace:
        cmd += ["--spans", os.path.join(args.out_dir, f"spans-{tag(args)}.json")]
    log_path = os.path.join(root, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             stderr=log, text=True, cwd=root)
        timer = threading.Timer(TIMEOUT_S, p.kill)
        timer.start()
        try:
            for line in p.stdout:
                if line.startswith("@@FEED "):
                    day = int(line.split()[1])
                    csv = os.path.join(root, "feeds", f"day{day}.csv")
                    exp = dict(feed.day(csv), csv=csv)
                    reply = " ".join(f"{k}={v}" for k, v in exp.items())
                    p.stdin.write(reply + "\n")
                    p.stdin.flush()
                else:
                    sys.stderr.write(line)
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def tag(args):
    return f"{args.workload}-seed{args.seed}-trace{args.trace}"


def pct(xs, q):
    """q-th quantile, linear between closest ranks."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(res, ok_ops, attempted, failed):
    walls = [o["wall"] for o in ok_ops] or [0.0]
    return {
        "setup_s": statistics.median(res["session_s"]) + res["warmup_s"],
        "op_p50_s": pct(walls, 0.5),
        "op_p90_s": pct(walls, 0.9),
        "ops_per_min": 60.0 * len(ok_ops) / res["measured_s"],
        "retained_heap_mb": res["retained_heap_mb"],
        "ok_ratio": 1.0 - failed / attempted,
    }


def per_layer(res, names, cores):
    """Per-operation means over the traced operations, plus ratios."""
    traced = [o for o in res["ops"] if o["traced"] and not o["error"]]
    plain = [o["wall"] for o in res["ops"] if not o["traced"] and not o["error"]]
    out = {}
    for n in names:
        out[n] = mean([o["layers"].get(n, 0.0) for o in traced])
    walls = sum(o["wall"] for o in traced)
    tsum = lambda k: sum(o["layers"].get(k, 0.0) for o in traced)
    out["construct.share"] = tsum("construct.s") / walls if walls else 0.0
    out["sched.utilization"] = tsum("exec.task_s") / (walls * cores) if walls else 0.0
    out["tables.load_cold_s"] = statistics.median(res.get("tables_cold_s") or [0.0])
    out["tables.load_memo_s"] = statistics.median(res.get("tables_memo_s") or [0.0])
    out["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    out["bench.trace_overhead"] = (
        statistics.median([o["wall"] for o in traced]) / statistics.median(plain)
        if traced and plain else 0.0)
    extra = [o.get("extra", {}) for o in res["ops"] if not o["error"]]
    esum = lambda k: sum(x.get(k, 0.0) for x in extra)
    day_wall = sum(o["wall"] for o in res["ops"] if not o["error"] and "extra" in o)
    for k in ("etl.rows_in", "etl.bytes_written", "etl.files_written",
              "mart.fact_rows", "mart.bytes_written"):
        out[k] = mean([x.get(k, 0.0) for x in extra]) if extra else 0.0
    out["etl.keep_ratio"] = esum("etl.kept") / esum("etl.rows_in") if esum("etl.rows_in") else 0.0
    out["etl.rewrite_ratio"] = (esum("etl.restaged") / esum("etl.changed_rows")
                                if esum("etl.changed_rows") else 0.0)
    out["etl.rows_per_s"] = esum("etl.rows_in") / day_wall if day_wall else 0.0
    out["etl.stored_bytes_per_feed_byte"] = (res["stored_bytes"] / res["feed_bytes"]
                                             if res.get("feed_bytes") else 0.0)
    return {n: out.get(n, 0.0) for n in names}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution")
    with open(spec_path) as f:
        spec = json.load(f)
    build_dir = build(root, spark_home)

    cores = len(os.sched_getaffinity(0))
    args.out_dir = os.path.join(root, ".bench_out")
    os.makedirs(args.out_dir, exist_ok=True)
    run_root = os.path.join(root, ".bench_runs", f"{tag(args)}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    load_before = os.getloadavg()[0]
    cpu0 = cpu_times()
    try:
        feed = None
        if args.workload == "daily-etl":
            os.makedirs(os.path.join(run_root, "feeds"))
            feed = datagen.Feed(args.seed, FEED_KEYS)
        else:
            datagen.tables(os.path.join(run_root, "data"),
                           QUERY_SF[args.workload], args.seed)
        res = run_jvm(args, build_dir, spark_home, run_root, cores, feed)
        problems = list(res.get("problems", []))
        wrong = set()
        if args.workload != "daily-etl":
            bad = oracle.check(os.path.join(run_root, "data"), res["check_dir"],
                               res["oracle"], res["check_errors"])
            wrong = set(bad)
            problems += [f"{k}: {v}" for k, v in sorted(bad.items())]
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    ops = res["ops"]
    attempted = len(ops)
    errored = [o for o in ops if o["error"]]
    if args.workload == "daily-etl":
        wrong_ops = len({p.split(":")[0] for p in res.get("problems", [])})
    else:
        wrong_ops = sum(1 for o in ops if not o["error"] and o["name"] in wrong)
    failed = min(attempted, len(errored) + wrong_ops)
    ok_ops = [o for o in ops if not o["error"]]
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = per_layer(res, names, cores)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = end_to_end(res, ok_ops, attempted, failed)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {n: values[n] for n in units}
    cpu1 = cpu_times()
    busy, steal = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    shape = dict(nproc=os.cpu_count(), cores_used=cores, xmx_mb=res["xmx_mb"],
                 jdk=res["jdk"], spark=res["spark"], seed=args.seed,
                 steal_share=steal / (busy + steal) if busy + steal else 0.0,
                 loadavg_before=load_before, loadavg_after=os.getloadavg()[0])
    record = {"workload": args.workload, "trace": args.trace, "host": shape,
              "samples": len(ok_ops), "passes": res.get("passes"),
              "measured_s": res["measured_s"], "session_s": res["session_s"],
              "warmup_s": res["warmup_s"],
              "problems": problems, "metrics": values,
              "op_walls": [[o["name"], o["wall"]] for o in ops],
              "errors": [f"{o['name']}: {o['error']}" for o in errored][:20]}
    with open(os.path.join(args.out_dir, f"result-{tag(args)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for p in problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    for e in record["errors"]:
        print(f"perfbench: operation failed: {e}", file=sys.stderr)
    print("host " + json.dumps(shape, sort_keys=True))
    print(json.dumps({
        "correct": not problems and not errored,
        "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()}}))


if __name__ == "__main__":
    main()
