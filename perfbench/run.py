#!/usr/bin/env python3
"""perfbench: tick-pipeline benchmark of the OANDA stream processor.

Run from the checkout root:

    python3 perfbench/run.py --workload live_ticks --seed 1 --seconds 10 --trace 0

Workloads: live_ticks, replay_backfill, replay_gzip (see perfbench/README.md).
The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones. Lines before it are the per-run
report.

Other commands:
    python3 perfbench/run.py --self-test            checker self-test
    python3 perfbench/run.py --make-inputs --seed N  (re)make the seed's captures

Each measured JVM starts on the compiled classpath (see build.py). The
benchmark writes only under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("live_ticks", "replay_backfill", "replay_gzip")
RUN_TIMEOUT_S = 150

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Heap pinned (as the root build.sbt pins it) and C1-only JIT: with C2 the
# compiler threads compete with local[nproc] for the same cores, and when its
# compilations land moved run-to-run figures by 20-25%.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:TieredStopAtLevel=1"]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def cpu_ticks():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def java(cp, work, args, logfile, timeout):
    """Runs perfbench.Main in a fresh JVM; returns (spawn epoch s, exit code)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp] + args
    with open(logfile, "ab") as fh:
        t = time.time()
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -9
    return t, code


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def read_metrics_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def ensure_inputs(cp, bdir, workload, seed, force=False):
    """Makes the seed's replay capture unless it exists, outside any timed region."""
    if workload == "live_ticks":
        return
    work = os.path.join(bdir, "work-gen")
    os.makedirs(work, exist_ok=True)
    args = ["perfbench.Main", "gen", "--workload", workload, "--seed", str(seed), "--work", work]
    _, code = java(cp, work, args + (["--force", "1"] if force else []),
                   os.path.join(work, "gen.log"), 300)
    if code != 0:
        raise SystemExit("perfbench: input generation failed:\n" + tail(os.path.join(work, "gen.log")))


def jvm_run(cp, bdir, a):
    work = os.path.join(bdir, "work-" + a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    logfile = os.path.join(work, "jvm.log")
    steal0, total0 = cpu_ticks()
    spawn, code = java(cp, work, [
        "perfbench.Main", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(a.cores),
        "--work", work, "--out", out],
        logfile, RUN_TIMEOUT_S)
    log("run JVM took %.1f s" % (time.time() - spawn))
    if code != 0 or not os.path.isfile(out):
        raise SystemExit("perfbench: run JVM failed (exit %s):\n%s" % (code, tail(logfile)))
    with open(out) as fh:
        res = json.load(fh)
    res["setup_s"] = res["setup_end_ms"] / 1000.0 - spawn
    steal1, total1 = cpu_ticks()
    # share of the machine's CPU time the hypervisor gave to other guests
    # during the run: a noisy-neighbour indicator for reading the figures
    res["report"]["cpu_steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    return res, work


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: nproc)")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--make-inputs", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the checkout root (no src/main/scala here)")
    cp = build.build(root)
    bdir = os.path.join(root, build.BUILD_DIR)

    if a.self_test:
        r = subprocess.run(["java"] + JVM_OPTS + ["-cp", cp, "perfbench.SelfTest"])
        sys.exit(r.returncode)
    if a.make_inputs:
        for w in WORKLOADS:
            ensure_inputs(cp, bdir, w, a.seed, force=True)
        return
    if not a.workload:
        ap.error("--workload is required")

    e2e_units, layer_units = read_metrics_spec(root)
    ensure_inputs(cp, bdir, a.workload, a.seed)

    res, work = jvm_run(cp, bdir, a)
    e2e = dict(res["e2e"])
    e2e["setup_s"] = res["setup_s"]

    rep = res["report"]
    rep["workload"] = a.workload
    rep["seed"] = a.seed
    rep["attempted"] = res["attempted"]
    rep["failed"] = res["failed"]
    rep["cores"] = a.cores
    last = os.path.join(bdir, "last-untraced-%s.json" % a.workload)
    if a.trace:
        # tracing overhead: this traced run's end-to-end figures against the
        # latest untraced run of the same workload
        rep["traced_e2e"] = e2e
        if os.path.isfile(last):
            with open(last) as fh:
                base = json.load(fh)
            rep["trace_overhead"] = {k: round(e2e[k] / base[k] - 1.0, 4)
                                     for k in e2e if k in base and base[k]}
        rep["trace_file"] = os.path.relpath(
            os.path.join(work, "trace-%s-%d.json" % (a.workload, a.seed)), root)
    else:
        with open(last, "w") as fh:
            json.dump(e2e, fh)
    for k, v in rep.items():
        print("report %s: %s" % (k, v))

    src, units = (res["layers"], layer_units) if a.trace else (e2e, e2e_units)
    missing = [k for k in units if not isinstance(src.get(k), (int, float))]
    if missing:
        raise SystemExit("perfbench: no value for " + ", ".join(missing))
    out = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
           "failed": int(res["failed"]),
           "metrics": {k: {"value": src[k], "unit": units[k]} for k in units}}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
