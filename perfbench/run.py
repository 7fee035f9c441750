#!/usr/bin/env python3
"""Benchmark entry point: builds the harness, prepares inputs, runs one
workload in a fresh JVM and prints one JSON result as its last line.

    python3 perfbench/run.py --workload sweep_sf01|scale_10x|store_rw \\
        --seed N --seconds S --trace 0|1

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
and writes the spans next to the result under .bench_build/results/.

Maintenance modes:
    --pin          also write this run's result digests as the workload's
                   goldens (perfbench/goldens/<workload>.json)
    --check-dir D  compare the workload's goldens with D, a `graft.Verify`
                   dump that passed the DuckDB oracle check (tools/check.py)
    --self-test    run sweep_sf01 against a copy of its goldens with one
                   digest corrupted; passes only if that op is counted failed
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.1")
GOLDENS = os.path.join(BENCH, "goldens")
WORKLOADS = ("sweep_sf01", "scale_10x", "store_rw")
JVM_TIMEOUT_S = 170
HEAP = "2g"
MAX_CORES = 8

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[run] {msg}", file=sys.stderr, flush=True)


def cores():
    """Spark's local cores: the host's, capped so that a large host's
    per-partition costs (one state store and one file per shuffle partition
    per batch) cannot push a run past its time limit."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(n, MAX_CORES)


def commit_id(tree):
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return f"tree:{tree}"


def replica():
    """The 10x replica, built once per checkout and reused."""
    import replica as rep
    out = os.path.join(OUT, "replica10x")
    if not os.path.exists(os.path.join(out, "_complete")):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        rep.build(DATA, out)
        open(os.path.join(out, "_complete"), "w").close()
        log(f"10x replica built in {time.time() - t0:.1f} s")
    return out


def java_cmd(cp, work, args):
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Main"] + args


def run_jvm(cp, tree, workload, seed, seconds, trace, goldens, tag):
    """Runs the harness; returns (result dict, peak RSS in MB, result path)."""
    results = os.path.join(OUT, "results")
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    for f in (out, out + ".context.json", out + ".spans.json"):
        if os.path.exists(f):
            os.remove(f)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores()), "--data", DATA,
            "--goldens", goldens, "--work", work, "--out", out,
            "--commit", commit_id(tree)]
    if workload == "scale_10x":
        args += ["--replica", replica()]
    logpath = os.path.join(results, f"{tag}.log")
    with open(logpath, "w") as logf:
        p = subprocess.Popen(java_cmd(cp, work, args), stdout=logf, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        deadline = time.time() + JVM_TIMEOUT_S
        status = rusage = None
        while status is None:
            pid, st, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                status, rusage = st, ru
            elif time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                _, status, rusage = os.wait4(p.pid, 0)
                log(f"harness killed after {JVM_TIMEOUT_S} s")
            else:
                time.sleep(0.05)
        for s, h in handlers.items():
            signal.signal(s, h)
        p.returncode = os.waitstatus_to_exitcode(status)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(out):
        with open(logpath) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"harness exited with {p.returncode}; log: {logpath}")
    with open(out) as fh:
        result = json.load(fh)
    return result, rusage.ru_maxrss / 1024.0, out


def measure(a):
    cp, tree = build.build(OUT)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    goldens = os.path.join(GOLDENS, f"{a.workload}.json")
    result, rss_mb, out = run_jvm(cp, tree, a.workload, a.seed, a.seconds, a.trace, goldens, tag)
    if a.trace == 0:
        result["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    with open(out + ".context.json") as fh:
        ctx = json.load(fh)
    if a.pin:
        with open(goldens, "w") as fh:
            json.dump(ctx["digests"], fh, indent=2, sort_keys=True)
            fh.write("\n")
        log(f"pinned {len(ctx['digests'])} goldens to {goldens}")
    for f in ctx["failures"]:
        log(f"FAILED {f}")
    print(json.dumps({k: ctx[k] for k in (
        "workload", "seed", "nproc", "heap_mb", "spark", "jdk", "commit",
        "canary_cpu_s_before", "canary_cpu_s_after", "canary_cpu_s_ref")}))
    print(json.dumps(result))


def check_dir(workload, dump):
    """Compares the goldens with a `graft.Verify` dump of the same queries."""
    cp, _ = build.build(OUT)
    work = os.path.join(OUT, "work", f"check-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        return subprocess.run(java_cmd(cp, work, [
            "--check-dir", os.path.abspath(dump), "--cores", str(cores()),
            "--work", work, "--goldens", os.path.join(GOLDENS, f"{workload}.json")]),
            stderr=subprocess.DEVNULL, cwd=work).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


def self_test():
    cp, tree = build.build(OUT)
    with open(os.path.join(GOLDENS, "sweep_sf01.json")) as fh:
        goldens = json.load(fh)
    victim = sorted(goldens)[0]
    goldens[victim]["hash"] = str(int(goldens[victim]["hash"]) + 1)
    path = os.path.join(OUT, "selftest-goldens.json")
    os.makedirs(OUT, exist_ok=True)
    with open(path, "w") as fh:
        json.dump(goldens, fh)
    result, _, out = run_jvm(cp, tree, "sweep_sf01", 1, 1, 0, path, "selftest")
    with open(out + ".context.json") as fh:
        failures = json.load(fh)["failures"]
    ok = (result["failed"] == 1 and not result["correct"]
          and len(failures) == 1 and victim in failures[0])
    print(json.dumps({"self_test": "pass" if ok else "fail", "corrupted": victim,
                      "failed": result["failed"], "attempted": result["attempted"]}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--check-dir", metavar="DUMP")
    a = ap.parse_args()
    try:
        if a.self_test:
            return self_test()
        if not a.workload:
            ap.error("--workload is required")
        if a.check_dir:
            return check_dir(a.workload, a.check_dir)
        measure(a)
        return 0
    except (build.BuildError, RuntimeError, OSError, ImportError) as e:
        log(f"error: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
