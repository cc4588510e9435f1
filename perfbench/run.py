#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --steady <runs> [--workload <name>] [--seconds <s>]

Run from the root of a graft checkout. The first call builds the engine and
the benchmark with sbt (offline) and caches the launch class path under
perfbench/target, keyed by a hash of the sources; later calls start the JVM
directly. Each workload runs in its own JVM at local[N], N = nproc, with
the JVM flags of the engine's build.sbt. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}; progress, host evidence and
check failures go to stderr. See perfbench/README.md.
"""
import argparse
import contextlib
import fcntl
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ["clips_suite", "clips_audit", "doc_lanes", "corpus_dedup"]
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# doc_lanes runs single-threaded code whose speed differs from JVM to JVM
# (code the JIT happened to produce); its window is split over three JVMs
# and the operation times are pooled, as are their cold set-up times
JVMS = {"doc_lanes": 3}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change must trigger a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src")]:
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def require_checkout():
    need = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "tools", "check_correctness.py")]
    missing = [os.path.relpath(p, ROOT) for p in need if not os.path.exists(p)]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)}); nothing to build")
        sys.exit(2)


def build():
    """Builds with sbt unless the cached launch file matches the sources."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
            return
        log("building engine and benchmark with sbt")
        env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launchFile"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(LAUNCH):
            log("sbt build failed")
            sys.exit(3)
        with open(STAMP, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t0:.1f}s")


def launch_command(main_args):
    classpath, opts, section = [], [], None
    for line in open(LAUNCH).read().splitlines():
        if line in ("[classpath]", "[javaOptions]"):
            section = line
        elif line:
            (classpath if section == "[classpath]" else opts).append(line)
    # a fixed heap, committed up front, keeps GC behaviour the same run to run
    xmx = [o for o in opts if o.startswith("-Xmx")]
    opts += ["-Xms" + xmx[-1][4:]] if xmx else []
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    return [java] + opts + ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + main_args


def run_jvm(main_args, marker, timeout):
    """Runs one benchmark JVM; returns the payload of its `marker` line."""
    cmd = launch_command(main_args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        log(f"JVM timed out after {timeout}s")
        sys.exit(4)
    for line in err.splitlines():
        if line.startswith("[perfbench]") or "Exception" in line or "Error" in line:
            print(line, file=sys.stderr)
    payload = [l[len(marker) + 1:] for l in out.splitlines() if l.startswith(marker + " ")]
    if proc.returncode != 0 or not payload:
        sys.stderr.write(err[-4000:])
        log(f"JVM exited with {proc.returncode} and no result")
        sys.exit(5)
    return payload[-1]


def cpu_ticks():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0, f[4] if len(f) > 4 else 0


def loadavg():
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def duckdb_check(work):
    """Compares the corpus query results with their DuckDB oracle SQL."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # the generated corpus holds only the tables the nine queries read
    mod.TABLES = ["documents", "embeddings", "events", "customer", "orders", "lineitem"]
    with contextlib.redirect_stdout(sys.stderr):
        try:
            mod.main(os.path.join(work, "verify"), os.path.join(work, "corpus"))
        except SystemExit as e:
            return e.code in (0, None)
    return True


def pooled(parts):
    """One result from several JVMs of the same run: operation and set-up
    samples pooled, peak RSS the median of the processes."""
    ops = [x for p in parts for x in p["op_samples_s"]]
    op_s = statistics.median(ops)
    value = {
        "setup_s": statistics.median([x for p in parts for x in p["setup_samples_s"]]),
        "op_s": op_s,
        "items_per_s": parts[0]["items_per_op"] / op_s,
        "peak_rss_mb": statistics.median(p["metrics"]["peak_rss_mb"]["value"] for p in parts),
    }
    metrics = {k: {"value": value[k], "unit": m["unit"]} for k, m in parts[0]["metrics"].items()}
    return {"attempted": sum(p["attempted"] for p in parts),
            "failed": sum(p["failed"] for p in parts),
            "problems": [x for p in parts for x in p["problems"]],
            "op_samples_s": ops, "metrics": metrics}


def run_once(workload, seed, seconds, trace):
    """Runs one workload; returns (result dict, host evidence dict)."""
    require_checkout()
    build()
    cores = os.cpu_count() or 1
    work = os.path.join(HERE, "work", f"{workload}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    load0, ticks0 = loadavg(), cpu_ticks()
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--work", work, "--out", out,
                "--cores", str(cores)]
        uses_corpus = workload == "corpus_dedup" or (trace and workload == "clips_suite")
        if uses_corpus:
            sys.path.insert(0, HERE)
            import corpus
            corpus.generate(os.path.join(work, "corpus"), seed)
        jvms = 1 if trace else JVMS.get(workload, 1)
        if jvms == 1:
            res = json.loads(run_jvm(args, "PERFBENCH_RESULT", JVM_TIMEOUT_S))
        else:
            args[args.index("--seconds") + 1] = str(seconds / jvms)
            parts = [json.loads(run_jvm(args + ["--repeat"] * (k > 0), "PERFBENCH_RESULT",
                                        JVM_TIMEOUT_S // jvms)) for k in range(jvms)]
            res = pooled(parts)
        if uses_corpus and not duckdb_check(work):
            res["problems"].append("corpus results differ from the DuckDB oracle")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = cpu_ticks()
    total = max(1, ticks1[0] - ticks0[0])
    host = {"steal_frac": (ticks1[1] - ticks0[1]) / total,
            "iowait_frac": (ticks1[2] - ticks0[2]) / total,
            "loadavg_before": load0, "loadavg_after": loadavg()}
    for p in res["problems"]:
        log(f"CHECK FAILED: {p}")
    log("operation seconds " + " ".join(f"{x:.3f}" for x in res["op_samples_s"]))
    result = {"correct": not res["problems"], "attempted": res["attempted"],
              "failed": res["failed"], "metrics": res["metrics"]}
    return result, host


def declared_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    bench = json.load(open(path))
    return {m["name"]: m for m in bench["per_layer" if trace else "end_to_end"]}


def steady(runs, workloads, seconds):
    """Runs each workload `runs` times with seeds 1..runs and prints each
    end-to-end metric's quartile spread against its bound."""
    declared = declared_metrics(False) or {}
    for w in workloads:
        values, shares = {}, set()
        for seed in range(1, runs + 1):
            t0 = time.time()
            res, host = run_once(w, seed, seconds, False)
            shares.add((res["failed"], res["attempted"]) if res["failed"] else (0, 1))
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} wall={time.time() - t0:.1f}s "
                  f"steal={host['steal_frac']:.4f} iowait={host['iowait_frac']:.4f} "
                  f"load {host['loadavg_before']} -> {host['loadavg_after']} "
                  + " ".join(f"{k}={v[-1]:.6g}" for k, v in values.items()), flush=True)
        for name, vs in values.items():
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q[2] - q[0]) / med
            bound = declared.get(name, {}).get("bound")
            verdict = "" if bound is None else (
                "ok" if spread < bound / 3 else "within bound" if spread <= bound else "OVER BOUND")
            print(f"{w} {name}: median {med:.6g} spread {spread:.4f} bound {bound} {verdict}",
                  flush=True)
        print(f"{w} failed/attempted shares seen: {sorted(shares)}", flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="RUNS")
    a = ap.parse_args()
    if a.steady:
        steady(a.steady, [a.workload] if a.workload else WORKLOADS, a.seconds)
        return
    if not a.workload:
        ap.error("--workload is required")
    res, host = run_once(a.workload, a.seed, a.seconds, a.trace == 1)
    log(f"host steal {host['steal_frac']:.4f} iowait {host['iowait_frac']:.4f} "
        f"loadavg {host['loadavg_before']} -> {host['loadavg_after']}")
    declared = declared_metrics(a.trace == 1)
    if declared is not None and set(declared) != set(res["metrics"]):
        log(f"metric names differ from BENCHMARK.json: {sorted(set(declared) ^ set(res['metrics']))}")
        sys.exit(6)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
