#!/usr/bin/env python3
"""Benchmark entry point for the graft reactive engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve_rowwise --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source with sbt on first use (the
classpath is cached under perfbench/target), runs the workload in one JVM
with its own warehouse, Spark local dirs and temp dir (all removed at
exit), checks every output, prints each metric by name with its unit, and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the spans, jobs and every per-layer figure
are written to perfbench/results/. The exit code is non-zero when an
output check fails or the run cannot complete.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RESULTS = os.path.join(HERE, "results")
RUNS = os.path.join(HERE, ".run")

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every build input, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    for base in (ROOT, HERE):
        files = [os.path.join(base, "build.sbt"), os.path.join(base, "project", "build.properties")]
        for d, _, names in os.walk(os.path.join(base, "src", "main")):
            files += [os.path.join(d, n) for n in names]
        for f in sorted(files):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def launch_spec():
    """Build with sbt unless the cached launch spec matches the sources.
    Returns the classpath and the JVM options the build sets
    (`benchLaunch` in perfbench/build.sbt)."""
    os.makedirs(TARGET, exist_ok=True)
    cache = os.path.join(TARGET, "bench-launch.json")
    stamp = source_stamp()
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(cache):
            with open(cache) as fh:
                cached = json.load(fh)
            if cached.get("stamp") == stamp and all(os.path.exists(p) for p in cached["cp"]):
                return cached["cp"], cached["jvm"]
        log("perfbench: building engine and benchmark with sbt")
        spec_file = os.path.join(TARGET, "launch.txt")
        if os.path.exists(spec_file):
            os.remove(spec_file)
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "benchLaunch"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S, text=True)
        if proc.returncode != 0 or not os.path.isfile(spec_file):
            log("\n".join(proc.stdout.splitlines()[-40:]))
            raise SystemExit("perfbench: sbt build failed")
        with open(spec_file) as fh:
            lines = fh.read().splitlines()
        cp, jvm = lines[0].split(os.pathsep), [l for l in lines[1:] if l]
        with open(cache, "w") as fh:
            json.dump({"stamp": stamp, "cp": cp, "jvm": jvm}, fh)
        return cp, jvm


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None where it is absent."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests: a run with a
    high share was slowed by its host, not by the program."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) > 0 else None


def run_jvm(launch, args, run_dir):
    """Run one workload JVM with all of its state under run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    cp, jvm = launch
    cmd = (["java"] + jvm + [f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp), "perfbench.Main"]
           + args[:4] + [run_dir] + args[4:])
    cpu0 = cpu_times()
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            log("".join(fh.readlines()[-60:]))
        raise SystemExit(f"perfbench: workload JVM {'timed out' if code is None else f'exited {code}'}")
    with open(result) as fh:
        res = json.load(fh)
    res["host_steal_share"] = steal_share(cpu0, cpu_times())
    spans = os.path.join(run_dir, "spans.json")
    if os.path.isfile(spans):
        with open(spans) as fh:
            res["trace"] = json.load(fh)
    return res


def fmt(v):
    return f"{v:.6g}"


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def declared():
    """The metric names and units BENCHMARK.json declares."""
    s = spec()
    return ({m["name"]: m["unit"] for m in s["end_to_end"]},
            {m["name"]: m["unit"] for m in s["per_layer"]})


def report(workload, res, traced):
    """Print every figure by name with its unit; return the metrics the
    final JSON line carries."""
    e2e, tails, layer = res["end_to_end"], res["tails"], res["per_layer"]
    end_to_end, per_layer = declared()
    for name, m in e2e.items():
        notes = ([f"n={m['n']}"] if "n" in m else []) + ([] if name in end_to_end else ["not gated"])
        suffix = f" ({', '.join(notes)})" if notes else ""
        print(f"{workload} {name} = {fmt(m['value'])} {m['unit']}{suffix}")
    for name, m in tails.items():
        if name not in e2e:
            print(f"{workload} {name} = {fmt(m['value'])} {m['unit']} (n={m['n']}, tail, not gated)")
    attempted, failed = res["attempted"], res["failed"]
    print(f"{workload} fail_ratio = {fmt(failed / max(attempted, 1))} ratio "
          f"({failed} of {attempted} operations failed, refused or incorrect)")
    if res.get("host_steal_share") is not None:
        print(f"{workload} host_steal_share = {fmt(res['host_steal_share'])} ratio (not gated)")
    for f in res["failures"]:
        print(f"{workload} FAILED CHECK: {f}")
    if traced:
        for name, m in layer.items():
            moves = f" -> {m['moves']}" if m.get("moves") else ""
            print(f"{workload} [layer] {name} = {fmt(m['value'])} {m['unit']}{moves}")
    wanted = per_layer if traced else end_to_end
    source = layer if traced else e2e
    missing = [k for k in wanted if k not in source]
    if missing:
        raise SystemExit(f"perfbench: run did not produce {', '.join(missing)}")
    return {k: {"value": source[k]["value"], "unit": unit} for k, unit in wanted.items()}


def save(workload, seed, traced, res):
    """Keep the run's figures; a traced run also reports its overhead
    against the latest untraced run of the same workload."""
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{workload}-trace{int(traced)}.json")
    if traced:
        base = os.path.join(RESULTS, f"{workload}-trace0.json")
        if os.path.isfile(base):
            with open(base) as fh:
                untraced = json.load(fh)["end_to_end"]
            overhead = {}
            for k, m in res["end_to_end"].items():
                if k in untraced and untraced[k]["value"]:
                    d = m["value"] - untraced[k]["value"]
                    overhead[k] = {"traced": m["value"], "untraced": untraced[k]["value"],
                                   "diff": d, "share": d / untraced[k]["value"], "unit": m["unit"]}
                    print(f"{workload} tracing overhead {k} = {fmt(d)} {m['unit']} "
                          f"({100 * d / untraced[k]['value']:+.1f}%)")
            res["tracing_overhead"] = overhead
    res["seed"] = seed
    with open(path, "w") as fh:
        json.dump(res, fh)


def run_one(launch, workload, a):
    """Run one workload; print its report and JSON line; return whether
    every check passed."""
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{workload}-{a.seed}-{os.getpid()}")
    try:
        args = [workload, str(a.seed), str(a.seconds), str(a.trace)] + (["smoke"] if a.smoke else [])
        res = run_jvm(launch, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    traced = a.trace == 1
    metrics = report(workload, res, traced)
    if not a.smoke:
        save(workload, a.seed, traced, res)
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return correct


def main():
    workloads = [w["name"] for w in spec()["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads + ["all"],
                    help="one workload, or all of them in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="reduced sizes, for the benchmark's own tests")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: the engine's sources are not beside perfbench/; "
                         "run from a full checkout")
    t0 = time.time()
    launch = launch_spec()
    log(f"perfbench: classpath ready in {time.time() - t0:.1f}s")
    chosen = workloads if a.workload == "all" else [a.workload]
    results = [run_one(launch, w, a) for w in chosen]
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
