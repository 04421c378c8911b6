#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the benchmark from source with sbt (offline) into the checkout; later
runs reuse that build until a source file changes. Each run generates
its inputs from the seed, sets up, measures for the given seconds,
checks every output against an independent recomputation, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. A traced run's
trace_overhead is its op_p50_ms over that of an untraced run of the same
workload, seed and length on the same sources: the newest such result,
or, when there is none, an untraced run made first. The full record
(environment, samples, every metric) is written under
.bench_build/results/, which compare.py reads.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JVM_HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, in a fixed order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    return env


def ensure_built():
    """Builds engine and benchmark unless the last build saw these sources."""
    digest = source_hash()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return digest
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                  cwd=HERE, env=build_env(), stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except FileNotFoundError:
            fail(3, "sbt is not on PATH")
        except subprocess.TimeoutExpired:
            fail(3, f"build took longer than {BUILD_LIMIT_S}s; see {log}")
    if proc.returncode != 0 or not os.path.isfile(CLASSPATH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(3, f"build failed; see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return digest


def commit_id(digest):
    """The git commit when the checkout is a repository of its own, else
    the hash of the sources the build read."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and len(lines) == 2 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + digest[:16]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench, [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def run_jvm(args, digest, deadline, trace, untraced_p50=None):
    """Runs the benchmark JVM; returns its standard output and result file."""
    tag = f"{args.workload}-s{args.seed}-t{trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    result = os.path.join(BUILD, "results", args.workload,
                          f"trace{trace}", f"{stamp}-s{args.seed}-{os.getpid()}.json")
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # A fixed heap size keeps the peak resident set from following the
    # collector's resizing decisions; no perf-data file outside the checkout.
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace), "--dir", run_dir,
            "--result", result, "--commit", commit_id(digest), "--sources", digest]
    if untraced_p50 is not None:
        cmd += ["--untraced-p50", repr(untraced_p50)]
    log = os.path.join(BUILD, "runs", tag + ".log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(4, f"run exceeded its time limit; see {log}")
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(5, f"benchmark JVM exited with {proc.returncode}; see {log}")
    os.remove(log)
    return out, result


def untraced_p50(args, digest, deadline):
    """op_p50_ms of a correct untraced run of this workload, seed and
    length on these sources: the newest recorded one, else a new run."""
    pattern = os.path.join(BUILD, "results", args.workload, "trace0", f"*-s{args.seed}-*.json")
    for path in sorted(glob.glob(pattern), reverse=True):
        try:
            with open(path) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        if (r.get("seed") == args.seed and r.get("run_seconds") == args.seconds
                and r.get("env", {}).get("sources") == digest and r.get("correct")):
            return r["end_to_end"]["op_p50_ms"]["value"]
    _, path = run_jvm(args, digest, deadline, trace=0)
    with open(path) as fh:
        r = json.load(fh)
    if not r["correct"]:
        fail(6, f"the untraced run {args.workload} produced wrong results; see {path}")
    return r["end_to_end"]["op_p50_ms"]["value"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    start = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(2, f"no engine sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")
    bench, names = expected_metrics(args.trace)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(2, f"unknown workload {args.workload!r}")

    built_before = os.path.isfile(STAMP)
    digest = ensure_built()
    # A run that had to build gets the build's time on top of its own limit.
    deadline = (time.monotonic() if not built_before else start) + RUN_LIMIT_S
    if args.trace:
        out, _ = run_jvm(args, digest, deadline, 1, untraced_p50(args, digest, deadline))
    else:
        out, _ = run_jvm(args, digest, deadline, 0)

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(6, "the benchmark printed no result line")
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        fail(6, f"malformed result keys {sorted(res)}")
    if sorted(res["metrics"]) != sorted(names):
        missing = sorted(set(names) - set(res["metrics"]))
        extra = sorted(set(res["metrics"]) - set(names))
        fail(6, f"metrics differ from BENCHMARK.json: missing {missing}, unexpected {extra}")
    ordered = {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
               "metrics": {n: res["metrics"][n] for n in names}}
    if not res["correct"]:
        print(f"perfbench: {args.workload} produced wrong results; see {BUILD}/results",
              file=sys.stderr)
    print(json.dumps(ordered))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
