#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload query|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark with sbt (the engine is a source dependency of perfbench's own
build) and caches the class path; later runs start one JVM per workload
directly. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query", "curate")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit; the engine's own build passes the same list.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, for the build stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build(work):
    """Compiles engine and benchmark when their sources changed; returns
    the runtime class path."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("the engine's sources (build.sbt, src/main) are not here; "
             "run from a checkout of the repository")
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as c:
                    return c.read().strip()
    print("perfbench: building engine and benchmark (sbt)", file=sys.stderr)
    os.makedirs(work, exist_ok=True)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def run_jvm(cp, args, work, data):
    # a small initial heap, so that the resident set grows with what the
    # workload keeps live rather than with a heap fixed up front. The
    # serial collector grows the heap by how full it is after a
    # collection; G1 grows it by its recent pause times, which follow the
    # host's load, so under G1 the resident set varied by a third from
    # run to run.
    cmd = ["java", "-Xms256m", "-Xmx2g", "-XX:+UseSerialGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", data,
            "--spans", os.path.join(work, "spans",
                                    f"{args.workload}-{args.seed}.jsonl")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"workload {args.workload} did not finish in {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def remove_tree(path):
    if not os.path.isdir(path):
        return
    for d, dirs, files in os.walk(path, topdown=False):
        for f in files:
            os.remove(os.path.join(d, f))
        for s in dirs:
            full = os.path.join(d, s)
            if os.path.islink(full):
                os.remove(full)
            else:
                os.rmdir(full)
    os.rmdir(path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    # and remove the run's inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                           os.path.join(ROOT, ".bench_build"))
    cp = build(work)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    data = os.path.join(work, f"run-{args.workload}-{os.getpid()}")
    try:
        code, out = run_jvm(cp, args, work, data)
    finally:
        remove_tree(data)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        fail(f"workload {args.workload} exited with code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1][:200]}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(result["metrics"]) != want:
        fail("metrics differ from BENCHMARK.json: " +
             str(sorted(set(result["metrics"]) ^ want)))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
