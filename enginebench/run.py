#!/usr/bin/env python3
"""Engine-plane benchmark launcher.

    python3 enginebench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 enginebench/run.py --smoke

Run from the root of a checkout. Builds the lynx sources together with
the benchmark (sbt, this directory's build.sbt) when the sources changed
since the last build, then runs one workload: the generator JVM starts
`graft.http.LynxServerMain` as a child JVM (or, with --trace 1, hosts
the engine itself) under a fresh temp root inside the checkout, which is
removed afterwards. The last stdout line is the result JSON object.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
LYNX_SRC = os.path.join(REPO, "src", "main", "scala")
STAMP = os.path.join(HERE, "target", "enginebench-classpath.txt")
GENERATOR_HEAP = "1g"
TRACED_HEAP = "3g"  # the traced run hosts the engine in the generator JVM
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the repository's build.sbt); the generator passes them on to the
# server JVM it starts.
ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def die(msg):
    print("enginebench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [LYNX_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(digest):
    """The compiled classpath, rebuilt when the sources changed."""
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    print("enginebench: building (sbt compile)", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S, text=True)
    except FileNotFoundError:
        die("sbt not found on PATH")
    out = p.stdout.splitlines()
    cp = [l for l in out if "scala-2.13" in l and ".jar" in l and l.startswith("/")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        die("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest + "\n" + cp[-1] + "\n")
    return cp[-1]


def git_commit():
    if not os.path.isdir(os.path.join(REPO, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_java(cp, heap, args, tmp, env_extra, timeout):
    """Run the benchmark JVM in its own process group; every server JVM
    it starts joins that group, so a timeout kills them all."""
    gen_tmp = os.path.join(tmp, "generator-tmp")
    os.makedirs(gen_tmp, exist_ok=True)
    cmd = ["java", "-Xms" + heap, "-Xmx" + heap, "-Djava.io.tmpdir=" + gen_tmp,
           "-Dspark.ui.enabled=false"] + ADD_OPENS + \
        ["-cp", cp, "enginebench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=gen_tmp, **env_extra)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("run exceeded %d s" % timeout)
    finally:
        try:  # stragglers of the group (server JVMs), if any
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="all workloads at tiny size, checking the metric set")
    a = ap.parse_args()
    if not a.smoke and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isfile(os.path.join(LYNX_SRC, "graft", "http", "LynxServer.scala")):
        die("lynx sources not found under %s; run from a full checkout" % LYNX_SRC)
    if shutil.which("java") is None:
        die("java not found on PATH")
    digest = source_digest()
    cp = classpath(digest)
    tmp = os.path.join(REPO, ".enginebench-tmp", "run-%d-%d" % (os.getpid(), int(time.time())))
    os.makedirs(tmp)
    env = {"ENGINEBENCH_GIT_COMMIT": git_commit(), "ENGINEBENCH_SOURCE_DIGEST": digest}
    try:
        if a.smoke:
            code, out = run_java(cp, TRACED_HEAP, ["--smoke", "--root", tmp],
                                 tmp, env, RUN_TIMEOUT_S)
            sys.stdout.write(out)
            ok = code == 0 and check_smoke_units(out)
            print(json.dumps({"smoke": "passed" if ok else "failed"}))
            sys.exit(0 if ok else 1)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--root", tmp]
        heap = TRACED_HEAP if a.trace else GENERATOR_HEAP
        code, out = run_java(cp, heap, args, tmp, env, RUN_TIMEOUT_S)
        sys.stdout.write(out)
        sys.stdout.flush()
        sys.exit(code)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def check_smoke_units(out):
    """Every metric the BENCHMARK.json workloads print is named there
    with that unit, and every metric named there is printed."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    workloads = {w["name"] for w in spec["workloads"]}
    seen, ok = set(), True
    for line in out.splitlines():
        if not line.startswith('{"smoke"'):
            continue
        line = json.loads(line)
        if line["smoke"] not in workloads:
            continue
        for name, m in line["result"]["metrics"].items():
            seen.add(name)
            if units.get(name) != m["unit"]:
                print("enginebench smoke: %s printed with unit %r, BENCHMARK.json says %r"
                      % (name, m["unit"], units.get(name)), file=sys.stderr)
                ok = False
    for name in sorted(set(units) - seen):
        print("enginebench smoke: %s is never printed" % name, file=sys.stderr)
        ok = False
    return ok


if __name__ == "__main__":
    main()
