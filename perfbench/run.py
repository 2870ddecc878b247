#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads: survey_corridors, index_lifecycle (or `all`, which runs each
in turn). The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. The last line of standard
output is the result JSON; human-readable figures precede it, and the
full result (with machine load and source identity) lands in
perfbench/results/. Exits non-zero, without a result line, when a check
fails, the sources are missing, or the run overruns its time limit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ["survey_corridors", "index_lifecycle"]
BENCH = "perfbench"
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "build.stamp")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# inputs of the build: the engine sources and the benchmark package
BUILD_INPUTS = ["src/main", os.path.join(BENCH, "src/main"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project/build.properties")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_sha():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def git_sha():
    if not os.path.isdir(".git"):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_bounded(cmd, timeout, **kw):
    """Runs cmd to completion; kills it, and waits for it, on timeout or
    when this process is interrupted or terminated."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s", 3)
    except BaseException:
        proc.kill()
        proc.communicate()
        raise
    return proc.returncode, out


def build(sha):
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == sha:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out)
        fail(f"sbt build failed with code {code}")
    cp = [l for l in out.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if not cp:
        fail("sbt printed no runtime classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(sha)


def run_workload(workload, args, sha):
    work = os.path.join(BENCH, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={os.path.abspath(work)}/tmp",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.abspath(BENCH)}/log4j2.properties"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    env = dict(os.environ, PERFBENCH_GIT_SHA=git_sha(), PERFBENCH_SOURCE_SHA=sha)
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, env=env, stdout=subprocess.PIPE, text=True)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for line in lines:
        if line.startswith("{"):
            result = json.loads(line)
        else:
            print(line)
    if result is None:
        fail(f"{workload}: no result (exit code {code})", code or 4)
    if not result["correct"] or code != 0:
        fail(f"{workload}: checks failed; see perfbench/results/", code or 1)
    return result


def main():
    # SIGTERM unwinds like Ctrl-C, so a running build or JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("src/main/scala", "fixtures/pipe/segments.parquet"):
        if not os.path.exists(need):
            fail(f"run from the repository root: {need} is missing")
    sha = source_sha()
    build(sha)
    if args.workload != "all":
        print(json.dumps(run_workload(args.workload, args, sha)))
        return
    results = {w: run_workload(w, args, sha) for w in WORKLOADS}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
