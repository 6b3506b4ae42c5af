#!/usr/bin/env python3
"""Repository benchmark entry point.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 15 --trace 0

Builds the benchmark (this directory's sbt project, which compiles the
engine's sources from the repository root) on first use or when a source
changed, then runs one workload in a fresh JVM. The last line of standard
output is the result JSON; the exit code is non-zero when an output check
fails or the run cannot complete.
"""
import argparse
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
RUN_TIMEOUT_S = 170
WORKLOADS = ("etl_incremental", "query_mix")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for root in roots:
        if os.path.isfile(root):
            newest = max(newest, os.path.getmtime(root))
        for d, dirs, files in os.walk(root):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the classpath file is newer than every source."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        log("engine sources not found next to the benchmark; nothing to build")
        sys.exit(2)
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) > newest_source_mtime():
        return
    log("building (sbt writeClasspath)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        log(f"build failed (exit {r.returncode})")
        sys.exit(2)
    log(f"built in {time.time() - t0:.1f} s")


def run(args):
    work = os.path.join(HERE, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", HERE]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside work/
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    result = None
    try:
        deadline = time.time() + RUN_TIMEOUT_S
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s; killed")
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    for line in out.splitlines():
        if line.startswith("{") and '"metrics"' in line:
            result = line
        elif line.strip():
            print(line, file=sys.stderr)
    if result is None:
        log(f"no result line (exit {proc.returncode})")
        return proc.returncode or 1
    print(result, flush=True)
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    build()
    sys.exit(run(args))


if __name__ == "__main__":
    main()
