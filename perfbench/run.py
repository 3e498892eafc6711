#!/usr/bin/env python3
"""Benchmark of record for the facade: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Builds the program with its own sbt build and the harness in perfbench/
(offline, once per checkout), then starts the harness JVM, which prints
each metric by name with its unit, a summary line and, last, the result
line: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Scratch data lives under
.bench_run/ and is removed after the run; the per-run detail file stays in
.bench_run/detail/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("ingest", "dashboard")
HERE = os.path.dirname(os.path.abspath(__file__))
MAIN = "graft.api.perfbench.Main"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(cwd, *tasks):
    """Runs sbt in batch mode; its log goes to stderr. Returns stdout."""
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks], cwd=cwd,
        env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        die(f"sbt {' '.join(tasks)} failed in {cwd}", 4)
    return proc.stdout


def sources_mtime(root):
    newest = 0.0
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def last_classpath(out):
    return [l for l in out.splitlines() if l and not l.startswith("[")][-1].strip()


def build(root):
    """Compiles the program with its own build, then the harness against the
    program's classpath; returns the harness's runtime classpath (cached in
    a stamp file until a source changes)."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.txt")
    if os.path.isfile(stamp) and os.path.getmtime(stamp) >= sources_mtime(root):
        with open(stamp) as f:
            return f.read().strip()
    program = last_classpath(sbt(root, "compile", "export Compile/fullClasspath"))
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(os.path.join(HERE, "target", "program-classpath.txt"), "w") as f:
        f.write(program + "\n")
    cp = last_classpath(sbt(HERE, "compile", "export Compile/fullClasspath"))
    with open(stamp, "w") as f:
        f.write(cp + "\n")
    return cp


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            die(f"no program to build: {need} is missing under {root}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    cp = build(root)
    runs = os.path.join(root, ".bench_run")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(runs, f"{tag}-{os.getpid()}")
    detail = os.path.join(runs, "detail", f"{tag}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # scratch files stay in the run directory: no /tmp perf data, temp
    # files (snappy and netty unpack native libraries there) under work/tmp
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, MAIN,
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--workdir", work, "--detail", os.path.relpath(detail, root),
            "--commit", commit(root)]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        die(f"harness exited with {proc.returncode} and no result line", 1)
    print("\n".join(lines))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
