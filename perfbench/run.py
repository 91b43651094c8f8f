#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload tick_serve --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) into $CARGO_TARGET_DIR, default
.bench_build; later runs reuse that build while the sources are unchanged.
The run itself is one JVM (Spark local[nproc], one client thread); see
perfbench/README.md for what a run does and what it prints.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tick_serve", "corpus_curate")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads: the program's sources and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}: run from a full checkout")
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(build_dir):
    """Compile with sbt unless the sources match the last build; return the classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(build_dir, "perfbench.stamp")
    cp_file = os.path.join(build_dir, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(build_dir, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dperfbench.target={os.path.join(build_dir, 'sbt')}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    cp = build(build_dir)

    t0_ms = int(time.time() * 1000)  # set-up time counts from here
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    # a fixed heap (initial = maximum) so the resident-set figure does not
    # depend on when the collector chose to grow the heap
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--t0-ms", str(t0_ms),
            "--work", os.path.join(run_dir, "work"), "--result", result]
    if args.trace:
        cmd += ["--trace-dir", os.path.join(build_dir, "trace")]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - t0_ms / 1000)))
    except BaseException:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("run did not finish in time")
    line = None
    if code == 0 and os.path.exists(result):
        with open(result) as fh:
            line = fh.read().strip()
    shutil.rmtree(run_dir, ignore_errors=True)
    if line is None:
        fail(f"run failed (exit code {code})")
    json.loads(line)
    print(line)


if __name__ == "__main__":
    main()
