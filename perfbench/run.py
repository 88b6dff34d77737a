#!/usr/bin/env python3
"""Build and run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--scale <x>]

Run from the repository root. The first run compiles the engine's main
sources together with the benchmark driver (perfbench/build.sbt) and dumps
a class-data archive from a short ingest_cdc run; later runs reuse both
while the sources are unchanged. The JVM's last
stdout line is the result JSON; its diagnostics go to stderr. A traced
run also writes its spans to perfbench/target/spans/<workload>-seed<n>.jsonl.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench.classpath")
# Class-data-sharing archive of the classes a short ingest_cdc run loads.
# The build makes it and every run maps it, so all runs start the same way;
# it saves about 4 s of JVM and Spark start-up per run (4-core host: 27.4
# -> 22.8 s for a 3 s ingest_cdc run), time that run_seconds gets instead.
CDS_ARCHIVE = os.path.join(BUILD_DIR, "perfbench.jsa")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("ingest_cdc", "scan_mix", "corpus_dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: engine sources and the driver."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout}s")
    return p.returncode, out


def java_cmd(classpath, work, cds_flag, args):
    """The benchmark JVM's command line; `work` holds everything it writes."""
    return [
        "java", *[f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS],
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        # JVM warnings go to stderr; stdout carries only the result
        "-Xlog:disable", "-Xlog:all=warning:stderr", cds_flag,
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
        "-cp", classpath, "graft.perfbench.Main", "--work", work, *args,
    ]


def fresh_work_dir(name):
    work = os.path.join(WORK_ROOT, name)
    shutil.rmtree(WORK_ROOT, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def build():
    digest = source_digest()
    if all(os.path.exists(p) for p in (STAMP, CLASSPATH, CDS_ARCHIVE)):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    print("[perfbench] building", file=sys.stderr)
    code, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
                            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    sys.stderr.write(out[-4000:])
    cp = [l[len("CLASSPATH="):] for l in out.splitlines() if l.startswith("CLASSPATH=")]
    if code != 0 or not cp:
        fail(f"build failed (exit {code})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    for p in (STAMP, CDS_ARCHIVE):
        if os.path.exists(p):
            os.remove(p)
    classpath = cp[-1].strip()
    print("[perfbench] dumping the class-data archive", file=sys.stderr)
    try:
        code, _ = run_bounded(
            java_cmd(classpath, fresh_work_dir("cds"), f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}",
                     ["--workload", "ingest_cdc", "--seed", "0", "--seconds", "1", "--trace", "0",
                      "--scale", "0.05"]),
            RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.DEVNULL, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(WORK_ROOT, ignore_errors=True)
    if code != 0 or not os.path.exists(CDS_ARCHIVE):
        fail(f"class-data archive run failed (exit {code})")
    with open(CLASSPATH, "w") as f:
        f.write(classpath)
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="1.0", help="data size relative to the default")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"engine sources not found under {ROOT}/src/main/scala; run from a full checkout")
    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    java = java_cmd(classpath, fresh_work_dir(f"{a.workload}-{os.getpid()}"),
                    f"-XX:SharedArchiveFile={CDS_ARCHIVE}", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--scale", a.scale,
        "--spans", os.path.join(BUILD_DIR, "spans", f"{a.workload}-seed{a.seed}.jsonl"),
    ])
    try:
        code, out = run_bounded(java, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(WORK_ROOT, ignore_errors=True)
    results = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if code != 0 or not results:
        sys.stderr.write(out[-2000:])
        fail(f"benchmark JVM exited {code} without a result")
    print(results[-1])


if __name__ == "__main__":
    main()
