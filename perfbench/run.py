#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its result line.

    python3 perfbench/run.py --workload aql_dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness together
with the engine's sources (sbt, offline) and generates the benchmark tables;
later runs reuse both until a source file changes. Every other file the run
writes lives under perfbench/.work and is removed when the run ends.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones (see perfbench/LAYERS.md).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
DATA = os.path.join(HERE, ".data")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("aql_dashboard", "ingest_rollup")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return home


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(ROOT, "src", "main", "resources"),
             os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, stdout):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(env):
    """Compiles the harness with the engine once per source state; returns
    the runtime classpath."""
    stamp_file = os.path.join(TARGET, "bench-build.stamp")
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the harness and the engine (sbt compile)")
    t0 = time.time()
    code, out = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], HERE, env, 840, subprocess.PIPE)
    lines = [l for l in (out or "").splitlines() if "scala-2.13" in l and os.pathsep in l]
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        sys.exit("perfbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def jvm_cmd(cp, work):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
             "-cp", cp, "graftbench.Main"])


def tables():
    """Generates the benchmark tables once; returns their directory."""
    sys.path.insert(0, HERE)
    import gen_tables
    out = os.path.join(DATA, f"tables-v{gen_tables.VERSION}")
    if not os.path.isfile(os.path.join(out, "_DONE")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.main(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def jvm(args, extra, env):
    """Runs graftbench.Main; returns (exit code, stdout lines)."""
    cp = build(env)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (jvm_cmd(cp, work) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", tables(), "--src", ENGINE_SRC, "--work", work,
            "--expected", os.path.join(HERE, "expected", f"{args.workload}.json")] + extra)
    try:
        code, out = run_child(cmd, ROOT, dict(env, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local")),
                              JVM_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, (out or "").splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SRC}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    code, lines = jvm(args, [], env)
    for line in lines:
        print(line)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"perfbench: harness failed (exit code {code})")


if __name__ == "__main__":
    main()
