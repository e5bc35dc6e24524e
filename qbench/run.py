#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 qbench/run.py --workload cine_serve_warm --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source (sbt, offline), packs the classes into jars and records
a class-data-sharing archive that shortens JVM start-up, recorded while
DataGen writes the fixed tables declared_suite reads; later runs reuse that
build until a source file changes. Every build and run output stays under
qbench/target/.

Standard output ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics; the lines above it list
every metric of the workload, including failed_share. Spark's log and the
run's artifact (qbench/target/results/) explain each run.

    python3 qbench/run.py --workload declared_suite --seed 1 --seconds 10 --record

re-records a workload's expected outputs (qbench/expected/digests.txt) from
the current program instead of checking them.
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
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
BUILD = os.path.join(TARGET, "build")
JARS = os.path.join(BUILD, "jars")
TABLES = os.path.join(BUILD, "tables")
# DataGen scale factor of declared_suite's tables
SCALE = "sf0.01"
CDS = os.path.join(BUILD, "classes.jsa")
STAMP = os.path.join(BUILD, "stamp")
DIGESTS = os.path.join(HERE, "expected", "digests.txt")

WORKLOADS = ["cine_serve_warm", "declared_suite"]
HEAP = "3g"
YOUNG = "512m"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[qbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except Exception:
        return "unknown"


def run_logged(cmd, cwd, logfile, timeout, env=None):
    """Run to completion in its own process group; kill the group on timeout."""
    with open(logfile, "a") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=lf, text=True,
                             env=env, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out


def java_cmd(classpath, extra, tmp):
    """The JVM command; its temporary files, Spark's included, go under `tmp`."""
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # a fixed heap and young generation: G1 otherwise resizes both as it
    # goes, and the peak resident set then moves by a third between runs
    # of the same work
    return cmd + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}",
                  "-Dspark.ui.enabled=false", "-cp", classpath] + extra


def jvm_env(tmp, **extra):
    return dict(os.environ, SPARK_LOCAL_DIRS=tmp, **extra)


def build():
    """Compile, pack jars, generate the tables and record the CDS archive.
    Returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("the program's sources (src/main/scala) are missing from this checkout")
        sys.exit(3)
    want = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return open(os.path.join(BUILD, "classpath")).read()
    log("building program and benchmark from source")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(JARS)
    blog = os.path.join(BUILD, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    rc, out = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HERE, blog, BUILD_TIMEOUT_S, env)
    with open(blog, "a") as lf:
        lf.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        log(f"build failed (sbt exit {rc}); see {blog}")
        sys.exit(3)
    entries = []
    for i, e in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(JARS, f"classes{i}.jar")
            subprocess.run(["jar", "--create", "--file", jar, "-C", e, "."], check=True)
            entries.append(jar)
        elif e.endswith(".jar"):
            entries.append(e)
    classpath = os.pathsep.join(entries)
    # the DataGen run that writes the tables is the training run for the CDS archive
    tmp = os.path.join(BUILD, "tables-tmp")
    rc, _ = run_logged(java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={CDS}", "qbench.Fixtures",
                                            TABLES, SCALE], tmp),
                       BUILD, blog, BUILD_TIMEOUT_S, jvm_env(tmp, SPARK_GRAFT_CPUS="4"))
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        log(f"table generation failed; see {blog}")
        sys.exit(3)
    with open(os.path.join(BUILD, "classpath"), "w") as fh:
        fh.write(classpath)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the observed output digests instead of checking them")
    a = ap.parse_args()

    classpath = build()
    run_dir = os.path.join(TARGET, f"run-{os.getpid()}")
    results = os.path.join(TARGET, "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(results, exist_ok=True)
    jvm_log = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    if os.path.exists(jvm_log):
        os.remove(jvm_log)
    args = ["qbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(run_dir, "work"), "--out", results, "--tables", TABLES,
            "--digests", DIGESTS, "--commit", git_commit(), "--source", open(STAMP).read()]
    if a.record:
        args += ["--record", "1"]
    cds = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    t0 = time.time()
    try:
        tmp = os.path.join(run_dir, "tmp")
        rc, out = run_logged(java_cmd(classpath, cds + args, tmp), run_dir, jvm_log,
                             RUN_TIMEOUT_S, jvm_env(tmp))
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped; see {jvm_log}")
        sys.exit(4)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        log(f"run failed (exit {rc}); see {jvm_log}")
        sys.exit(rc or 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        sys.exit(5)
    for l in lines[:-1]:
        print(l)
    print(f"  {'run_wall_s':<42} {time.time() - t0:14.6f}  s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
