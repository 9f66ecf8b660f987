#!/usr/bin/env python3
"""Benchmark of the engine's delivered paths.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload batch_jobs --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness from source with sbt into
.bench_build/ (later runs reuse the build while the sources are unchanged),
then starts one JVM that sets the workload up, measures it for --seconds,
checks the delivered outputs and prints one JSON result as its last line.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

WORKLOADS = ("batch_jobs", "stream_live", "query_mix")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source digest; return the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            rec = json.load(fh)
        if rec.get("digest") == digest:
            return rec["classpath"], rec.get("archive")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
        out.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (log: {log})")
    lines = [l for l in p.stdout.splitlines()
             if ".jar" in l and not l.startswith("[") and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath (log: {log})")
    entries = lines[-1].strip().split(os.pathsep)
    # class-data sharing maps only jars, so the compiled classes go into one
    jar = os.path.join(BUILD, "perfbench.jar")
    with zipfile.ZipFile(jar, "w") as z:
        for d in (e for e in entries if os.path.isdir(e)):
            for base, _, names in os.walk(d):
                for n in names:
                    f = os.path.join(base, n)
                    z.write(f, os.path.relpath(f, d))
    classpath = os.pathsep.join([jar] + [e for e in entries if not os.path.isdir(e)])
    # A class-data-sharing archive of the classes one short run loads halves
    # the JVM's cold start (Spark loads some 20k classes); without it the
    # runs are only slower.
    archive = os.path.join(BUILD, "perfbench.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    with open(log, "a") as out:
        try:
            subprocess.run(java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={archive}"]) +
                           ["--workload", "stream_live", "--seed", "0", "--seconds", "1"],
                           cwd=ROOT, stdout=out, stderr=out, stdin=subprocess.DEVNULL,
                           timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath,
                   "archive": archive if os.path.exists(archive) else None}, fh)
    return classpath, (archive if os.path.exists(archive) else None)


def java_cmd(classpath, jvm_args=()):
    """The harness JVM: a fixed heap and young generation keep the peak RSS
    comparable run to run; the add-opens are what Spark needs on JDK 17."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(BUILD, "tmp")  # native libraries Spark unpacks, kept in the checkout
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn600m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *jvm_args]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classpath, "perfbench.Main",
                  "--work", os.path.join(BUILD, "work"), "--out", os.path.join(BUILD, "traces"),
                  "--expected", os.path.join(HERE, "expected", "query_mix.json")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--extra", nargs=argparse.REMAINDER, default=[],
                    help="further arguments for the JVM harness (development aid)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")

    classpath, archive = build()
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    shared = [f"-XX:SharedArchiveFile={archive}"] if archive and os.path.exists(archive) else []
    cmd = java_cmd(classpath, shared) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace)] + a.extra
    with open(log, "w") as err:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                               stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"run timed out after {RUN_TIMEOUT_S} s (log: {log})")
    result = None
    for line in p.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if set(obj) == {"correct", "attempted", "failed", "metrics"}:
                result = obj
    if p.returncode != 0 or result is None:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited {p.returncode} without a result (log: {log})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
