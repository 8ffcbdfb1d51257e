#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload ingest_mutate --seed 1 --seconds 10 --trace 0

The first run builds graft and the benchmark from the checkout's
sources with sbt (offline), packs the class directories into jars,
dumps a class-data-sharing archive from one fixed untimed training run,
and caches the classpath under the build directory ($CARGO_TARGET_DIR,
else .bench_build); later runs reuse both while the sources are
unchanged. Each run starts one JVM, which prints
a `perfbench-summary` line and, last, one JSON object with the keys
correct, attempted, failed and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

WORKLOADS = ("ingest_mutate", "track_products")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "2g"
# C1 only, with room for all of Spark's compiled code: a JVM that lives
# a minute never finishes C2 compilation (8-15 s of compiler time per
# round, 1-1.5 of the 4 cores), so with C2 it competes with itself and
# a neighbour's load slows it about 2.5 times as much. C1's smaller
# default code cache fills within a run and stalls it.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m"]

# Spark on JDK 17 needs these outside spark-submit (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Files whose contents decide the build."""
    out = []
    for top in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        base = os.path.join(root, top)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    out += [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench/build.sbt")]
    return out


def stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile graft and the benchmark; return the runtime classpath."""
    os.makedirs(build_dir, exist_ok=True)
    key = stamp(root)
    cache = os.path.join(build_dir, "classpath.json")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cache):
            with open(cache) as fh:
                got = json.load(fh)
            if got.get("stamp") == key:
                return got["classpath"]
        tmp = os.path.join(build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = " ".join(filter(None, [
            env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}"]))
        log_path = os.path.join(build_dir, "build.log")
        with open(log_path, "w") as log:
            try:
                p = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"],
                    cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
                    stderr=log, stdin=subprocess.DEVNULL, text=True,
                    timeout=BUILD_LIMIT_S)
            except subprocess.TimeoutExpired:
                fail("build timed out; see " + log_path, 3)
            log.write(p.stdout)
        if p.returncode != 0:
            fail(f"build failed (exit {p.returncode}); see {log_path}", 3)
        cps = [l.strip() for l in p.stdout.splitlines()
               if ".jar" in l and os.pathsep in l and not l.startswith("[")]
        if not cps:
            fail("build printed no classpath; see " + log_path, 3)
        classpath = jar_dirs(cps[-1], os.path.join(build_dir, "jars"))
        train(classpath, build_dir)
        with open(cache, "w") as fh:
            json.dump({"stamp": key, "classpath": classpath}, fh)
        return classpath


def jar_dirs(classpath, jar_dir):
    """Replace class directories on the classpath with jars of them:
    class-data sharing only archives classes that come from jars."""
    os.makedirs(jar_dir, exist_ok=True)
    out = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jar_dir, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in os.walk(entry):
                    for f in sorted(files):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train(classpath, build_dir):
    """Dump the class-data-sharing archive from one fixed, untimed run
    (one round of ingest_mutate, seed 0). Every measured run maps the
    same archive, so no measured run depends on which runs came before
    it; the archive roughly halves a cold JVM's session start."""
    jsa = os.path.join(build_dir, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    jvm(classpath, build_dir, "train", [f"-XX:ArchiveClassesAtExit={jsa}.tmp"],
        ["--workload", "ingest_mutate", "--seed", "0", "--seconds", "1", "--trace", "0"])
    if not os.path.exists(jsa + ".tmp"):
        fail("training run for the class-data archive failed; see the train log in "
             + os.path.join(build_dir, "logs"), 3)
    os.replace(jsa + ".tmp", jsa)


def jvm(classpath, build_dir, tag, flags, args):
    """Run perfbench.Main in a fresh JVM with its own work directory
    (removed afterwards); return its standard output."""
    work = os.path.join(build_dir, "work", tag)
    logs = os.path.join(build_dir, "logs")
    tmp = os.path.join(work, "tmp")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # JVM messages (class-data sharing among them) go to stderr, never
    # onto the result line
    cmd += JIT_FLAGS + flags + ["-Xshare:auto", "-Xlog:disable", "-Xlog:all=warning:stderr"]
    cmd += [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main"] + args + ["--work", work]
    log_path = os.path.join(logs, tag + ".log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_LIMIT_S} s; see {log_path}", 4)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        sys.stderr.write(out)
        fail(f"benchmark exited {p.returncode}; see {log_path}", 5)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout: {need} is missing")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build(root, build_dir)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    start = time.time()
    jsa = os.path.join(build_dir, "classes.jsa")
    out = jvm(cp, build_dir, tag, [f"-XX:SharedArchiveFile={jsa}"],
              ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)])
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("benchmark printed nothing", 5)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("last output line is not JSON: " + lines[-1][:200], 5)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("result line has unexpected keys", 5)
    for l in lines[:-1]:
        if l.startswith("perfbench-summary"):
            print(l)
    print(f"perfbench-wall {time.time() - start:.1f} s", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
