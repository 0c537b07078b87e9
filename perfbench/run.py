#!/usr/bin/env python3
"""Run one benchmark workload against the graft sources of this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the checkout. The first run builds the harness and
graft with sbt (offline) and copies the compiled classes into .bench_build/,
keyed by a digest of the sources; later runs reuse that copy while the
sources are unchanged, so a later build elsewhere in the checkout cannot
change what is measured. Every run starts from an empty run directory,
.bench_run/, which holds the generated inputs, graft's state stores, Spark's
scratch space, the outputs the run observed and, for traced runs, the spans
and per-op counters. The last line of standard output is the result object.
Any failure exits non-zero without printing a result.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN = os.path.join(ROOT, ".bench_run")
WORKLOADS = ("operator_suite", "incremental_publish")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit; same list as graft's build.sbt.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Hash of every file the build reads: graft's and the harness's."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", os.path.relpath(HERE, ROOT)):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else []
        for d, subdirs, names in os.walk(path):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for all of it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def classpath():
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        cp = cached.get("classpath", "")
        if cached.get("digest") == digest and all(map(os.path.exists, cp.split(os.pathsep))):
            return cp
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("no graft build.sbt next to the benchmark: run from the root of a graft checkout")
    shutil.rmtree(BUILD, ignore_errors=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    rc, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                        stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {rc})")
    lines = [l for l in out.splitlines() if not l.startswith("[") and ".jar" in l]
    if not lines:
        fail("build printed no classpath")
    # class directories are rewritten by any later sbt build in the
    # checkout: measure a copy of the ones just built (jars do not change)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            copy = os.path.join(BUILD, "classes", str(i))
            shutil.copytree(entry, copy)
            entry = copy
        entries.append(entry)
    cp = os.pathsep.join(entries)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = classpath()
    shutil.rmtree(RUN, ignore_errors=True)
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp)
    cores = str(len(os.sched_getaffinity(0)))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_GRAFT_CPUS"] = cores
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--root", RUN, "--home", HERE]
    log = os.path.join(RUN, "harness.log")
    with open(log, "w") as err:
        rc, out = run_child(cmd, RUN_TIMEOUT_S, cwd=RUN, env=env, stdout=subprocess.PIPE,
                            stderr=err, stdin=subprocess.DEVNULL, text=True)
    with open(log) as fh:
        notes = [l for l in fh if l.startswith("[perfbench]") and " op " not in l]
    sys.stderr.writelines(notes)
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        fail(f"harness failed (exit {rc}); log in {os.path.relpath(log, ROOT)}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"harness printed no result: {lines[-1][:200]}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1][:200]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
