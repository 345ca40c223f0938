#!/usr/bin/env python3
"""Seeded benchmark of the KG-construction job (see README.md).

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build
while the sources are unchanged. One JVM per run runs `local[nproc]`.
The last line of standard output is the result JSON; the line before it
(`{"detail": ...}`) records the host shape, the workload's properties,
every timed iteration and the output digests.

    --record   store this run's output digests in digests.json as the
               reference for its workload and seed
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DIGESTS = os.path.join(HERE, "digests.json")
WORKLOADS = ("crawl", "staged_resume")
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".json"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    ready = all(os.path.exists(os.path.join(BUILD, f))
                for f in ("classpath.txt", "javaopts.txt", "stamp"))
    if ready and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ)
    # the program's own build defaults (heap) apply, not a caller's override
    env.pop("SPARK_DRIVER_MEM", None)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(args, work):
    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(BUILD, "javaopts.txt")) as fh:
        javaopts = [x for x in fh.read().split("\n") if x]
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    nproc = str(os.cpu_count() or 1)
    env["SPARK_GRAFT_CPUS"] = nproc  # the production entry's core count
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + javaopts + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--digests", DIGESTS]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    lines = []

    def pump():
        for line in proc.stdout:
            if line.startswith("PERFBENCH_"):
                lines.append(line.rstrip("\n"))
            else:
                sys.stderr.write(line)

    # the output is read on a thread, so the deadline holds even while
    # the JVM prints nothing
    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"timed out after {JVM_TIMEOUT_S} s")
    reader.join(timeout=10)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    out = {}
    for line in lines:
        key, _, payload = line.partition(" ")
        out[key] = json.loads(payload)
    if "PERFBENCH_RESULT" not in out:
        fail("no result line from the benchmark JVM")
    return out.get("PERFBENCH_DETAIL", {}), out["PERFBENCH_RESULT"]


def record(workload, seed, digests):
    table = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            table = json.load(fh)
    table.setdefault(workload, {})[str(seed)] = digests
    with open(DIGESTS, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--record", action="store_true")
    args = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to {os.path.basename(HERE)}/ "
             "(run from a full checkout of the repository)")
    if shutil.which("sbt") is None and not os.path.exists(os.path.join(BUILD, "stamp")):
        fail("sbt is not on PATH")
    build()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        detail, result = run_jvm(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.record:
        record(args.workload, args.seed, detail.get("digests", {}))
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
