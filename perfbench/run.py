#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload mutate --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the engine's sources
together with the benchmark into perfbench/target, with the Scala compiler
among the Spark jars (no sbt, nothing written outside the checkout); later
runs reuse the build while the sources are unchanged. The JVM writes its
result to a file, so no console output is parsed.
The last line of standard output is the result; everything else goes to
standard error. A wrong answer exits 3 and prints no result.
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
WORKLOADS = ("mutate", "curate")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# The Spark jars the root build compiles against (its unmanagedBase); the
# Scala compiler of the same version ships among them.
SPARK_JARS = "/opt/spark/jars"
SCALA = "2.13.17"


def source_files():
    """Every Scala file the build compiles, in a stable order."""
    files = []
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def spark_jars():
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"no Spark jars at {SPARK_JARS}")
    return sorted(os.path.join(SPARK_JARS, f) for f in os.listdir(SPARK_JARS)
                  if f.endswith(".jar"))


def source_hash(jars):
    h = hashlib.sha256(SCALA.encode())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def target_dir():
    d = os.path.join(HERE, "target")
    os.makedirs(d, exist_ok=True)
    return d


def wait_group(proc, deadline):
    """Wait for a process started in its own session; on the deadline kill
    its whole process group and wait for it."""
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{proc.args[0]} timed out")


def build(stamp, jars):
    """Compile the engine's and the benchmark's sources with the Scala
    compiler that ships among the Spark jars, if they changed since the
    last build; returns the runtime classpath. Writes only under
    perfbench/target."""
    target = target_dir()
    classes = os.path.join(target, "classes")
    stamp_file = os.path.join(target, "perfbench.stamp")
    cp = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp
        os.remove(stamp_file)
    log("building (scalac) ...")
    t0 = time.time()
    shutil.rmtree(classes, ignore_errors=True)
    tmp = os.path.join(target, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(target, "scalac-args.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)]
                          + source_files()) + "\n")
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    log_path = os.path.join(target, "build.log")
    with open(log_path, "w") as logf:
        p = subprocess.Popen(["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
                              f"-Djava.io.tmpdir={tmp}", "-cp", compiler,
                              "scala.tools.nsc.Main", "@" + args_file],
                             cwd=HERE, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        rc = wait_group(p, time.time() + 800)
    if rc != 0:
        with open(log_path) as logf:
            sys.stderr.write(logf.read()[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, args, work, out, record, commit, deadline):
    # Spark gets half the cores (local[nproc/2], and as many GC and JIT
    # threads): with every core busy, time the host steals from one vCPU
    # stalled whole stages and stretched each chain of short jobs.
    # The heap has fixed generation sizes and is touched up front: otherwise
    # peak RSS followed how far adaptive sizing and the garbage collector's
    # timing happened to spread the heap, and varied by up to a fifth
    # between runs. Peak RSS is then the heap plus the native footprint.
    nproc = len(os.sched_getaffinity(0))
    cmd = ["java", f"-XX:ActiveProcessorCount={max(1, nproc // 2)}",
           f"-Dperfbench.nproc={nproc}", "-Xms3g", "-Xmx3g", "-Xmn1g",
           "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--record", record]
    env = dict(os.environ, PERFBENCH_COMMIT=commit)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)
    return wait_group(proc, deadline)


def commit_id(stamp):
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + stamp[:16]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala/graft")
    jars = spark_jars()
    stamp = source_hash(jars)
    cp = build(stamp, jars)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    record = os.path.join(work, "record.json")
    try:
        rc = run_jvm(cp, args, work, out, record, commit_id(stamp),
                     time.time() + JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(rc or 2)
        rec = json.load(open(record))
        if args.workload == "curate":
            import oracle
            checked, corpus = oracle.check(work)
            rec["oracle"] = checked
            rec["oracle_corpus"] = {n: os.path.basename(c) for n, c in corpus.items()}
            bad = [n for n, v in checked.items() if v != "match"]
            if bad:
                log(f"WRONG ANSWER: oracle mismatch on {bad}")
                raise SystemExit(3)
        results = os.path.join(HERE, "results")
        os.makedirs(results, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(start)}.json"
        with open(os.path.join(results, name), "w") as f:
            json.dump(rec, f)
        with open(out) as f:
            result = f.read().strip()
        json.loads(result)
        print(result, flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    main()
