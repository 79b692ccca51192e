#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload hhs_ingest --seed 1 --seconds 1 --trace 0

Builds the engine (src/main/scala) and the benchmark client
(perfbench/src/main/scala) into one jar with the Scala compiler that ships
with Spark, then records a class-data archive from one training run that
sets up every workload. Both are cached under .bench_build/perfbench by a
hash of the sources. The measured run is one JVM of perfbench.Main; its
output is relayed. The last line of stdout is the result object; nothing
is printed there on failure.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("hhs_ingest", "dashboard", "corpus_build")
# a first run builds, trains and runs within 900 s; later runs within 180 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 300
TRAIN_TIMEOUT_S = 360
HEAP = "3g"
YOUNG = "768m"


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("Spark jars not found: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala")
    if not bench:
        fail("no benchmark sources under perfbench/src/main/scala")
    return engine + bench


def run_logged(cmd, timeout, what, **kw):
    """Runs cmd in its own process group; on failure prints its output and exits."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} did not finish in time")
    if proc.returncode != 0:
        sys.stderr.write(out[-20000:])
        fail(f"{what} failed")


def jvm_args(work, classpath):
    """The client JVM's flags; its scratch files all live under `work`."""
    with open(os.path.join(HERE, "add-opens.txt")) as f:
        opens = [l.strip() for l in f if l.strip()]
    # -XX:-UsePerfData: no hsperfdata file in the system's /tmp
    # a fixed young generation: G1 otherwise sizes it from the pause times
    # it sees, which on a shared host changes how much garbage is promoted
    # and so what the heap reads right after a collection
    args = ["java", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}"]
    for p in opens:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return args + ["-cp", classpath]


def client_env(work):
    for d in ("scratch/spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "scratch", "spark-local")
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def build(jars):
    """Compiles engine + client and records the class-data archive, once
    per source hash; returns (the build directory, the client classpath).
    """
    srcs = sources()
    jar_list = sorted(glob.glob(os.path.join(jars, "*.jar")))
    h = hashlib.sha256()
    for p in srcs + [os.path.join(HERE, "add-opens.txt")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(jar_list).encode())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    classpath = os.pathsep.join([os.path.join(out, "perfbench.jar")] + jar_list)
    if os.path.isfile(os.path.join(out, ".done")):
        return out, classpath
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    spark_cp = os.pathsep.join(jar_list)
    run_logged(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_cp, "scala.tools.nsc.Main", "-nowarn",
                "-d", os.path.join(out, "perfbench.jar"), "-classpath", spark_cp, "@" + argfile],
               BUILD_TIMEOUT_S, "build")
    t1 = time.time()
    # the classes every workload's set-up loads, archived at exit; a
    # measured run maps them instead of loading them one by one
    work = os.path.join(out, "train")
    env = client_env(work)
    run_logged(jvm_args(work, classpath) +
               [f"-XX:ArchiveClassesAtExit={os.path.join(out, 'app.jsa')}",
                "perfbench.Main", "--train", "1", "--work", work],
               TRAIN_TIMEOUT_S, "training run", cwd=work, env=env)
    shutil.rmtree(work, ignore_errors=True)
    open(os.path.join(out, ".done"), "w").close()
    print(f"[perfbench] built in {t1 - t0:.1f} s, trained in {time.time() - t1:.1f} s", file=sys.stderr)
    return out, classpath


def run_client(out, classpath, args):
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = client_env(work)
    jvm = jvm_args(work, classpath)
    archive = os.path.join(out, "app.jsa")
    if os.path.isfile(archive):
        jvm.append(f"-XX:SharedArchiveFile={archive}")
    jvm += ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(jvm, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("client did not finish in time")
    code = proc.returncode
    spans = os.path.join(work, "spans.jsonl")
    if args.trace == 1 and os.path.isfile(spans):
        os.makedirs(os.path.join(BUILD, "out"), exist_ok=True)
        shutil.copy(spans, os.path.join(BUILD, "out", f"{args.workload}-seed{args.seed}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith('{"attempted"'):
        sys.stderr.write(stdout[-5000:])
        fail(f"client exited with code {code} and no result line")
    print("\n".join(lines), flush=True)


def main():
    # a TERM from outside unwinds like an exception, so the client's process
    # group is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    out, classpath = build(spark_jars())
    run_client(out, classpath, args)


if __name__ == "__main__":
    main()
