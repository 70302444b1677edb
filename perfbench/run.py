"""Benchmark entry point.

    python3 perfbench/run.py --workload tick_registry --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. It compiles the program (src/main/scala)
and the harness (perfbench/src) with the Scala compiler from the Spark
jars into .bench_build/ and hands over to perfbench.Runner, which
generates the seeded inputs with gen.py, runs the workload and prints the
result object as its last stdout line. Exits non-zero when a correctness
gate fails or the program cannot be built.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tick_registry", "query_suite")


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    if not files:
        sys.exit("no program sources under src/main/scala: run from a checkout")
    return files + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                                    recursive=True))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        sys.exit("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def build(jars):
    """Compiles into .bench_build/classes unless the sources are unchanged."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(BUILD, "classes.stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
         "-Djava.io.tmpdir=" + BUILD, "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files,
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        sys.exit("compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the timing rules of the harness itself")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    sources()
    jars = spark_jars()
    classes = build(jars)
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if a.selftest:
        tmp = os.path.join(BUILD, "selftest")
        os.makedirs(tmp, exist_ok=True)
        sys.exit(subprocess.call(
            ["java", "@" + os.path.join(HERE, "jvm.args"), "-Xmx1g",
             "-Djava.io.tmpdir=" + tmp, "-Dspark.master=local[2]", "-cp", cp,
             "perfbench.SelfTest"], cwd=tmp,
            env=dict(os.environ, SPARK_LOCAL_DIRS=tmp)))
    work = os.path.join(BUILD, "work", "%s-trace%d" % (a.workload, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)

    cmd = ["java", "@" + os.path.join(HERE, "jvm.args"), "-Xmx1g",
           "-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Runner",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), ROOT, cp,
           work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # a terminated benchmark takes its process group down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    log = os.path.join(work, "runner.stderr")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stderr=err,
                             start_new_session=True)
        try:
            code = p.wait(timeout=175)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    sys.exit(code)


if __name__ == "__main__":
    main()
