#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest    # the benchmark's own math (sbt test)

The first run in a checkout compiles graft's main sources together with the
benchmark program (sbt, offline); later runs reuse the build while the sources
are unchanged. The program then runs on a fresh JVM with the Spark jars the
repository's own build uses.
Inputs are the tables under perfbench/data plus topics generated from the
seed; scratch output goes to perfbench/work and is removed afterwards.
With --trace 1 the span log of the run is kept under perfbench/out.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("cdc_backfill", "cdc_trickle")
RUN_TIMEOUT_S = 170
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars directory the repository's build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of everything the build compiles, to decide whether to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt(task):
    """Run one sbt task in perfbench/ against the offline dependency cache."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dgraft.sparkJars={spark_jars()}", task],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        log(f"sbt {task} failed with exit code {r.returncode}")
    return r.returncode == 0


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft sources not found next to perfbench/; nothing to build")
        return False
    if not spark_jars():
        log("no Spark jars directory (unmanagedBase) in the repository's build.sbt")
        return False
    digest = source_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return True
    log("building graft and the benchmark program (sbt compile)")
    if not sbt("compile"):
        return False
    with open(STAMP, "w") as f:
        f.write(digest)
    return True


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    if sys.argv[1:] == ["--selftest"]:
        return 0 if sbt("test") else 1
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(DATA, "orders.parquet")):
        log(f"benchmark tables missing under {DATA}")
        return 2
    if not build():
        return 2

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap: the JVM does not resize it mid-run, so peak RSS reads
    # what the run touched rather than when the collector chose to grow
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--work", work, "--cores", str(cores())])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("run did not finish in time; stopped")
        return 3
    finally:
        if a.trace and os.path.isfile(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("{") and '"correct"' in s:
            result = s
        elif s:
            print(s, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        log(f"benchmark exited with code {proc.returncode} and no result")
        return 3
    json.loads(result)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
