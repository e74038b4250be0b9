#!/usr/bin/env python3
"""Graft benchmark: build from source, run one workload, print one JSON line.

    python3 graftbench/run.py --workload dml_storm --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --workload dml_storm --seed 1 --seconds 10 --report

Run from the repository root. The first run compiles src/main/scala and
graftbench/src with the Scala compiler that ships with Spark into
.bench_build/graftbench and archives the classes a short training run loads;
later runs reuse both while the sources are unchanged. Every table, index, checkpoint and Spark local dir of a run lives
under .bench_work/<pid> and is deleted when the run ends. --report runs one
plain and two traced runs of the same seed and prints the tracing overhead and
which per-layer counters repeat exactly.
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
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
MAIN_SRC = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORK = os.path.join(ROOT, ".bench_work")
SPANS = os.path.join(ROOT, ".bench_out")
SCALA = "2.13.17"
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# JVM logging goes to stderr, so the result stays the last line of stdout;
# no perf-data file is written to the system temp dir.
JVM_FLAGS = ["-Xlog:disable", "-Xlog:all=warning:stderr", "-XX:-UsePerfData"]
WORKLOADS = ("curation_stream", "dashboard_reads", "dml_storm")
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        fail("set SPARK_HOME: the Spark jars were not found")
    return m.group(1)


JARS = spark_jars()


def sources():
    """Scala sources of the program and of the benchmark, and resources."""
    scala, res = [], []
    for top, out in ((os.path.join(MAIN_SRC, "scala"), scala),
                     (os.path.join(BENCH, "src"), scala),
                     (os.path.join(MAIN_SRC, "resources"), res)):
        for d, _, fs in os.walk(top):
            out.extend(os.path.join(d, f) for f in fs
                       if out is res or f.endswith(".scala"))
    return sorted(scala), sorted(res)


def build():
    """Compile into BUILD/graftbench.jar unless the recorded source hash matches."""
    scala, res = sources()
    if not any(p.startswith(os.path.join(MAIN_SRC, "scala")) for p in scala):
        fail(f"no program sources under {os.path.relpath(MAIN_SRC, os.getcwd())}; "
             "run from a full checkout")
    compiler = [os.path.join(JARS, f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in compiler):
        fail(f"the Scala {SCALA} compiler is not under {JARS}")
    h = hashlib.sha256(SCALA.encode())
    for p in scala + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "graftbench.jar")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "classes")
    os.makedirs(tmp)
    with open(os.path.join(BUILD, "sources.txt"), "w") as f:
        f.write("\n".join(scala))
    t = time.time()
    print(f"[graftbench] compiling {len(scala)} files", file=sys.stderr)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp", "-d", tmp, "-cp", os.path.join(JARS, "*"),
         "@" + os.path.join(BUILD, "sources.txt")],
        timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, os.path.join(MAIN_SRC, "resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    # a jar, not a directory, so the JVM can archive its classes (CDS)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(tmp):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    shutil.rmtree(tmp)
    os.rename(jar + ".tmp", jar)
    print(f"[graftbench] compiled in {time.time() - t:.1f}s", file=sys.stderr)
    # Class-data sharing: a short training run archives the classes it
    # loads, and every measured run maps the archive instead of loading
    # those classes from jars, which saves several seconds of start-up.
    t = time.time()
    code, _, _ = run_once(jar, "dml_storm", 0, 0, 0, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    if code != 0 or not os.path.exists(ARCHIVE):
        fail("the class-archive training run failed")
    print(f"[graftbench] archived classes in {time.time() - t:.1f}s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


def run_once(jar, workload, seed, seconds, trace, cds=f"-XX:SharedArchiveFile={ARCHIVE}"):
    """One JVM run; returns (exit code, stdout lines, parsed result or None)."""
    work = os.path.join(WORK, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", cds, *JVM_FLAGS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    jars = sorted(os.path.join(JARS, j) for j in os.listdir(JARS) if j.endswith(".jar"))
    cmd += ["-cp", os.pathsep.join([jar] + jars), "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--src", os.path.join(MAIN_SRC, "scala", "graft"),
            "--spans", os.path.join(SPANS, f"spans-{workload}-seed{seed}.jsonl")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        print(f"[graftbench] run exceeded {RUN_TIMEOUT_S}s and was killed", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass
    lines = out.splitlines()
    while lines and not lines[-1].startswith("{"):
        lines.pop()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    return proc.returncode, lines, result


def report(jar, workload, seed, seconds):
    """Tracing overhead and counter repeatability for one seed."""
    _, _, plain = run_once(jar, workload, seed, seconds, 0)
    traced = [run_once(jar, workload, seed, seconds, 1)[2] for _ in range(2)]
    if plain is None or None in traced:
        fail("a run printed no result")
    p = plain["metrics"]["ops_per_s"]["value"]
    t = [r["metrics"]["trace.ops_per_s"]["value"] for r in traced]
    print(f"tracing overhead on {workload}: plain {p:.3f} ops/s, traced "
          f"{t[0]:.3f} and {t[1]:.3f} ops/s ({100 * (1 - sum(t) / 2 / p):.1f}% fewer)")
    a, b = (r["metrics"] for r in traced)
    unused = [k for k in a if a[k]["value"] == 0 and b[k]["value"] == 0]
    same = [k for k in a if k not in unused and a[k]["value"] == b[k]["value"]]
    differ = [k for k in a if k not in unused and k not in same]
    print(f"ops in the two traced windows: {traced[0]['attempted']} and {traced[1]['attempted']} "
          "(per-op counters can only repeat when these match)")
    print("repeat exactly (counts): " + ", ".join(same))
    print("differ between runs (timing-grade): " + ", ".join(differ))
    print("not exercised by this workload: " + ", ".join(unused))
    print(json.dumps({"workload": workload, "seed": seed, "plain_ops_per_s": p,
                      "traced_ops_per_s": t, "exact": same, "timing_grade": differ,
                      "unused": unused}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    jar = build()
    if args.report:
        report(jar, args.workload, args.seed, args.seconds)
        return
    code, lines, result = run_once(jar, args.workload, args.seed, args.seconds, args.trace)
    for line in lines[:-1]:
        print(line)
    if result is None:
        fail(f"the run printed no result (exit code {code})")
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
