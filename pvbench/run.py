#!/usr/bin/env python3
"""Build the program with the benchmark, then run one benchmark workload.

Usage, from the root of a checkout:

    python3 pvbench/run.py --workload etl_merge --seed 1 --seconds 20 --trace 0
    python3 pvbench/run.py --workload corpus_graph --seed 1 --seconds 20 --trace 1
    python3 pvbench/run.py --selftest

The build compiles the checkout's `src/main/scala` together with the
benchmark sources (`pvbench/build.sbt`, offline) and is reused while no
source changes. The run starts one JVM, drives the workload through the
program's public module APIs on `local[4]`, and prints every metric by
name with its unit, the output-check verdict, and, as the last line, one
JSON object {"correct", "attempted", "failed", "metrics"}. See
pvbench/METRICS.md.
"""
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "pvbench")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "pvbench-build.json")
BUILD_TIMEOUT = 840
RUN_TIMEOUT = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"pvbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads from the checkout, sorted."""
    out = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(*tasks, timeout=BUILD_TIMEOUT, log="sbt.log"):
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, log)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    with open(log, "w") as f:
        code, _ = run_group(cmd, timeout, cwd=BENCH, env=sbt_env(), stdout=f,
                            stderr=subprocess.STDOUT)
    with open(log) as f:
        text = f.read()
    if code != 0:
        sys.stderr.write(text[-4000:])
        fail(f"sbt {' '.join(tasks)} failed (exit {code}); log in {log}", 1)
    return text


def build():
    """Compile once per source state; return the runtime classpath."""
    h = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("hash") == h:
            return stamp["classpath"], h
    text = sbt("compile", "export Runtime/fullClasspath")
    lines = [l for l in text.splitlines() if not l.startswith("[") and ".jar" in l]
    if not lines:
        fail("could not read the classpath from sbt", 1)
    with open(STAMP, "w") as f:
        json.dump({"hash": h, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip(), h


def commit(h):
    try:
        rev = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if rev.returncode == 0 and rev.stdout.strip():
            return f"{rev.stdout.strip()}+src:{h}"
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"src:{h}"


def selftest_compare():
    """compare.py must refuse to compare results taken at different core
    counts: two real runs, the second pinned to half the host's CPUs."""
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < 2:
        fail("the compare self-test needs at least two CPUs", 1)
    work = os.path.join(BENCH, "work", "selftest-compare")
    results = os.path.join(BENCH, "results")
    sets = []
    pin = ["taskset", "-c", ",".join(map(str, cpus[:len(cpus) // 2]))]
    for name, prefix in (("all", []), ("half", pin)):
        d = os.path.join(work, name)
        os.makedirs(d, exist_ok=True)
        before = set(glob.glob(os.path.join(results, "*.json")))
        cmd = prefix + [sys.executable, os.path.abspath(__file__), "--workload", "etl_merge",
                        "--seed", "1", "--seconds", "1", "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            fail(f"{' '.join(cmd)} failed (exit {out.returncode})", 1)
        line = json.loads(out.stdout.rstrip("\n").splitlines()[-1])
        if set(line) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"bad result line {line}", 1)
        for f in set(glob.glob(os.path.join(results, "*.json"))) - before:
            shutil.move(f, d)
        sets.append(d)
    compare = [sys.executable, os.path.join(BENCH, "compare.py")]
    same = subprocess.run(compare + [sets[0], sets[0]], capture_output=True).returncode
    mixed = subprocess.run(compare + sets, capture_output=True).returncode
    shutil.rmtree(work)
    if same != 0:
        fail(f"compare.py failed on one set against itself (exit {same})", 1)
    if mixed != 2:
        fail(f"compare.py compared results across core counts (exit {mixed})", 1)


def main(argv):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at src/main/scala/graft; run from the root of a checkout")
    if not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail("pvbench/build.sbt missing; run from the root of a checkout")
    if argv == ["--selftest"]:
        sbt("test", timeout=1500, log="sbt-test.log")
        selftest_compare()
        print("selftest: PASS")
        return
    flags = dict(zip(argv[::2], argv[1::2]))
    if len(argv) % 2 or not {"--workload", "--seed", "--seconds", "--trace"} <= flags.keys():
        fail("usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>")
    classpath, h = build()
    # the JVM's own temporary files (native libraries unpacked by
    # compression codecs) stay inside the checkout too
    tmp = os.path.join(BENCH, "work", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # C1 JIT and two GC threads: runs are short, and on four cores C2
    # compilation and GC threads competed with the four Spark task threads,
    # which made step times vary (see METRICS.md, "Load")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.configurationFile=log4j2-pvbench.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "pvbench.Main", *argv, "--root", ROOT, "--commit", commit(h)]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT} s", 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"benchmark JVM failed (exit {code})", 1)
    sys.stdout.write(out)


if __name__ == "__main__":
    main(sys.argv[1:])
