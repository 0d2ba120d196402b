#!/usr/bin/env python3
"""SyncBench runner.

Run from the root of a checkout:

    python3 syncbench/run.py --workload catchup --seed 1 --seconds 20 --trace 0

Builds the engine (``src/main/scala``) and the benchmark
(``syncbench/src``) from source with sbt on first use, then runs one
workload in a fresh JVM sized from the host. Standard output carries the
report lines and, last, the one-line JSON result. Build output goes to
``syncbench/target`` and ``.bench_build``, run output to ``.bench_out``,
temporary run state to ``.bench_work`` (removed after the run).
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build" / "syncbench"
HISTORY = BUILD / "history"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 420  # each of the two build steps
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"syncbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(r.rglob("*.scala"))
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def spark_jars():
    """The local Spark install's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = pathlib.Path(home or ".") / "jars"
    if not jars.is_dir():
        fail("no Spark install found (set SPARK_HOME)")
    return jars


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=str(spark_jars()))
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def java_cmd(cp, work):
    cmd = ["java", f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["syncbench.SyncBench"]


def step(cmd, log, cwd, env=None):
    """Run one build step with its output in `log`; returns its exit code."""
    with open(log, "w") as out:
        try:
            return subprocess.call(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -1


def build(fp):
    """Compile and fold the shared history once per source fingerprint;
    returns the runtime classpath."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    BUILD.mkdir(parents=True)
    log = BUILD / "build.log"
    rc = step(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
              log, BENCH, sbt_env())
    cps = [l.strip() for l in log.read_text().splitlines()
           if not l.startswith("[") and "scala-library" in l]
    if rc != 0 or not cps:
        fail(f"build failed (rc={rc}), see {log}")
    cp = cps[-1]
    work = BUILD / "history.work"
    (work / "tmp").mkdir(parents=True)
    rc = step(java_cmd(cp, work) + ["--prepare", str(HISTORY)], BUILD / "history.log", ROOT)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        fail(f"history fold failed (rc={rc}), see {BUILD / 'history.log'}")
    cp_file.write_text(cp)
    stamp.write_text(fp)
    return cp


def heap_mb():
    """A quarter of the host's memory, within [2 GB, 6 GB]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(2048, min(6144, kb // 4 // 1024))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["catchup", "tip"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the root of a checkout that holds the engine's sources (src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    fp = fingerprint()
    cp = build(fp)
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    out = ROOT / ".bench_out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out.mkdir(exist_ok=True)
    cmd = java_cmd(cp, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--out", str(out),
        "--history", str(HISTORY), "--commit", f"src-{fp}"]
    log = out / f"jvm-{a.workload}-{a.seed}-{a.trace}.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print("\n".join(lines[-1:]))
        print(f"syncbench: run failed (rc={proc.returncode}), see {log}", file=sys.stderr)
        sys.exit(proc.returncode or 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
