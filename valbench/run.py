#!/usr/bin/env python3
"""Validation benchmark for the valijson-on-Spark library.

Run from the repository root:

    python3 valbench/run.py --workload table_pass --seed 1 --seconds 10 --trace 0

It builds the library's main sources together with the harness in
valbench/src (sbt, offline; rebuilt only when a source changes), then runs
one JVM that generates the workload's inputs for the seed (cached per seed
and generator version) and measures. That JVM's last stdout line is the
result. Scratch files live in valbench/.work.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
ARCHIVE = WORK / "classes.jsa"
LIB_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("table_pass", "tool_args_json", "stream_verdicts")
RUN_LIMIT_S = 170  # a run must end within 180 s once built
CACHED_SEEDS = 12

# Spark 4 on JDK 17 outside spark-submit needs these (as in the library's build).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def log(msg):
    print(f"[valbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars beside
    the first `bin/spark-submit` on PATH that has them."""
    homes = [pathlib.Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [pathlib.Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (pathlib.Path(d) / "spark-submit").exists()]
    for home in homes:
        if (home / "jars").is_dir():
            return home / "jars"
    sys.exit("Spark jars not found: set SPARK_HOME or put Spark's bin/ on PATH")


def build():
    """Compiles with sbt when any source changed; returns the classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         f"-Dvalbench.spark.jars={spark_jars()}", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=850)
    lines = [ln for ln in res.stdout.splitlines() if ln.strip()]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:])
        sys.exit(f"build failed (sbt exit {res.returncode})")
    cp = lines[-1].strip()
    WORK.mkdir(parents=True, exist_ok=True)
    # Record the classes a run loads into a class-data archive: every later
    # JVM maps them instead of loading them, which cuts its start by seconds.
    ARCHIVE.unlink(missing_ok=True)
    scratch = WORK / "cds"
    java(cp, ["--load-classes", "--work", str(scratch)], WORK / "cds.log", 600,
         [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    shutil.rmtree(scratch, ignore_errors=True)
    if not ARCHIVE.exists():
        log(f"no class-data archive (see {WORK / 'cds.log'}); runs start without it")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def java(cp, args, logfile, timeout, flags=None):
    """Runs a JVM; its stdout is ours, its stderr goes to `logfile`."""
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
    # a fixed, pre-touched heap, so neither heap growth nor first-touch page
    # faults land in timed operations; six JIT compiler threads instead of
    # three, so Spark's planner reaches compiled code seconds sooner; JVM log
    # lines go to stderr
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:CICompilerCount=6",
            "-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={WORK / 'tmp'}", "-Dfile.encoding=UTF-8"]
           + flags + ADD_OPENS + ["-cp", cp, "valbench.Run"] + args)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    with open(logfile, "w") as err:
        proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=err)
        try:
            return proc.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"timed out after {timeout:.0f} s; see {logfile}")
            return 124


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not LIB_SRC.is_dir():
        sys.exit(f"library sources not found at {LIB_SRC}; run from a full checkout")
    cp = build()
    t_built = time.monotonic()
    logs = WORK / "logs"
    logs.mkdir(parents=True, exist_ok=True)

    # inputs are cached per seed; keep the most recently used few
    data = WORK / "data"
    keep = f"s{a.seed}"
    if data.exists():
        for d in data.glob(f"g*-{keep}"):
            d.touch()
        for d in sorted(data.iterdir(), key=lambda d: d.stat().st_mtime)[:-CACHED_SEEDS]:
            shutil.rmtree(d, ignore_errors=True)
    rc = java(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--work", str(WORK)],
              logs / f"{a.workload}-s{a.seed}-t{a.trace}.log",
              RUN_LIMIT_S - (time.monotonic() - t_built))
    if rc != 0:
        sys.exit(f"run failed (exit {rc}); see {logs}")
    log(f"done in {time.monotonic() - t0:.1f} s")


if __name__ == "__main__":
    main()
