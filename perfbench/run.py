#!/usr/bin/env python3
"""graft benchmark entry point.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds graft from `src/main/scala` together with the benchmark's own
sources under `perfbench/scala` (plain scalac from the Spark
distribution's jars, no sbt), once per source state, then runs one
workload in a fresh JVM. The last line of standard output is the result
object; everything the run leaves goes under the checkout: classes in
`$CARGO_TARGET_DIR` (default `.bench_build`), scratch data in
`.bench_work`, records, span files and per-layer tables in `.bench_out`.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
WORKLOADS = ("lake_ingest", "corpus_curate", "index_serve")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# a fixed-size heap: a growing one made curate runs vary by +-20 %
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("spark-sql_*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root):
    graft = root / "src" / "main" / "scala"
    if not graft.is_dir():
        fail(f"graft sources not found under {graft}")
    files = sorted(graft.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))
    if not files:
        fail("no sources to build")
    return files


def build(root, jars):
    """Compile once per source state; returns the classes directory."""
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "graftbench"
    classes, stamp_file = out / "classes", out / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}", "-Xss16m", "-Xmx2g",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(classes), f"@{argfile}"]
    print(f"perfbench: building {len(files)} sources", file=sys.stderr)
    code = run(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0:
        fail(f"build failed (exit {code})")
    stamp_file.write_text(stamp)
    return classes


def run(cmd, timeout, stdout=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, stdout=stdout, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own logic tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    # a terminated runner takes its JVM down with it (see run())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    jars = spark_jars()
    classes = build(root, jars)
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = root / ".bench_work" / f"{tag}-{os.getpid()}"
    work.mkdir(parents=True)
    out = root / ".bench_out"
    out.mkdir(exist_ok=True)
    jvm = ["java", *OPENS, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           "-Dspark.ui.enabled=false", f"-Dspark.local.dir={work / 'spark'}",
           "-cp", f"{classes}:{jars}/*"]
    (work / "tmp").mkdir()
    if a.selftest:
        args = ["graftbench.SelfTest"]
    else:
        args = ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--out", str(out), "--work", str(work)]
    try:
        code = run(jvm + args, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
