#!/usr/bin/env python3
"""graft benchmark runner.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload catalog-ingest --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark classes from source (once per
source state, into $CARGO_TARGET_DIR or .bench_build), then runs one
workload in a fresh JVM and prints its result JSON as the last stdout
line. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("catalog-ingest", "catalog-churn", "analytics-mix")
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def program_sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        sys.exit(f"perfbench: program sources missing under {program}")
    return sorted(program.rglob("*.scala"))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def java_cmd(classpath, main_args, tmp):
    return ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m",
            *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(str(c) for c in classpath),
            "graftbench.Main", *main_args]


def run_checked(cmd, what, cwd, timeout):
    try:
        r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, timeout=timeout)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {what} timed out after {timeout} s")
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace"))
        sys.exit(f"perfbench: {what} failed with exit code {r.returncode}")
    return r


def compiled(name, srcs, classpath):
    """The classes directory for exactly these sources, compiled on first
    use. Outputs are keyed by a digest of the sources and never deleted,
    so builds of different source states can share one build directory."""
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    dest = out / f"{name}-{digest(srcs)}"
    if dest.is_dir():
        return dest
    log(f"compiling {len(srcs)} {name} sources into {dest.name}")
    tmp = Path(tempfile.mkdtemp(prefix=f".{dest.name}-", dir=out))
    try:
        argfile = tmp / "scalac.args"
        argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
        classes = tmp / "classes"
        classes.mkdir()
        run_checked(["java", "-Xss8m", "-Xmx2g",
                     "-cp", os.pathsep.join(str(c) for c in classpath),
                     "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                     "-d", str(classes), f"@{argfile}"],
                    f"compiling {name}", ROOT, 800)
        try:
            classes.rename(dest)
        except OSError:
            if not dest.is_dir():  # not a concurrent build of the same sources
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


def build(jars):
    """Compile the program, then the benchmark against it; returns the
    run's class path."""
    libs = f"{jars}/*"
    program = compiled("program", program_sources(), [libs])
    bench = compiled("graftbench", sorted((HERE / "src").rglob("*.scala")),
                     [libs, program])
    return [bench, program, libs]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", action="store_true",
                    help="rewrite expected/analytics.tsv from this run")
    a = ap.parse_args()

    jars = spark_jars()
    classpath = build(jars)
    out = build_dir()
    (out / "runs").mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="run-", dir=out / "runs"))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--config", str(HERE / "workloads.json"),
            "--metrics", str(ROOT / "BENCHMARK.json"),
            "--data", str(HERE / "data" / "sf0.1"),
            "--expected", str(HERE / "expected" / "analytics.tsv")]
    if a.record_hashes:
        args.append("--record-hashes")
    cmd = java_cmd(classpath, args, tmp)
    cmd.insert(1, f"-Dgraftbench.sidecar={out / 'trace'}")
    try:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
            return 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in stdout.decode(errors="replace").splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        log(f"no result line (exit code {proc.returncode})")
        return proc.returncode or 4
    print(lines[-1], flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
