#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the engine (`src/main/scala` of the checkout) together with the
harness (`perfbench/src`) using the Scala compiler that ships in Spark's jar
directory, into `.bench_build/build-<digest>/classes`. The digest covers
every source file, so an unchanged checkout reuses its build; builds of
other source versions stay until `.bench_build` is removed.

    python3 perfbench/build.py          # build (or reuse) and print the dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
COMPILE_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"engine sources missing: {main.relative_to(ROOT)} "
                         "(run from a full checkout)")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no sources to compile")
    return files


def resources() -> list:
    res = ROOT / "src" / "main" / "resources"
    return sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []


def build() -> Path:
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files + resources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    target = OUT / f"build-{digest.hexdigest()[:16]}"
    classes = target / "classes"
    if (target / "ok").is_file():
        return classes
    shutil.rmtree(target, ignore_errors=True)  # an interrupted build
    classes.mkdir(parents=True)
    argfile = target / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", str(classes), f"@{argfile}"]
    try:
        done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile exceeded {COMPILE_TIMEOUT_S} s")
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:] + done.stderr[-4000:])
        raise BuildError(f"compile failed with exit code {done.returncode}")
    res_root = ROOT / "src" / "main" / "resources"
    for r in resources():
        dest = classes / r.relative_to(res_root)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dest)
    (target / "ok").write_text("ok\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
