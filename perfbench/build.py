#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala` of the
checkout) together with the benchmark's own sources (`perfbench/src`) with
the Scala compiler that ships in Spark's jars directory.

Classes land in `<build dir>/perfbench-<hash>/classes`, where the hash covers
every source file, so a changed source triggers a fresh build and an
unchanged checkout reuses the last one. Run it alone with
`python3 perfbench/build.py`; run.py calls it before every run.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d).resolve()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not list(jars.glob("spark-sql_*.jar")):
        sys.exit("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home, "bin", "java") if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        sys.exit("java not found: set JAVA_HOME or put java on PATH")
    return str(exe)


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        sys.exit(f"engine sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    return engine + sorted((BENCH / "src").rglob("*.scala"))


def build():
    """Returns the classes directory, compiling first when sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    out = build_dir() / f"perfbench-{h.hexdigest()[:16]}"
    classes = out / "classes"
    if classes.is_dir():
        return classes
    staging = out / f"staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = out / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(spark_jars() / "*")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(staging), "@" + str(argfile)]
    print(f"building {len(srcs)} Scala sources into {classes}", file=sys.stderr)
    try:
        res = subprocess.run(cmd, stdout=sys.stderr)
        if res.returncode != 0:
            sys.exit(f"compilation failed with exit code {res.returncode}")
        staging.rename(classes)
        for old in build_dir().glob("perfbench-*"):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    finally:
        argfile.unlink(missing_ok=True)
        shutil.rmtree(staging, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
