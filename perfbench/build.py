"""Build file of the benchmark: compiles the program's sources
(src/main/scala) and the harness (perfbench/src) with the Scala compiler that
ships in Spark's jar directory, into .bench_build/perfbench/classes.

A stamp of every source file's path and content skips the compile when
nothing changed. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark jar directory with a Scala compiler: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found under {main.relative_to(ROOT)}")
    srcs = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    return srcs


def build(log=sys.stderr):
    """Compile if the sources changed; return (classes dir, source digest)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    classes, stamp = OUT / "classes", OUT / "stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes, digest
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"[perfbench] compiling {len(srcs)} Scala sources", file=log, flush=True)
    cp = f"{jars}/*"
    args = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
            "-d", str(tmp), "-classpath", cp] + [str(p) for p in srcs]
    r = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
