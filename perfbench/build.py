#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources, the
in-JVM gs:// mock connector and the benchmark harness with scalac into
.bench_build/perfbench/classes, against the Spark jars the program's own
build uses (build.sbt: unmanagedBase). A stamp over every source file's
content skips the compile when nothing changed.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
OUT = Path(".bench_build") / "perfbench"


def sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    mock = root / "src" / "test" / "scala" / "graft" / "GsMockFileSystem.scala"
    bench = sorted((root / "perfbench" / "scala").rglob("*.scala"))
    if not main or not mock.is_file():
        raise FileNotFoundError(
            "program sources (src/main/scala, GsMockFileSystem.scala) not found "
            f"under {root}")
    return main + [mock] + bench


def jars():
    found = sorted(SPARK_JARS.glob("*.jar"))
    if not found:
        raise FileNotFoundError(f"no Spark jars under {SPARK_JARS}")
    return found


def classpath(root):
    """Runtime classpath: the compiled classes plus the Spark jars."""
    return os.pathsep.join([str((root / OUT / "classes").resolve())] +
                           [str(j) for j in jars()])


def ensure_built(root, log=sys.stderr):
    root = Path(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = root / OUT
    if (out / "stamp").is_file() and (out / "stamp").read_text() == stamp:
        return stamp
    compiler = [j for j in jars() if j.name.startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    fresh = out / "classes.tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p.resolve()) for p in srcs) + "\n")
    print(f"[build] compiling {len(srcs)} files", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(str(j) for j in jars()),
           "-d", str(fresh), f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise RuntimeError("scalac failed")
    shutil.rmtree(out / "classes", ignore_errors=True)
    fresh.rename(out / "classes")
    (out / "stamp").write_text(stamp)
    return stamp


if __name__ == "__main__":
    ensure_built(Path.cwd())
