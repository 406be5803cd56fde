#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (kgbench/src/main/scala) using the Scala compiler that ships
in the Spark distribution, into .bench_build/kgbench/classes. A build is
skipped when no source changed since the last one.

    python3 kgbench/build.py          # build
    python3 kgbench/build.py test     # build, then run the benchmark's unit tests
    python3 kgbench/build.py floors   # build, then re-record floors.json
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "kgbench"
OUT = ROOT / ".bench_build" / "kgbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    if exe and exe.exists():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("no java found")
    return found


def sources(*dirs: Path) -> list:
    out = []
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
        out += sorted(d.rglob("*.scala"))
    return out


def _compile(srcs: list, classpath: str, dest: Path) -> None:
    digest = hashlib.sha256(classpath.encode())
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = dest.with_suffix(".stamp")
    if dest.is_dir() and stamp.exists() and stamp.read_text() == digest.hexdigest():
        return
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    argfile = dest.with_suffix(".args")
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(dest),
           "-classpath", classpath, "@" + str(argfile)]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    stamp.write_text(digest.hexdigest())


def build() -> str:
    """Builds if stale; returns the runtime classpath."""
    jars = str(spark_jars() / "*")
    classes = OUT / "classes"
    _compile(sources(PROGRAM_SRC, BENCH / "src" / "main" / "scala"), jars, classes)
    if not PROGRAM_RES.is_dir():
        raise BuildError("missing src/main/resources")
    return os.pathsep.join([str(classes), str(PROGRAM_RES), jars])


def test() -> int:
    cp = build()
    tests = OUT / "test-classes"
    _compile(sources(BENCH / "src" / "test" / "scala"), cp, tests)
    return subprocess.run([java(), *JVM_OPENS, "-Xmx1g",
                           "-cp", os.pathsep.join([str(tests), cp]),
                           "kgbench.SelfTest"], cwd=ROOT).returncode


def floors() -> int:
    """Records the program's P/R on every crawl the benchmark generates."""
    cp = build()
    return subprocess.run([java(), *JVM_OPENS, "-Xmx3g", "-cp", cp, "kgbench.Floors",
                           str(BENCH / "floors.json")], cwd=ROOT).returncode


# what spark-submit adds on JDK 17 (JavaModuleOptions) when a Spark session
# is created in a plain JVM
JVM_OPENS = [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for opt in ("--add-opens", pkg + "=ALL-UNNAMED")]


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(test())
        if sys.argv[1:] == ["floors"]:
            sys.exit(floors())
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
