#!/usr/bin/env python3
"""Build the benchmark: the repository's `src/main/scala` plus this
directory's `src/main/scala`, compiled in one Scala compiler run against
the Spark distribution's jars (which bundle the Scala 2.13 compiler).

    python3 perfbench/build.py          # build (reused while sources are unchanged)
    python3 perfbench/build.py --test   # build, then run the benchmark's own tests
                                        # (SelfTest.scala and test_qmix.py)

Outputs go under `.bench_build/` at the repository root.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_DIR = ROOT / ".bench_build"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and no JAVA_HOME")
    return found


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with an installed pyspark."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark
        jars = Path(pyspark.__file__).parent / "jars"
        if jars.is_dir():
            return jars
    except ImportError:
        pass
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources(*dirs: Path) -> list:
    out = []
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d}")
        out += sorted(d.rglob("*.scala"))
    return out


def scalac(srcs: list, out: Path, classpath: list) -> None:
    """Compile `srcs` into a fresh `out` (written to a temporary sibling
    first, so an interrupted build never leaves a half-filled directory)."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(out.name + ".args")
    argfile.write_text("\n".join(f'"{s}"' for s in srcs) + "\n")
    cp = os.pathsep.join(str(c) for c in classpath)
    cmd = [java(), "-Xmx2g", "-Xss16m", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-classpath", cp,
           "-d", str(tmp), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def digest(paths: list) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build() -> Path:
    """Compile the program and the benchmark; returns the class directory."""
    srcs = sources(ROOT / "src" / "main" / "scala", BENCH_DIR / "src" / "main" / "scala")
    out = BUILD_DIR / f"classes-{digest(srcs)}"
    if not (out / "perfbench" / "Main.class").exists():
        scalac(srcs, out, [])
        for stale in BUILD_DIR.glob("*classes-*"):
            if stale != out and not stale.name.endswith(out.name):
                shutil.rmtree(stale, ignore_errors=True)
    return out


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(spark_jars() / "*")])


def test() -> int:
    """Compile and run the benchmark's own tests; returns the exit code."""
    classes = build()
    tsrcs = sources(BENCH_DIR / "src" / "test" / "scala")
    tout = BUILD_DIR / f"test-classes-{digest(tsrcs)}-{classes.name}"
    if not tout.exists():
        scalac(tsrcs, tout, [classes])
    work = BUILD_DIR / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = [java(), "-Xmx1g", *ADD_OPENS, f"-Djava.io.tmpdir={work}",
           "-cp", os.pathsep.join([str(tout), classpath(classes)]),
           "perfbench.SelfTest", str(work)]
    rc = subprocess.run(cmd).returncode
    shutil.rmtree(work, ignore_errors=True)
    py = subprocess.run([sys.executable, str(BENCH_DIR / "test_qmix.py")]).returncode
    return rc or py


if __name__ == "__main__":
    try:
        if "--test" in sys.argv[1:]:
            sys.exit(test())
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
