"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py

Classes go to perfbench/.build/classes. A stamp over every source file skips
the compile when nothing changed.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(pathlib.Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(pathlib.Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("Spark jars with a Scala compiler not found; set SPARK_HOME")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    if exe and exe.exists():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("java not found; set JAVA_HOME")
    return found


def jvm_flags(tmp: pathlib.Path) -> list:
    """Flags every benchmark JVM gets: module opens, no perf-data file, and
    a temp dir inside the checkout."""
    flags = ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").glob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    return engine, bench


def _stamp(files, jars) -> str:
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _scalac(jars, classpath, out, files, tmp, log):
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", *jvm_flags(tmp), "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath,
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac failed ({r.returncode}) on {files[0].parent}")


def build(log=sys.stderr) -> pathlib.Path:
    """Compile if any source changed; returns the classes directory."""
    jars = spark_jars()
    engine, bench = sources()
    out = BUILD / "classes"
    stamp_file = BUILD / "stamp"
    stamp = _stamp(engine + bench, jars)
    if out.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    stamp_file.unlink(missing_ok=True)
    out.mkdir(parents=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    _scalac(jars, f"{jars}/*", out, engine, tmp, log)
    _scalac(jars, f"{out}:{jars}/*", out, bench, tmp, log)
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
