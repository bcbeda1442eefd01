"""Build file of the benchmark's JVM side.

Compiles the program (`src/main/scala`) together with the harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jars
(`$SPARK_HOME/jars`, else the jar directory the root build.sbt names as its
`unmanagedBase`) into `.bench_build/build-<source hash>/perfbench.jar`. A tree whose sources
hash the same reuses that jar, so only the first run in a checkout
compiles.

The first JVM run on a build also records a class-data-sharing archive
(`app.jsa`) of the classes it loaded; later runs map it instead of loading
Spark's classes one by one, which takes about 3 s off every session start.

    python3 perfbench/build.py        # build and print the jar
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME")
    return Path(m.group(1))


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"no program sources at {program.relative_to(ROOT)}")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def classpath(jar):
    return f"{spark_jars()}/*{os.pathsep}{jar}"


def cds_flags(jar):
    """Map the build's archive, or record one when this run exits."""
    archive = jar.parent / "app.jsa"
    if archive.exists():
        return [f"-XX:SharedArchiveFile={archive}"], None
    pending = jar.parent / f"app.jsa.tmp{os.getpid()}"
    return [f"-XX:ArchiveClassesAtExit={pending}", "-Xlog:cds=off"], pending


def keep_archive(pending):
    """Publish an archive the run recorded, once the JVM exited cleanly."""
    if pending is not None and pending.exists():
        pending.rename(pending.parent / "app.jsa")


def build():
    """Return (jar, source hash) for the current sources, compiling if needed."""
    files = sources()
    digest = source_hash(files)
    out = BUILD / f"build-{digest[:16]}"
    jar = out / "perfbench.jar"
    if jar.exists():
        return jar, digest
    if not list(spark_jars().glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {spark_jars()}")
    tmp = BUILD / f"tmp-{digest[:16]}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    args_file = tmp / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp / "classes"),
         f"@{args_file}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    # class-data sharing archives classes from jars only
    with zipfile.ZipFile(tmp / "perfbench.jar", "w") as z:
        for f in sorted((tmp / "classes").rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp / "classes").as_posix())
    shutil.rmtree(tmp / "classes")
    args_file.unlink()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in BUILD.glob("build-*"):  # builds of other source trees
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out / "perfbench.jar", digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
