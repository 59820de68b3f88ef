#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together with
the benchmark's own Scala sources (perfbench/src) into one jar, with the
Scala compiler and Spark jars that ship in $SPARK_HOME/jars, then records a
JVM class-data archive from a short training run so that every benchmark
JVM starts faster. The archive only shortens class loading; without it
(training failed) runs are slower to start but otherwise the same.

The output goes to .perfbench/build/<hash of every source file>/, so a
checkout builds once and any edit to a source triggers a fresh build.

Usage: python3 perfbench/build.py        (prints the build directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main", ROOT / "perfbench" / "src"]
BUILD_DIR = ROOT / ".perfbench" / "build"
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark distribution's jars."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += sorted(d.rglob("*.scala"))
    return files


def jvm_command(build_dir, work, main_args, cds_flag=None):
    """The benchmark JVM's command line. Training and runs must share it
    exactly (same flags, same class path) for the archive to apply."""
    archive = Path(build_dir) / "app.jsa"
    if cds_flag is None:
        cds_flag = f"-XX:SharedArchiveFile={archive}" if archive.exists() else "-Xshare:auto"
    return ([java(), cds_flag] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
            + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={Path(work) / 'tmp'}",
               f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
               "-cp", f"{Path(build_dir) / 'perfbench.jar'}{os.pathsep}{spark_jars() / '*'}",
               "perfbench.Main"] + main_args)


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())


def _train(build_dir):
    work = Path(build_dir) / "train"
    (work / "tmp").mkdir(parents=True)
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = jvm_command(build_dir, work, ["train", str(work), cpus],
                      cds_flag=f"-XX:ArchiveClassesAtExit={Path(build_dir) / 'app.jsa'}")
    try:
        ok = subprocess.run(cmd, stdout=sys.stderr, cwd=work, timeout=600).returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        (Path(build_dir) / "app.jsa").unlink(missing_ok=True)
        print("[perfbench] class-data training failed; runs start without it", file=sys.stderr)


def build_dir():
    """Build if this exact source tree has not been built yet; return the
    build directory (perfbench.jar, and app.jsa when training succeeded)."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise BuildError(f"engine sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    out = BUILD_DIR / digest.hexdigest()[:16]
    if (out / "ok").exists():
        return out

    tmp = BUILD_DIR / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    jars = spark_jars()
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp / "classes"), "-classpath", cp] + [str(p) for p in srcs]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("scala compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    _jar(out / "classes", out / "perfbench.jar")
    shutil.rmtree(out / "classes")
    _train(out)
    (out / "ok").write_text("built\n")
    for old in BUILD_DIR.iterdir():  # earlier source trees' builds
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build_dir())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
