#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) and the benchmark harness (`perfbench/harness`) into
two jars with the Scala compiler that ships in Spark's jar directory,
then records a class-data-sharing archive of one set-up-only harness run,
so each benchmark JVM maps the classes its set-up loads instead of
parsing them again. Engine classes are not loaded during that run, so
they still load cold in every measured pass.

Outputs go to `$CARGO_TARGET_DIR` (default `.bench_build`) under names
keyed by a hash of every input source, so an unchanged tree is not
rebuilt. Run it directly to build, or let `run.py` call it.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SRC = ROOT / "src" / "main" / "scala"
HARNESS = HERE / "harness"


def target_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> list:
    """The jars the engine's own build compiles against: the directory
    `build.sbt` names as `unmanagedBase`, else `$SPARK_HOME/jars`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    home = os.environ.get("SPARK_HOME")
    jar_dir = Path(m.group(1)) if m else Path(home) / "jars" if home else None
    jars = sorted(jar_dir.glob("*.jar")) if jar_dir else []
    if not jars:
        raise RuntimeError(f"no Spark jars in {jar_dir} (build.sbt unmanagedBase or SPARK_HOME)")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources(d: Path) -> list:
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(jar: Path, classpath: list, files: list) -> None:
    """Compile `files` and pack the classes into `jar`."""
    tmp = jar.with_suffix(f".{os.getpid()}.classes")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = jar.with_suffix(f".{os.getpid()}.args")
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cp = os.pathsep.join(str(p) for p in classpath)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{args_file}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    args_file.unlink()
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise RuntimeError(f"scalac failed for {jar.name}")
    part = jar.with_suffix(f".{os.getpid()}.part")
    with zipfile.ZipFile(part, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    part.rename(jar)


def archive(jsa: Path, classpath: list, opts: list) -> None:
    """Record the CDS archive of a set-up-only harness run (no queries)."""
    work = jsa.with_suffix(f".{os.getpid()}.work")
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    part = jsa.with_suffix(f".{os.getpid()}.part")
    cmd = [java(), f"-XX:ArchiveClassesAtExit={part}", f"-Djava.io.tmpdir={work / 'tmp'}",
           *opts, "-cp", os.pathsep.join(str(p) for p in classpath), "graftbench.Harness",
           "--data", str(HERE / "data" / "sf0.001"), "--work", str(work),
           "--out", str(work / "out.json"), "--trace", "0", "--cores", "4",
           "--launch-us", "0", "--queries", ""]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not part.exists():
        sys.stderr.write(r.stdout[-8000:])
        raise RuntimeError("class-data archive run failed")
    part.rename(jsa)


def build(opts: list) -> tuple:
    """Build what is missing. Returns the run-time classpath and the JVM
    flag that maps the class-data archive; `opts` are the JVM options the
    measured passes use, so the archive is recorded under the same ones."""
    prog = sources(SRC)
    harness = sources(HARNESS)
    if not prog:
        raise RuntimeError(f"no engine sources under {SRC}")
    if not harness:
        raise RuntimeError(f"no harness sources under {HARNESS}")
    jars = spark_jars()
    tgt = target_dir()
    tgt.mkdir(parents=True, exist_ok=True)
    key = digest(prog + harness)
    engine = tgt / f"engine-{digest(prog)}.jar"
    harness_jar = tgt / f"harness-{key}.jar"
    jsa = tgt / f"setup-{key}.jsa"
    if not engine.exists():
        scalac(engine, jars, prog)
    if not harness_jar.exists():
        scalac(harness_jar, jars + [engine], harness)
    classpath = jars + [engine, harness_jar]
    if not jsa.exists():
        archive(jsa, classpath, opts)
    return classpath, f"-XX:SharedArchiveFile={jsa}"


if __name__ == "__main__":
    try:
        import run
        build(run.JAVA_OPTS)
    except Exception as e:  # noqa: BLE001 - report any build failure as exit 2
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
