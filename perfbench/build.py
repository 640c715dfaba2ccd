"""Build file of the benchmark.

Compiles the repository's main Scala sources together with the benchmark's
own sources (perfbench/src) into <build dir>/classes, using the Scala
compiler that ships in the Spark distribution's jars directory: the one the
repository's build.sbt compiles against (its `unmanagedBase`), or
$SPARK_HOME/jars when SPARK_HOME is set. A build is reused until a source
file or the jar set changes.

    python3 perfbench/build.py [BUILD_DIR]      # default: .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SRC_DIRS = [ROOT / "src" / "main" / "scala", HERE / "src"]
COMPILER_JARS = ("scala-compiler-", "scala-library-", "scala-reflect-")


def jars_dir():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if not m:
        sys.exit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return Path(m.group(1))


def spark_jars():
    d = jars_dir()
    jars = sorted(d.glob("*.jar"))
    if not jars:
        sys.exit(f"build: no jars under {d}")
    return jars


def sources():
    missing = [str(d) for d in SRC_DIRS if not d.is_dir()]
    if missing:
        sys.exit(f"build: source directory missing: {', '.join(missing)}")
    return sorted(p for d in SRC_DIRS for p in d.rglob("*.scala"))


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def build(build_dir):
    """Returns the classes directory, compiling first when it is stale."""
    jars, srcs = spark_jars(), sources()
    out = build_dir / "classes"
    want = stamp(srcs, jars)
    done = out / ".stamp"
    if done.is_file() and done.read_text() == want:
        return out
    tmp = build_dir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    compiler = [str(j) for j in jars if j.name.startswith(COMPILER_JARS)]
    print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}",
         "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn",
         "-d", str(tmp), "-classpath", os.pathsep.join(str(j) for j in jars),
         f"@{argfile}"],
        check=True, stdout=sys.stderr)
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def build_dir_from(arg=None):
    d = Path(arg or os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    d = d if d.is_absolute() else ROOT / d
    d.mkdir(parents=True, exist_ok=True)
    return d


if __name__ == "__main__":
    print(build(build_dir_from(sys.argv[1] if len(sys.argv) > 1 else None)))
