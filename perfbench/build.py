"""Build the benchmark: compile the library sources (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into <build root>/perfbench/perfbench.jar.

The build root is $CARGO_TARGET_DIR when set (relative paths are taken from
the checkout root), else .bench_build. A content hash of every source skips
the compile when nothing changed.

    python3 perfbench/build.py        # prints the classpath to run with
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
LIB_SRC = ROOT / "src" / "main" / "scala"


class BuildError(Exception):
    pass


def build_root() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("cannot find Spark's jars: set SPARK_HOME")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    return "java"


def sources() -> list:
    if not LIB_SRC.is_dir():
        raise BuildError(f"library sources not found at {LIB_SRC}; "
                         "run from a checkout of the repository")
    lib = sorted(LIB_SRC.rglob("*.scala")) + sorted(LIB_SRC.rglob("*.java"))
    own = sorted((BENCH / "src").glob("*.scala"))
    if not lib or not own:
        raise BuildError("no sources to compile")
    return lib + own


def build() -> str:
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    jar_list = sorted(jars.glob("*.jar"))
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jar_list:
        h.update(j.name.encode())
    stamp = h.hexdigest()

    out = build_root() / "perfbench"
    jar = out / "perfbench.jar"
    stamp_file = out / "perfbench.stamp"
    cp = os.pathsep.join([str(jar)] + [str(j) for j in jar_list])
    if stamp_file.is_file() and stamp_file.read_text() == stamp and jar.is_file():
        return cp

    compiler = [j for j in jar_list
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.", j.name)]
    if len(compiler) != 3:
        raise BuildError(f"Scala 2.13 compiler jars not found in {jars}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True)
    args = out / "scalac.args"
    args.write_text("\n".join(
        ["-d", str(tmp), "-nowarn", "-classpath",
         os.pathsep.join(str(j) for j in jar_list)] + [str(s) for s in srcs]) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run([java(), "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={out / 'tmp'}",
                        "-XX:-UsePerfData", "-cp",
                        os.pathsep.join(str(j) for j in compiler),
                        "scala.tools.nsc.Main", f"@{args}"],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    # a jar, not a class directory: the JVM's class-data archive (run.py)
    # only covers classes loaded from jars
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(tmp.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    for old in out.glob("*.jsa"):
        old.unlink()  # archives of the previous jar no longer apply
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
