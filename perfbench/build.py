"""Build file of the gradebook benchmark.

Compiles the program (src/main/scala + src/main/resources) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into two jars in .bench_build/perfbench. A stamp of every input's
contents makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = Path(__file__).resolve().parent / "src"
# class-data archive of the classes a run loads, written by run.py's first run
ARCHIVE = OUT / "classes.jsa"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if any(c.glob("spark-sql_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources(d: Path, suffix: str):
    return sorted(p for p in d.rglob("*") if p.is_file() and p.name.endswith(suffix))


def stamp(jars: Path, files) -> str:
    h = hashlib.sha256(str(jars).encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def scalac(jars: Path, classpath, dest: Path, files) -> None:
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    argfile = dest.parent / (dest.name + ".args")
    cp = ":".join([str(c) for c in classpath] + [str(j) for j in sorted(jars.glob("*.jar"))])
    argfile.write_text("\n".join(["-nowarn", "-d", str(dest), "-classpath", cp]
                                 + [str(f) for f in files]) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {dest.name}:\n{r.stdout[-4000:]}")


def build() -> Path:
    """Compile if needed; return the build directory."""
    prog = sources(PROGRAM_SRC, ".scala") if PROGRAM_SRC.is_dir() else []
    if not prog:
        raise BuildError(f"no program sources under {PROGRAM_SRC.relative_to(ROOT)}")
    res = sources(PROGRAM_RES, "") if PROGRAM_RES.is_dir() else []
    bench = sources(BENCH_SRC, ".scala")
    jars = spark_jars()
    want = stamp(jars, prog + res + bench + [Path(__file__).resolve()])
    stamp_file = OUT / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return OUT
    OUT.mkdir(parents=True, exist_ok=True)
    if stamp_file.exists():
        stamp_file.unlink()
    print("perfbench: compiling the program", file=sys.stderr)
    scalac(jars, [], OUT / "program", prog)
    for r in res:
        dst = OUT / "program" / r.relative_to(PROGRAM_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    print("perfbench: compiling the benchmark", file=sys.stderr)
    scalac(jars, [OUT / "program"], OUT / "bench", bench)
    # jars, not class directories: the JVM's class-data archive (see run.py)
    # covers only classes loaded from jars
    for name in ("program", "bench"):
        shutil.make_archive(str(OUT / name), "zip", root_dir=OUT / name)
        (OUT / f"{name}.zip").replace(OUT / f"{name}.jar")
        shutil.rmtree(OUT / name)
    ARCHIVE.unlink(missing_ok=True)
    stamp_file.write_text(want)
    return OUT


def classpath(jars: Path) -> str:
    return f"{OUT / 'program.jar'}:{OUT / 'bench.jar'}:{jars / '*'}"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
