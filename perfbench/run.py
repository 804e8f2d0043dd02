"""Gradebook-to-answer benchmark: one run of one workload.

    python3 perfbench/run.py --workload term_bulk --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
writes a class-data archive once per build, then runs one JVM with a fixed
heap and Spark local[<cores>]. The last line of stdout is the result JSON;
the run's sidecar (samples and their counts, host context, per-layer
detail, spans) is written to .bench_out/<workload>-s<seed>-t<trace>.json
and its JVM log beside it.
"""
import argparse
import json
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("term_bulk", "regrade_trickle")
# The JVM's heap is fixed here, not taken from the host, so peak RSS and GC
# time compare across hosts.
HEAP = "1g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def launch(jvm, results: Path, name: str, args):
    """Run perfbench.Main in a fresh work directory; the sidecar and the JVM
    log go to results/<name>.json and .log. Returns (exit code or None on
    timeout, stdout)."""
    # a fixed name: the watched folder's path is part of the stream's offsets
    work = results / f"work-{name}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (jvm + [f"-Djava.io.tmpdir={work / 'tmp'}", "perfbench.Main"] + args
           + ["--work", str(work), "--out", str(results / f"{name}.json")])
    with open(results / f"{name}.log", "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            return p.returncode, out
        except subprocess.TimeoutExpired:
            return None, ""
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    results = build.ROOT / ".bench_out"
    jvm = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            # the serial collector: no parallel or concurrent GC threads
            # beside Spark's task threads
            "-XX:+UseSerialGC",
            # every heap page touched at start, so the resident set does not
            # depend on when the collector first reaches a page
            "-XX:+AlwaysPreTouch",
            # C1 only: with C2 the JIT keeps recompiling for the first minute
            # and per-operation times fell 2-3x across a 20 s window. A 50th
            # of the usual compile thresholds lets the warm-up compile the
            # query and merge paths, which otherwise kept getting cheaper
            # through the window.
            "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.02",
            "-XX:ReservedCodeCacheSize=256m", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(jars)])
    # a terminated launcher still stops and reaps its JVM (see launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not build.ARCHIVE.exists():
        # once per build: a run of the setup alone (no rounds) that dumps
        # the loaded classes into a class-data archive; later runs map it
        # and start ~8 s sooner. The
        # dump goes to a side name, so a failed or killed run leaves no
        # partial archive behind.
        print("perfbench: writing the class-data archive", file=sys.stderr)
        dump = build.ARCHIVE.with_name("classes-dump.jsa")
        dump.unlink(missing_ok=True)
        code, _ = launch(jvm + [f"-XX:ArchiveClassesAtExit={dump}"], results, "archive",
                         ["--workload", "regrade_trickle", "--seed", "0", "--seconds", "0",
                          "--trace", "0"])
        if code == 0 and dump.exists():
            dump.replace(build.ARCHIVE)
        else:
            dump.unlink(missing_ok=True)
            print(f"perfbench: the class-data archive run failed (exit {code}); "
                  "this run starts without it", file=sys.stderr)
    archive = build.ARCHIVE.exists()
    if archive:
        jvm += [f"-XX:SharedArchiveFile={build.ARCHIVE}"]

    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    code, stdout = launch(jvm, results, name,
                          ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)])
    log = results / f"{name}.log"
    if code is None:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s; see {log}", file=sys.stderr)
        return 1
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if code != 0 or not isinstance(result, dict):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        print(f"perfbench: run failed (exit {code}); see {log}", file=sys.stderr)
        return 1
    # whether the run mapped the archive explains a setup_s outlier
    sidecar = results / f"{name}.json"
    side = json.loads(sidecar.read_text())
    side["class_data_archive"] = archive
    sidecar.write_text(json.dumps(side))
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
