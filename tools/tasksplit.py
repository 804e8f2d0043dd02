"""Per-stage task cost from a Spark event log.

    python3 tools/tasksplit.py EVENTLOG [--from ISO --seconds S]

EVENTLOG is an uncompressed event log: one file, or a rolling log's
directory (eventlog_v2_<app>/, whose events_<n>_<app> files are read in
order). For each stage that ran tasks it prints the task count, the summed
deserialize CPU (the time each task spends reading in its closure before
it runs), the summed executor CPU and the summed GC time, then the totals.
Executor CPU and Spark's task time leave deserialization out, so a stage
whose tasks carry a large closure shows its cost only in the second column.

--from and --seconds keep only the tasks launched in that window; --from is
an ISO-8601 instant such as a streaming batch's trigger_start
("2026-10-19T12:17:41.187Z").

To record an event log of any JVM that builds its session from SparkConf
defaults (perfbench/run.py, the graft mains), set in its environment:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:DIR"
"""
import argparse
import datetime
import json
import re
from collections import defaultdict
from pathlib import Path


def event_files(path):
    p = Path(path)
    if not p.is_dir():
        return [p]
    files = [f for f in p.iterdir() if re.match(r"events_\d+_", f.name)]
    return sorted(files, key=lambda f: int(f.name.split("_")[1]))


def epoch_ms(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("eventlog")
    ap.add_argument("--from", dest="start", help="ISO-8601 start of the window")
    ap.add_argument("--seconds", type=float, help="window length")
    a = ap.parse_args()
    if (a.start is None) != (a.seconds is None):
        ap.error("--from and --seconds go together")
    lo = epoch_ms(a.start) if a.start else None
    hi = lo + a.seconds * 1000 if lo is not None else None

    names = {}
    # stage id -> [tasks, deserialize CPU ns, executor CPU ns, GC ms]
    stages = defaultdict(lambda: [0, 0, 0, 0])
    for f in event_files(a.eventlog):
        with open(f) as fh:
            for line in fh:
                if '"SparkListenerStageSubmitted"' in line:
                    e = json.loads(line)
                    info = e["Stage Info"]
                    names[info["Stage ID"]] = info["Stage Name"]
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    launch = e["Task Info"]["Launch Time"]
                    m = e.get("Task Metrics")
                    if m is None or (lo is not None and not lo <= launch < hi):
                        continue
                    s = stages[e["Stage ID"]]
                    s[0] += 1
                    s[1] += m["Executor Deserialize CPU Time"]
                    s[2] += m["Executor CPU Time"]
                    s[3] += m["JVM GC Time"]

    print(f"{'stage':>6s} {'tasks':>6s} {'deser_cpu_s':>12s} {'exec_cpu_s':>11s} "
          f"{'gc_s':>7s}  name")
    tot = [0, 0, 0, 0]
    for sid in sorted(stages):
        s = stages[sid]
        tot = [t + x for t, x in zip(tot, s)]
        print(f"{sid:6d} {s[0]:6d} {s[1] / 1e9:12.3f} {s[2] / 1e9:11.3f} {s[3] / 1e3:7.3f}  "
              f"{names.get(sid, '?')[:60]}")
    print(f"{'total':>6s} {tot[0]:6d} {tot[1] / 1e9:12.3f} {tot[2] / 1e9:11.3f} "
          f"{tot[3] / 1e3:7.3f}  ({len(stages)} stages)")


if __name__ == "__main__":
    main()
