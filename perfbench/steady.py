"""Steadiness check: run each workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the quartile spread as a
share of the median, beside the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workload term_bulk] [--label a]

Quartiles are Python's statistics.quantiles(values, n=4). Each run's result
and host context are kept in .bench_out/steady-<label>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--label", default="run")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for w in workloads:
        for s in seeds(a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            side = json.loads((ROOT / ".bench_out" / f"{w}-s{s}-t0.json").read_text())
            runs.append({"workload": w, "seed": s, "result": res, "host": side["host"],
                         "samples": side["samples"]})
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']} "
                  f"stall={side['host']['cpu_stall_share']:.3f} "
                  f"steal={side['host'].get('cpu_steal_share', -1):.3f} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr)
    out = ROOT / ".bench_out" / f"steady-{a.label}.json"
    out.write_text(json.dumps(runs, indent=1))
    print(f"{'workload':16s} {'metric':20s} {'n':>3s} {'median':>10s} {'q1':>10s} "
          f"{'q3':>10s} {'iqr/med':>8s} {'bound':>6s}")
    for w in workloads:
        rs = [r for r in runs if r["workload"] == w]
        for m in bounds:
            xs = [r["result"]["metrics"][m]["value"] for r in rs]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"{w:16s} {m:20s} {len(xs):3d} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                  f"{(q3 - q1) / med:8.3f} {bounds[m]:6.2f}")


if __name__ == "__main__":
    main()
