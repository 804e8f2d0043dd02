"""Layer diff of two Bench sidecars.

    python3 tools/diffbench.py A.json B.json [query ...]

Each argument is a Bench telemetry sidecar (tools/bench_telemetry_<sf>.json,
or the path SPARK_GRAFT_TELEMETRY named). For every query in both runs (or
only the named ones) it takes each run's fastest pass and prints its seconds
and that pass's layer split: Catalyst ms, jobs, driver gaps, task time, task
deserialization (deser_ms wall, deser_cpu_ms CPU; task time leaves it out),
GC, spill, shuffle, completed stages and tasks, and for streaming replay rungs
the progress sums and batch count. Columns are A, B and B - A. A query one
run failed or never ran is listed as missing.
"""
import json
import sys


def fmt(x):
    if x is None:
        return "-"
    if isinstance(x, int):
        return str(x)
    return f"{x:.4g}"


def fastest(run, query):
    """(seconds, split) of the query's fastest pass, or None."""
    passes = run["passes"].get(query)
    if not passes:
        return None
    splits = run.get("splits", {}).get(query) or [{}] * len(passes)
    sec, split = min(zip((p[0] for p in passes), splits), key=lambda t: t[0])
    return sec, split


def fields(split):
    """Flat {field: value} of a split's totals and streaming sums."""
    out = {k: v for k, v in split.items() if not isinstance(v, (list, dict))}
    out.update({"stream." + k: v for k, v in split.get("stream", {}).items()})
    return out


def main(a_path, b_path, names):
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    print(f"A = {a_path} ({a['sf']}, {a['cpus']} cpus)   B = {b_path} ({b['sf']}, {b['cpus']} cpus)")
    queries = names or sorted(set(a["passes"]) | set(b["passes"]))
    for q in queries:
        fa, fb = fastest(a, q), fastest(b, q)
        if fa is None or fb is None:
            where = " and ".join(n for n, f in (("A", fa), ("B", fb)) if f is None)
            print(f"\n{q}: missing in {where}")
            continue
        print(f"\n{q}")
        print(f"  {'field':28s} {'A':>12s} {'B':>12s} {'B-A':>12s}")
        rows = [("sec", fa[0], fb[0])]
        ka, kb = fields(fa[1]), fields(fb[1])
        rows += [(k, ka.get(k), kb.get(k)) for k in list(ka) + [k for k in kb if k not in ka]]
        for k, va, vb in rows:
            d = None if va is None or vb is None else vb - va
            print(f"  {k:28s} {fmt(va):>12s} {fmt(vb):>12s} {fmt(d):>12s}")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
