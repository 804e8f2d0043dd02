"""Layer-by-layer diff of two traced runs.

    python3 perfbench/diff.py .bench_out/regrade_trickle-s1-t1.json other.json

Each argument is a traced run's sidecar (run.py --trace 1 writes it to
.bench_out/<workload>-s<seed>-t1.json). For every per-layer metric it prints
A, B, B - A and B / A; for each ratio it also prints the two counts the ratio
is made of, so a change in a share can be read against its base. Self times
per span name are recomputed from the recorded spans and diffed too; the
sink's spans run on the stream's thread, so `op.land`'s self time is the
landing's wait for the stream.
"""
import json
import sys
from collections import defaultdict

# ratio metric -> (numerator, denominator) it is computed from
BASES = {
    "ingest.kept_share": ("ingest.rows_kept", "ingest.rows_in"),
    "upsert.rewrite_per_changed_row": ("upsert.rows_rewritten", "ingest.rows_kept"),
}


def self_ms(spans):
    """Self time per span name: duration minus the part its children cover."""
    kids = defaultdict(list)
    for sid, parent, name, op, start, end in spans:
        kids[parent].append((start, end))
    out = defaultdict(float)
    for sid, parent, name, op, start, end in spans:
        covered, hi = 0, start
        for a, b in sorted(kids.get(sid, [])):
            a, b = max(a, hi), min(b, end)
            if b > a:
                covered += b - a
                hi = b
        out[name] += (end - start - covered) / 1e6
    return out


def fmt(x):
    if x is None:
        return "-"
    return f"{x:.4g}"


def main(a_path, b_path):
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    for d, p in ((a, a_path), (b, b_path)):
        if not d.get("trace"):
            sys.exit(f"{p} is not a traced run")
    print(f"A = {a['workload']} seed {a['seed']}   B = {b['workload']} seed {b['seed']}")
    la, lb = a["per_layer"], b["per_layer"]
    print(f"{'metric':44s} {'A':>12s} {'B':>12s} {'B-A':>12s} {'B/A':>8s}  unit")
    for name in sorted(set(la) | set(lb)):
        va = la.get(name, {}).get("value")
        vb = lb.get(name, {}).get("value")
        unit = (la.get(name) or lb.get(name))["unit"]
        d = None if va is None or vb is None else vb - va
        r = None if not va or vb is None else vb / va
        print(f"{name:44s} {fmt(va):>12s} {fmt(vb):>12s} {fmt(d):>12s} {fmt(r):>8s}  {unit}")
        num, den = BASES.get(name, (None, None))
        if den:
            print(f"{'  base ' + num + ' / ' + den:44s} "
                  f"{fmt(la.get(num, {}).get('value')) + '/' + fmt(la.get(den, {}).get('value')):>12s} "
                  f"{fmt(lb.get(num, {}).get('value')) + '/' + fmt(lb.get(den, {}).get('value')):>12s}")
    sa, sb = self_ms(a.get("spans", [])), self_ms(b.get("spans", []))
    print(f"\n{'span self time (ms, whole traced run)':44s} {'A':>12s} {'B':>12s} {'B-A':>12s}")
    for name in sorted(set(sa) | set(sb)):
        va, vb = sa.get(name, 0.0), sb.get(name, 0.0)
        print(f"{name:44s} {fmt(va):>12s} {fmt(vb):>12s} {fmt(vb - va):>12s}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
