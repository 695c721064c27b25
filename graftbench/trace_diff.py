#!/usr/bin/env python3
"""Compare two benchmark result files (written by graftbench/run.py).

Usage: python3 graftbench/trace_diff.py A.json B.json

Reports, per query, three things separately:
  counters     counts and byte totals (jobs, exchanges, shuffle MB, io.syscr,
               ...) whose value repeats exactly across the traced warm passes
               (2 and up) of each file, and that differ between A and B;
  unstable     counters that do not repeat exactly, either between the
               passes of one file or between two files built from identical
               sources (such as q43's shuffle bytes): their deltas are not
               evidence of a change;
  wall clock   median seconds per query over warm passes 2 and up, and the
               pass totals, with the ratio B/A.
A counter delta is a count, not a speed-up; wall-clock deltas on a shared
host need the repeated runs described in graftbench/README.md.
"""
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from run import unit_of  # noqa: E402


def is_counter(key):
    return unit_of(key) in ("count", "MB", "bytes")


def per_query(record):
    """{query: {'seconds': [...], 'trace': {key: [values over traced warm passes]}}}
    over warm passes 2 and up, the passes pass_s is taken from."""
    out = {}
    for p in record["passes"][2:]:
        for q in p["queries"]:
            e = out.setdefault(q["name"], {"seconds": [], "trace": {}})
            e["seconds"].append(q["seconds"])
            for k, v in q.get("trace", {}).items():
                e["trace"].setdefault(k, []).append(v)
    return out


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    a, b = (json.loads(Path(p).read_text()) for p in sys.argv[1:])
    qa, qb = per_query(a), per_query(b)
    names = sorted(set(qa) | set(qb))
    if not any(e["trace"] for e in list(qa.values()) + list(qb.values())):
        print("no per-layer counters in these files (run with --trace 1); wall clock only")

    same_code = a.get("build") is not None and a.get("build") == b.get("build")
    if same_code:
        print(f"A and B ran identical code ({a['build']}): every counter delta is listed as unstable")
    changed, unstable = [], []
    for name in names:
        ta, tb = qa.get(name, {}).get("trace", {}), qb.get(name, {}).get("trace", {})
        for key in sorted(set(ta) | set(tb)):
            if not is_counter(key):
                continue
            va, vb = ta.get(key, []), tb.get(key, [])
            steady_a, steady_b = len(set(va)) <= 1, len(set(vb)) <= 1
            if not (steady_a and steady_b) or (same_code and va[:1] != vb[:1]):
                unstable.append((name, key, va, vb))
            elif va and vb and va[0] != vb[0]:
                changed.append((name, key, va[0], vb[0]))

    print("== counters that repeat exactly within each file and differ between A and B ==")
    for name, key, x, y in changed:
        print(f"  {name:32s} {key:28s} {fmt(x):>12s} -> {fmt(y):<12s} delta {fmt(y - x)}")
    if not changed:
        print("  none")
    print("== unstable counters (differ between passes of one file; not evidence of a change) ==")
    for name, key, va, vb in unstable:
        print(f"  {name:32s} {key:28s} A={[fmt(v) for v in va]} B={[fmt(v) for v in vb]}")
    if not unstable:
        print("  none")

    print("== wall clock: median seconds over warm passes 2 and up ==")
    for name in names:
        sa, sb = qa.get(name, {}).get("seconds"), qb.get(name, {}).get("seconds")
        if sa and sb:
            ma, mb = statistics.median(sa), statistics.median(sb)
            print(f"  {name:32s} {ma:9.3f} -> {mb:9.3f}  x{mb / ma:.3f}")
    pa, pb = a["pass_seconds"], b["pass_seconds"]
    print(f"  {'cold pass':32s} {pa[0]:9.3f} -> {pb[0]:9.3f}  x{pb[0] / pa[0]:.3f}")
    wa, wb = statistics.median(pa[2:]), statistics.median(pb[2:])
    print(f"  {'warm pass (median)':32s} {wa:9.3f} -> {wb:9.3f}  x{wb / wa:.3f}")


if __name__ == "__main__":
    main()
