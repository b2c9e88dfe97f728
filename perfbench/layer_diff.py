#!/usr/bin/env python3
"""Compare two traced benchmark results layer by layer.

    python3 perfbench/layer_diff.py A B

A and B are traced result files (`.bench_build/results/<workload>-seed<n>-
trace1.json`, written by `run.py --trace 1`) or directories holding them;
directories are matched by workload. For each workload it lists, per
pipeline stage and query (curation_sink) or per streaming stage
(rating_stream), every count that changed — jobs, stages, tasks, plan
facts, cuts, files, batches — exactly; every size (shuffle / spill / cut /
written / state MB) that moved by more than 1% (shuffle blocks differ by a
few bytes from run to run); and every time that moved by more than the
bound BENCHMARK.json sets on `pass_s` (a share of A's value) and by more
than 0.05 s.

Exit status 1 when any count changed, else 0.
"""
import argparse
import json
import sys
from pathlib import Path

SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
SIZE_TOLERANCE = 0.01
TIME_FLOOR_S = 0.05


def moved(x, y, share, floor=0.0):
    return abs(y - x) > max(share * abs(x), floor)


def time_bound(spec=SPEC):
    """The share by which `pass_s` may worsen, from BENCHMARK.json."""
    metrics = json.loads(Path(spec).read_text())["end_to_end"]
    return next(m["bound"] for m in metrics if m["name"] == "pass_s")


def load(path):
    """{workload: result} from a traced result file or a directory of them."""
    path = Path(path)
    files = sorted(path.glob("*-trace1.json")) if path.is_dir() else [path]
    out = {}
    for f in files:
        r = json.loads(f.read_text())
        out.setdefault(r["workload"], r)
    return out


def diff_rows(a, b, bound):
    """Changed counts and sizes, and moved times, between two
    {field: value} rows."""
    counts, times = [], []
    for k in sorted(set(a) | set(b)):
        x, y = a.get(k, 0), b.get(k, 0)
        if k.endswith("_s"):
            if moved(x, y, bound, TIME_FLOOR_S):
                times.append((k, x, y))
        elif k.endswith("_mb"):
            if moved(x, y, SIZE_TOLERANCE):
                counts.append((k, x, y))
        elif x != y:
            counts.append((k, x, y))
    return counts, times


def diff(a, b, bound):
    """Report lines and the number of changed counts."""
    lines, changed = [], 0
    for wl in sorted(set(a) | set(b)):
        if wl not in a or wl not in b:
            lines.append(f"{wl}: only in {'A' if wl in a else 'B'}")
            continue
        ra, rb = a[wl], b[wl]
        units = {"(workload)": ({k: v["value"] for k, v in ra["metrics"].items()},
                                {k: v["value"] for k, v in rb["metrics"].items()})}
        ua, ub = ra["detail"].get("units", {}), rb["detail"].get("units", {})
        for u in sorted(set(ua) | set(ub)):
            units[u] = (ua.get(u, {}), ub.get(u, {}))
        for u, (x, y) in units.items():
            counts, times = diff_rows(x, y, bound)
            changed += len(counts)
            for k, v, w in counts:
                lines.append(f"{wl} {u} {k}: {v} -> {w}")
            for k, v, w in times:
                lines.append(f"{wl} {u} {k}: {v:.3f}s -> {w:.3f}s (beyond {bound:.0%})")
    return lines, changed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    lines, changed = diff(load(args.a), load(args.b), time_bound())
    print("\n".join(lines) if lines else "no count changed; no time moved beyond the bound")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
