#!/usr/bin/env python3
"""Compare the layer ledgers of benchmark runs.

    python3 perfbench/ledger.py diff A.json B.json
        Flags the count metrics (jobs, tasks, bytes, manifest reads,
        codegen compilations) of two traced runs that moved by more than
        their tolerance; exits 1 if any did. Times are not compared:
        they are the end-to-end metrics' business.

    python3 perfbench/ledger.py overhead UNTRACED.json TRACED.json
        Prints each end-to-end metric of a traced run minus the same
        metric of an untraced run: the tracing overhead.

A and B are result files a run leaves in .bench_work/results/, e.g.
.bench_work/results/lakehouse_sql-seed1-trace1.json.
"""
import json
import sys

# (relative, absolute) tolerance per count kind. Two traced runs of one
# seed repeat jobs, tasks, shuffle bytes and manifest reads exactly; the
# relative share leaves room for programs whose concurrent fits race to
# materialize a cache. Codegen compilations after warm-up are a handful
# whose number depends on which plans the warm-up pass already compiled,
# so they get an absolute allowance.
TOLERANCE = {
    ".jobs": (0.05, 1),
    ".tasks": (0.05, 1),
    ".shuffle_bytes": (0.05, 1),
    ".manifest_reads": (0.02, 1),
    "codegen.compilations": (0.05, 5),
}


def tolerance(name):
    for suffix, tol in TOLERANCE.items():
        if name.endswith(suffix):
            return tol
    return None


def diff(a, b):
    """[(metric, a, b)] for count metrics that moved beyond tolerance."""
    moved = []
    for name in sorted(set(a) | set(b)):
        tol = tolerance(name)
        if tol is None:
            continue
        rel, slack = tol
        x, y = a.get(name, 0.0), b.get(name, 0.0)
        if abs(x - y) > max(slack, rel * max(abs(x), abs(y))):
            moved.append((name, x, y))
    return moved


def load(path):
    with open(path) as f:
        return json.load(f)


def main(argv):
    if len(argv) != 4 or argv[1] not in ("diff", "overhead"):
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[2]), load(argv[3])
    if argv[1] == "overhead":
        for k, traced in b["e2e_metrics"].items():
            plain = a["e2e_metrics"][k]
            rel = (traced - plain) / plain if plain else float("nan")
            print(f"{k}: untraced {plain:.4f} traced {traced:.4f} "
                  f"overhead {traced - plain:+.4f} ({rel:+.1%})")
        return 0
    if not a["layers"] or not b["layers"]:
        print("both runs must be traced (--trace 1)", file=sys.stderr)
        return 2
    moved = diff(a["layers"], b["layers"])
    for name, x, y in moved:
        print(f"MOVED {name}: {x:g} -> {y:g}")
    print(f"{len(moved)} count metric(s) moved beyond tolerance")
    return 1 if moved else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
