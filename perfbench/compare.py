"""Attribute the difference between two traced benchmark results.

    python3 perfbench/compare.py BEFORE.json AFTER.json
    python3 perfbench/compare.py --overhead UNTRACED.json TRACED.json

Inputs are the result files ``run.py`` leaves under
``.bench_work/results/``. For every layer function the first form
answers, in order:

1. did the structure change: ``jobs`` or ``stages`` per pass, or
   ``shuffle_write_bytes`` or ``store_bytes_written`` per pass by more
   than 1 %? (Byte counts of identical runs differ by a few bytes:
   streaming checkpoints and vacuum's file listing carry timestamps.)
2. if not, did ``executor_cpu_s`` change by more than 20 %? (Identical
   runs differ by up to about that much on a shared 4-core box.)
3. if neither, the change in wall time is the box.

The second form prints the tracing overhead: traced minus untraced
``run_s`` of the same workload.
"""

from __future__ import annotations

import argparse
import json
import sys

# structural counter -> relative change that counts as a change
CPU_TOL = 0.2
STRUCTURE = {
    "jobs": 0.0,
    "stages": 0.0,
    "shuffle_write_bytes": 0.01,
    "store_bytes_written": 0.01,
}


def verdict(a: dict, b: dict) -> tuple[str, str]:
    moved = [
        f"{k} {a.get(k, 0):g}->{b.get(k, 0):g}"
        for k, tol in STRUCTURE.items()
        if abs(b.get(k, 0) - a.get(k, 0)) > tol * max(a.get(k, 0), b.get(k, 0))
    ]
    if moved:
        return "structure", ", ".join(moved)
    ca, cb = a.get("executor_cpu_s", 0.0), b.get("executor_cpu_s", 0.0)
    if abs(cb - ca) > CPU_TOL * max(ca, cb, 1e-9):
        return "executor_cpu", f"executor_cpu_s {ca:.3f}->{cb:.3f}"
    return "box", ""


def compare(before: dict, after: dict) -> list[str]:
    la, lb = before["layers"], after["layers"]
    lines = [f"{'layer function':58} {'s before':>9} {'s after':>9}  verdict"]
    for name in sorted(set(la) | set(lb)):
        a, b = la.get(name, {}), lb.get(name, {})
        kind, detail = verdict(a, b)
        lines.append(
            f"{name:58} {a.get('s', 0):9.3f} {b.get('s', 0):9.3f}  {kind}"
            + (f" ({detail})" if detail else "")
        )
    return lines


def overhead(untraced: dict, traced: dict) -> str:
    if untraced["workload"] != traced["workload"]:
        raise SystemExit("overhead needs two results of the same workload")
    if untraced["trace"] or not traced["trace"]:
        raise SystemExit("overhead needs an untraced, then a traced result")
    u = untraced["end_to_end"]["run_s"]
    t = traced["end_to_end"]["run_s"]
    return (
        f"{traced['workload']}: traced run_s {t:.3f} - untraced run_s {u:.3f}"
        f" = {t - u:+.3f} s ({(t - u) / u:+.1%})"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("first")
    ap.add_argument("second")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(args.first) as f:
        first = json.load(f)
    with open(args.second) as f:
        second = json.load(f)
    if args.overhead:
        print(overhead(first, second))
    else:
        print("\n".join(compare(first, second)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
