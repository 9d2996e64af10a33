"""Compare two sets of benchmark runs against the bounds in BENCHMARK.json.

    python3 perfbench/compare.py SET_A SET_B

Each set is a directory written by ``repeat.py``: ``<workload>/*.json``,
one result line per run. For every workload and end-to-end metric it
prints both medians and quartiles, the quartile spread as a share of
the median, and whether the sets agree:

- the spread of each set stays within the metric's bound;
- the two medians differ by no more than the bound, as a share of set
  A's median, in either direction ("B vs A" prints the signed gap:
  positive when B is worse);
- the share of failed operations is the same in both sets.

Exits 1 when any check fails.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_set(path: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*", "*.json"))):
        with open(f) as fh:
            lines = fh.read().strip().splitlines()
        if lines:
            out.setdefault(os.path.basename(os.path.dirname(f)), []).append(json.loads(lines[-1]))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse b is than a, as a share of a (negative: better)."""
    if not a:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def failed_share(runs: list[dict]) -> tuple[int, int]:
    return sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs)


def compare(set_a: dict, set_b: dict, bench: dict) -> tuple[list[str], bool]:
    lines, ok = [], True
    head = (f"{'workload':<11} {'metric':<12} {'median A':>11} {'q1..q3 A':>23} {'spr A':>6} "
            f"{'median B':>11} {'q1..q3 B':>23} {'spr B':>6} {'B vs A':>7} {'bound':>5}  verdict")
    lines.append(head)
    for w in bench["workloads"]:
        name = w["name"]
        a, b = set_a.get(name, []), set_b.get(name, [])
        if not a or not b:
            lines.append(f"{name:<11} missing runs (A {len(a)}, B {len(b)})")
            ok = False
            continue
        fa, fb = failed_share(a), failed_share(b)
        if fa[0] * fb[1] != fb[0] * fa[1]:
            lines.append(f"{name:<11} failed share differs: A {fa[0]}/{fa[1]}, B {fb[0]}/{fb[1]}")
            ok = False
        if not all(r["correct"] for r in a + b):
            lines.append(f"{name:<11} a run reported correct=false")
            ok = False
        for m in bench["end_to_end"]:
            va = [r["metrics"][m["name"]]["value"] for r in a]
            vb = [r["metrics"][m["name"]]["value"] for r in b]
            qa, qb = quartiles(va), quartiles(vb)
            sa, sb = spread(va), spread(vb)
            drift = worse_by(qa[1], qb[1], m["better"])
            bound = m["bound"]
            good = abs(drift) <= bound and sa <= bound and sb <= bound
            ok &= good
            lines.append(
                f"{name:<11} {m['name']:<12} {qa[1]:>11.4g} {qa[0]:>11.4g}..{qa[2]:<10.4g} "
                f"{sa:>6.3f} {qb[1]:>11.4g} {qb[0]:>11.4g}..{qb[2]:<10.4g} {sb:>6.3f} "
                f"{drift:>+7.3f} {bound:>5.2f}  {'agree' if good else 'DIFFER'}")
    return lines, ok


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lines, ok = compare(load_set(argv[0]), load_set(argv[1]), bench)
    print("\n".join(lines))
    print("sets agree within the bounds" if ok else "sets DIFFER")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
