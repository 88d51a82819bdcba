#!/usr/bin/env python3
"""Compare two sets of benchmark results (run.py records).

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl
    python3 perfbench/compare.py RESULTS.jsonl        # one set: spread only

Each run appends its record to ``.perfbench/results.jsonl``; copy that
file aside after measuring each commit. For every workload and
end-to-end metric of BENCHMARK.json this prints each side's median and
quartiles, the share of seed-paired runs the change wins, and a
verdict:

- ``improved``: the change wins at least nine tenths of the pairs (ties
  count for neither side) and the medians differ by more than the
  parent's own quartile spread;
- ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``within bound``: neither, and the parent's spread is inside the
  bound;
- ``unresolved``: neither, but the parent's spread is wider than the
  bound, so "no change" cannot be told from noise (unless every change
  run beats every parent run).

From traced runs it prints each per-layer metric's median on both
sides and the change, and for each side the tracing overhead: traced
minus untraced median of every end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import measure

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def by_workload(records: list[dict], trace: int) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in records:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def verdict(parent: list[float], change: list[float], better: str, bound: float,
            pairs: list[tuple[float, float]]) -> tuple[str, float]:
    """The choosing-metrics section 8 rule; returns (verdict, win rate)."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (c - p) > 0 for p, c in pairs)
    rate = wins / len(pairs) if pairs else 0.0
    pq1, pmed, pq3 = measure.quartiles(parent)
    cmed = measure.median(change)
    gain = sign * (cmed - pmed)
    if pairs and rate >= 0.9 and gain > pq3 - pq1:
        return "improved", rate
    if -gain > bound * abs(pmed):
        return "regressed", rate
    if (pq3 - pq1) > bound * abs(pmed) and not all(
        sign * (c - p) > 0 for c in change for p in parent
    ):
        return "unresolved", rate
    return "within bound", rate


def paired(parent: list[dict], change: list[dict], name: str, section: str) -> list[tuple[float, float]]:
    """Runs of the two sides with the same seed."""
    p = {r["seed"]: r[section][name] for r in parent if name in r[section]}
    c = {r["seed"]: r[section][name] for r in change if name in r[section]}
    return [(p[s], c[s]) for s in sorted(p.keys() & c.keys())]


def fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def spread_report(records: list[dict], e2e: list[dict]) -> None:
    for wl, runs in sorted(by_workload(records, 0).items()):
        print(f"{wl} ({len(runs)} runs)")
        for m in e2e:
            vals = [r["metrics"][m["name"]] for r in runs if m["name"] in r["metrics"]]
            if not vals:
                continue
            q = measure.quartiles(vals)
            spread = (q[2] - q[0]) / q[1] if q[1] else float("inf")
            flag = "" if spread < m["bound"] / 3 else ("  (> bound/3)" if spread <= m["bound"] else "  (> bound)")
            print(f"  {m['name']:22s} {fmt(q):36s} spread {spread:.3f} bound {m['bound']}{flag}")


def compare_report(parent: list[dict], change: list[dict], e2e: list[dict]) -> None:
    pw, cw = by_workload(parent, 0), by_workload(change, 0)
    for wl in sorted(pw.keys() & cw.keys()):
        print(f"{wl} (parent {len(pw[wl])} runs, change {len(cw[wl])} runs)")
        for m in e2e:
            pv = [r["metrics"][m["name"]] for r in pw[wl] if m["name"] in r["metrics"]]
            cv = [r["metrics"][m["name"]] for r in cw[wl] if m["name"] in r["metrics"]]
            if not pv or not cv:
                continue
            v, rate = verdict(pv, cv, m["better"], m["bound"], paired(pw[wl], cw[wl], m["name"], "metrics"))
            print(f"  {m['name']:22s} parent {fmt(measure.quartiles(pv)):32s} "
                  f"change {fmt(measure.quartiles(cv)):32s} wins {rate:4.0%}  {v}")
    pt, ct = by_workload(parent, 1), by_workload(change, 1)
    for wl in sorted(pt.keys() & ct.keys()):
        print(f"{wl} per layer (traced: parent {len(pt[wl])} runs, change {len(ct[wl])} runs)")
        names = sorted({k for r in pt[wl] + ct[wl] for k in r["per_layer"]})
        for n in names:
            pv = [r["per_layer"][n] for r in pt[wl] if n in r["per_layer"]]
            cv = [r["per_layer"][n] for r in ct[wl] if n in r["per_layer"]]
            if pv and cv:
                p, c = measure.median(pv), measure.median(cv)
                rel = f"{(c - p) / p:+.1%}" if p else "n/a"
                print(f"  {n:32s} {p:12.5g} -> {c:12.5g}  {rel}")
    for side, records in (("parent", parent), ("change", change)):
        overhead(side, records, e2e)


def overhead(side: str, records: list[dict], e2e: list[dict]) -> None:
    plain, traced = by_workload(records, 0), by_workload(records, 1)
    for wl in sorted(plain.keys() & traced.keys()):
        parts = []
        for m in e2e:
            a = [r["metrics"][m["name"]] for r in plain[wl] if m["name"] in r["metrics"]]
            b = [r["metrics"][m["name"]] for r in traced[wl] if m["name"] in r["metrics"]]
            if a and b:
                parts.append(f"{m['name']} {measure.median(b) - measure.median(a):+.4g}")
        print(f"{side} tracing overhead, {wl}: " + ", ".join(parts))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("parent")
    p.add_argument("change", nargs="?")
    args = p.parse_args(argv)
    with open(BENCHMARK) as fh:
        e2e = json.load(fh)["end_to_end"]
    if args.change is None:
        records = load(args.parent)
        spread_report(records, e2e)
        overhead("results", records, e2e)
    else:
        compare_report(load(args.parent), load(args.change), e2e)
    return 0


if __name__ == "__main__":
    sys.exit(main())
