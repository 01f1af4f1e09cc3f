"""Compare two sets of benchmark records, metric by metric and workload
by workload.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a directory of records written by ``run.py``
(``.perfbench/records/`` copied aside after each side's runs) or a list
of record files separated by commas. Runs of the two sides pair up by
seed. For every end-to-end metric of ``BENCHMARK.json`` on every
workload, it prints each side's median and quartiles, the pair wins,
and a verdict:

- ``improved``: the new side wins at least 9 of 10 pairs (ties count
  for neither) and the medians differ by more than the spread between
  the base side's own runs (its inter-quartile distance);
- ``regressed``: the new median is worse than the base median by more
  than the metric's bound, and either both sides' spreads are within
  the bound or every new run is worse than every base run;
- ``unresolved``: a side's spread is wider than the bound and the runs
  do not separate, or fewer than 10 pairs were run;
- ``unchanged``: otherwise.

Per-layer metrics (from ``--trace 1`` records) are listed with their
medians and wins only: they have no bound.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(where: str) -> list[dict]:
    paths = (sorted(glob.glob(os.path.join(where, "*.json")))
             if os.path.isdir(where) else where.split(","))
    records = []
    for p in paths:
        with open(p) as fh:
            records.append(json.load(fh))
    return records


def by_seed(records, workload, trace, metric) -> dict[int, float]:
    return {r["env"]["seed"]: r["metrics"][metric] for r in records
            if r["workload"] == workload and bool(r["env"]["trace"]) == trace
            and metric in r["metrics"]}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, new, lower_is_better: bool, bound: float | None) -> tuple[str, str]:
    """(verdict, wins) for paired runs ``base[i]`` vs ``new[i]``."""
    sign = 1 if lower_is_better else -1
    wins = sum(sign * (b - n) > 0 for b, n in zip(base, new))
    losses = sum(sign * (n - b) > 0 for b, n in zip(base, new))
    pairs = len(base)
    (b1, bm, b3), (n1, nm, n3) = quartiles(base), quartiles(new)
    worse_by = sign * (nm - bm) / bm if bm else 0.0
    wins_txt = f"{wins}/{pairs} won, {losses} lost"
    if wins >= 0.9 * pairs and abs(nm - bm) > b3 - b1 and sign * (bm - nm) > 0:
        return ("improved" if pairs >= 10 else "unresolved"), wins_txt
    if bound is None:
        return "-", wins_txt
    spread_ok = (b3 - b1) <= bound * bm and (n3 - n1) <= bound * nm
    separated = (max(new) < min(base)) if lower_is_better else (min(new) > max(base))
    worse_all = (min(new) > max(base)) if lower_is_better else (max(new) < min(base))
    if pairs < 10:
        return "unresolved", wins_txt
    if worse_by > bound:
        return ("regressed" if spread_ok or worse_all else "unresolved"), wins_txt
    if not spread_ok and not separated:
        return "unresolved", wins_txt
    return "unchanged", wins_txt


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    rows = []
    for w in spec["workloads"]:
        for trace, metrics in ((False, spec["end_to_end"]), (True, spec["per_layer"])):
            for m in metrics:
                b = by_seed(base, w["name"], trace, m["name"])
                n = by_seed(new, w["name"], trace, m["name"])
                seeds = sorted(set(b) & set(n))
                if not seeds:
                    continue
                bv, nv = [b[s] for s in seeds], [n[s] for s in seeds]
                v, wins = verdict(bv, nv, m["better"] == "lower", m.get("bound"))
                (b1, bm, b3), (n1, nm, n3) = quartiles(bv), quartiles(nv)
                rows.append((w["name"], m["name"], m["unit"], bm, b1, b3, nm, n1, n3, wins, v))
    print(f"{'workload':22s} {'metric':36s} {'unit':6s} "
          f"{'base median [q1, q3]':>34s} {'new median [q1, q3]':>34s}  pairs / verdict")
    for w, name, unit, bm, b1, b3, nm, n1, n3, wins, v in rows:
        print(f"{w:22s} {name:36s} {unit:6s} "
              f"{bm:12.5g} [{b1:9.5g}, {b3:9.5g}] {nm:12.5g} [{n1:9.5g}, {n3:9.5g}]  "
              f"{wins}: {v}")
    if not rows:
        print("no workload and seed common to both sides", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
