#!/usr/bin/env python3
"""Compare two sets of run records, or check one set's spread.

    python3 perfbench/compare.py BASE [NEW]

BASE and NEW are directories or globs of run records (the JSON files a
run saves under ``perfbench/.work/records``). For each workload x
end-to-end metric it prints each side's median and quartiles and, with
two sets, a verdict:

- ``better``: NEW beats BASE in at least 9 of 10 pairs (runs paired by
  seed, ties count for neither) and the medians differ by more than
  BASE's inter-quartile distance;
- ``worse``: NEW's median is worse than BASE's by more than the
  metric's bound in BENCHMARK.json;
- ``unresolved``: neither, and a side's spread is wider than the bound,
  unless every NEW run is better than every BASE run;
- ``unchanged``: otherwise.

It also checks that per-operation job counts of traced runs repeat
exactly across runs of one seed.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from report import jobs_repeat  # noqa: E402


def load(spec: str) -> list[dict]:
    paths = sorted(glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec)
                   else glob.glob(spec))
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def metric_specs() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)["end_to_end"]}


def values(records: list[dict], workload: str, metric: str) -> dict[int, float]:
    """seed -> value over untraced records of ``workload``."""
    return {r["seed"]: r["end_to_end"][metric]["value"] for r in records
            if r["workload"] == workload and not r["traced"]
            and metric in r["end_to_end"]}


def verdict(base: dict[int, float], new: dict[int, float], bound: float,
            lower_is_better: bool) -> str:
    sign = 1 if lower_is_better else -1
    b, n = list(base.values()), list(new.values())
    q1, bmed, q3 = stats.quartiles(b)
    nmed = stats.quartiles(n)[1]
    gain = sign * (bmed - nmed)  # > 0: NEW is better
    seeds = sorted(set(base) & set(new))
    pairs = list(zip((base[s] for s in seeds), (new[s] for s in seeds))) \
        or list(zip(b, n))
    wins = sum(sign * (x - y) > 0 for x, y in pairs)
    if wins >= 0.9 * len(pairs) and gain > (q3 - q1):
        return "better"
    if -gain > bound * abs(bmed):
        return "worse"
    if max(stats.spread(b), stats.spread(n)) > bound and \
            not all(sign * (x - y) > 0 for x in b for y in n):
        return "unresolved"
    return "unchanged"


def job_repeats(records: list[dict]) -> list[str]:
    out, groups = [], {}
    for r in records:
        if r["traced"]:
            groups.setdefault((r["workload"], r["seed"]), []).append(r)
    for (w, seed), rs in sorted(groups.items()):
        for r in rs[1:]:
            out.append(f"{w} seed {seed}: jobs per op "
                       f"{jobs_repeat(rs[0]['jobs_per_op'], r['jobs_per_op'])}")
    return out


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(a) for a in argv]
    specs = metric_specs()
    workloads = sorted({r["workload"] for s in sets for r in s})
    for w in workloads:
        for name, spec in specs.items():
            cols = [values(s, w, name) for s in sets]
            if not all(cols):
                continue
            line = f"{w:20s} {name:12s}"
            for c in cols:
                q1, med, q3 = stats.quartiles(list(c.values()))
                line += (f" | n={len(c):2d} median {med:10.4f} q1 {q1:10.4f} "
                         f"q3 {q3:10.4f} spread {stats.spread(list(c.values())):.3f}")
            if len(cols) == 2:
                line += " | " + verdict(cols[0], cols[1], spec["bound"],
                                        spec["better"] == "lower")
            else:
                line += f" | bound {spec['bound']}"
            print(line + f" {spec['unit']}")
    for s in sets:
        for line in job_repeats(s):
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
