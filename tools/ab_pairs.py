#!/usr/bin/env python
"""Alternating A/B pairs of the repo benchmark between two git revisions.

    python tools/ab_pairs.py BASE HEAD --workload fold --seeds 301-310 \\
        --seconds 5 [--trace 0] [--out runs.jsonl]
    python tools/ab_pairs.py --summarize runs.jsonl

Exports each revision's committed files with ``git archive`` into its
own temporary directory, then for every seed runs
``python3 perfbench/run.py --workload W --seed S --seconds N --trace T``
once per side in fresh processes, alternating which side goes first
(base on the first seed, head on the second, and so on).  Each run is one JSON
line ``{"side", "workload", "seed", "result"}``, where ``result`` is the
last line ``perfbench/run.py`` prints; ``--out`` keeps them.

The summary gives, per workload and metric, each side's median and
quartiles, the median head/base ratio over the paired seeds with a 95 %
bootstrap interval of that median (2,000 resamples of the pairs, fixed
RNG seed, so a summary repeats exactly), the pairs the head side wins
(by the metric's ``better`` in ``BENCHMARK.json``), and whether the
claim rule holds: the head wins at least 9 of every 10 pairs and its
median beats the base median by more than the base side's
interquartile range.  Above the metrics it prints each side's runs
counted by calls attempted (``22×9 34×1``: nine runs of 22 calls, one
of 34): a run whose window fits one more whole cycle shifts the tail
and per-row metrics, and the counts show how often each side did.
When a workload's runs differ in calls attempted, it also prints each
metric's base → head medians within each attempted group
(``disk_bytes_per_row 22: 26.35 → 13.02, 34: 42.2 → 20.87``), so a
metric that is bimodal on the cycle count is compared like with like.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("base", "head")
BOOTSTRAP = 2000


def directions(path: str = os.path.join(ROOT, "BENCHMARK.json")) -> dict[str, str]:
    """Metric name -> ``"lower"`` or ``"higher"`` (which is better)."""
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["better"]
            for key in ("end_to_end", "per_layer") for m in spec.get(key, [])}


def seed_list(text: str) -> list[int]:
    """``"301-310"`` or ``"1,5,9"`` as a list of seeds."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export(rev: str, dest: str) -> str:
    """The committed files of ``rev`` under ``dest``."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run in ``tree``; its final JSON object."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode or not lines:
        raise RuntimeError(f"{' '.join(cmd)} in {tree} failed:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def pairs(trees: dict[str, str], workload: str, seeds: list[int],
          seconds: float, trace: int):
    """Yield one run record per side per seed, alternating the order."""
    for n, seed in enumerate(seeds):
        for side in SIDES if n % 2 == 0 else SIDES[::-1]:
            res = run_once(trees[side], workload, seed, seconds, trace)
            yield {"side": side, "workload": workload, "seed": seed, "result": res}


def ratio_interval(ratios: list[float]) -> tuple[float, float, float]:
    """The median of paired head/base ratios and the 2.5th and 97.5th
    percentiles of that median over :data:`BOOTSTRAP` resamples of the
    pairs (fixed RNG seed)."""
    r = np.asarray(ratios, dtype=np.float64)
    idx = np.random.default_rng(0).integers(0, len(r), size=(BOOTSTRAP, len(r)))
    lo, hi = np.percentile(np.median(r[idx], axis=1), [2.5, 97.5])
    return float(np.median(r)), float(lo), float(hi)


def summarize(runs: list[dict], better: dict[str, str]) -> dict:
    """Per workload and metric: each side's median and quartiles, the
    head's wins over the pairs both sides ran, the claim rule, and the
    median head/base ratio over those pairs with its bootstrap
    interval."""
    out: dict[str, dict] = {}
    for wl in dict.fromkeys(r["workload"] for r in runs):
        vals: dict[str, dict[str, dict[int, float]]] = {}
        for r in runs:
            if r["workload"] != wl:
                continue
            for name, m in r["result"]["metrics"].items():
                vals.setdefault(name, {s: {} for s in SIDES})[r["side"]][r["seed"]] = m["value"]
        per: dict[str, dict] = {}
        for name, by_side in vals.items():
            row: dict = {}
            for side in SIDES:
                v = list(by_side[side].values())
                if v:
                    q1, med, q3 = np.percentile(v, [25, 50, 75])
                    row[side] = {"median": med, "q1": q1, "q3": q3, "n": len(v)}
            seeds = sorted(set(by_side["base"]) & set(by_side["head"]))
            way = better.get(name)
            if way and seeds and len(row) == 2:
                sign = 1.0 if way == "higher" else -1.0
                wins = sum(sign * (by_side["head"][s] - by_side["base"][s]) > 0 for s in seeds)
                gap = sign * (row["head"]["median"] - row["base"]["median"])
                iqr = row["base"]["q3"] - row["base"]["q1"]
                row.update(better=way, pairs=len(seeds), wins=wins,
                           claim=wins >= math.ceil(0.9 * len(seeds)) and gap > iqr)
            # a pair whose base reads 0 (a count of failures, say) has no ratio
            ratios = [by_side["head"][s] / by_side["base"][s]
                      for s in seeds if by_side["base"][s]]
            if ratios:
                row["ratio"], row["ratio_lo"], row["ratio_hi"] = ratio_interval(ratios)
            per[name] = row
        out[wl] = per
    return out


def attempt_counts(runs: list[dict]) -> dict[str, dict[str, str]]:
    """Per workload and side, its runs counted by calls attempted, as
    ``"22×9 34×1"`` (attempted × runs, fewest attempted first)."""
    tally: dict[str, dict[str, dict[int, int]]] = {}
    for r in runs:
        side = tally.setdefault(r["workload"], {}).setdefault(r["side"], {})
        n = r["result"]["attempted"]
        side[n] = side.get(n, 0) + 1
    return {wl: {s: " ".join(f"{n}×{k}" for n, k in sorted(c.items()))
                 for s, c in by.items()}
            for wl, by in tally.items()}


def medians_by_attempted(runs: list[dict]) -> dict[str, dict[str, dict]]:
    """Per workload whose runs differ in calls attempted, per metric:
    ``{attempted: {side: median}}`` over the runs of that many calls
    (a side with no such run has no entry)."""
    out: dict[str, dict[str, dict]] = {}
    for wl in dict.fromkeys(r["workload"] for r in runs):
        mine = [r for r in runs if r["workload"] == wl]
        if len({r["result"]["attempted"] for r in mine}) < 2:
            continue
        vals: dict[str, dict[int, dict[str, list[float]]]] = {}
        for r in mine:
            for name, m in r["result"]["metrics"].items():
                vals.setdefault(name, {}).setdefault(
                    r["result"]["attempted"], {}).setdefault(
                    r["side"], []).append(m["value"])
        out[wl] = {name: {n: {s: float(np.median(v)) for s, v in by.items()}
                          for n, by in sorted(groups.items())}
                   for name, groups in vals.items()}
    return out


def print_summary(summary: dict, counts: dict | None = None,
                  grouped: dict | None = None) -> None:
    for wl, per in summary.items():
        print(f"workload {wl}")
        if counts and wl in counts:
            print("  attempted×runs: " + "  ".join(
                f"{s} {counts[wl][s]}" for s in SIDES if s in counts[wl]))
        for name, row in per.items():
            sides = "  ".join(
                f"{s} {row[s]['median']:.6g} [{row[s]['q1']:.6g}-{row[s]['q3']:.6g}]"
                for s in SIDES if s in row)
            ratio = (f"  head/base {row['ratio']:.4g} [{row['ratio_lo']:.4g}-{row['ratio_hi']:.4g}]"
                     if "ratio" in row else "")
            verdict = (f"  wins {row['wins']}/{row['pairs']} ({row['better']} is better)"
                       f"  claim {'holds' if row['claim'] else 'fails'}"
                       if "wins" in row else "")
            print(f"  {name}: {sides}{ratio}{verdict}")
        if grouped and wl in grouped:
            print("  medians by calls attempted (base → head):")
            for name, groups in grouped[wl].items():
                print(f"    {name} " + ", ".join(
                    f"{n}: " + " → ".join(
                        f"{by[s]:.6g}" if s in by else "-" for s in SIDES)
                    for n, by in groups.items()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", nargs="?")
    ap.add_argument("head", nargs="?")
    ap.add_argument("--workload", default="fold")
    ap.add_argument("--seeds", default="301-310")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append each run's JSON line here")
    ap.add_argument("--summarize", metavar="JSONL",
                    help="summarize saved runs instead of running")
    args = ap.parse_args(argv)

    if args.summarize:
        with open(args.summarize) as f:
            runs = [json.loads(ln) for ln in f if ln.strip()]
    else:
        if not (args.base and args.head):
            ap.error("give BASE and HEAD revisions, or --summarize")
        tmp = tempfile.mkdtemp(prefix="ab_pairs-")
        try:
            trees = {s: export(rev, os.path.join(tmp, s))
                     for s, rev in zip(SIDES, (args.base, args.head))}
            runs = []
            for rec in pairs(trees, args.workload, seed_list(args.seeds),
                             args.seconds, args.trace):
                runs.append(rec)
                line = json.dumps(rec)
                print(line, flush=True)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(line + "\n")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print_summary(summarize(runs, directions()), attempt_counts(runs),
                  medians_by_attempted(runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
