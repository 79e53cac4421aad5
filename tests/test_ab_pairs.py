"""tools/ab_pairs.py: the paired summary on canned benchmark lines."""

from __future__ import annotations

import json

import numpy as np
import pytest

from tools import ab_pairs


def _run(side, seed, cells, p90, wl="fold"):
    return {"side": side, "workload": wl, "seed": seed, "result": {
        "correct": True, "attempted": 10, "failed": 0,
        "metrics": {"cells_per_s": {"value": cells, "unit": "cells/s"},
                    "op_p90_s": {"value": p90, "unit": "s"},
                    "spark.unknown": {"value": 1.0, "unit": "count"}}}}


def _canned():
    base = [6.0, 7.0, 6.5, 7.2, 6.8, 6.1, 6.9, 7.1, 6.4, 6.6]
    head = [8.0, 8.5, 8.2, 7.0, 8.9, 8.1, 8.3, 8.6, 8.4, 8.8]  # loses seed 4
    runs = []
    for k, (b, h) in enumerate(zip(base, head)):
        seed = 301 + k
        runs += [_run("base", seed, b, 2.4), _run("head", seed, h, 2.4 + (k % 2) * 0.1)]
    return runs, base, head


def test_summary_wins_quartiles_and_claim(tmp_path, capsys):
    runs, base, head = _canned()
    better = {"cells_per_s": "higher", "op_p90_s": "lower"}
    s = ab_pairs.summarize(runs, better)["fold"]

    cells = s["cells_per_s"]
    assert cells["pairs"] == 10 and cells["wins"] == 9
    assert cells["base"]["median"] == pytest.approx(6.7)
    assert cells["head"]["median"] == pytest.approx(8.35)
    assert cells["base"]["q3"] - cells["base"]["q1"] < 8.35 - 6.7
    assert cells["claim"]

    # equal or worse in every pair: no wins, no claim
    p90 = s["op_p90_s"]
    assert p90["wins"] == 0 and not p90["claim"]

    # a metric with no declared direction is summarized without a verdict
    assert "wins" not in s["spark.unknown"]

    # the same through the command line on a saved file
    path = tmp_path / "runs.jsonl"
    path.write_text("".join(json.dumps(r) + "\n" for r in runs))
    assert ab_pairs.main(["--summarize", str(path)]) == 0
    text = capsys.readouterr().out
    assert "cells_per_s" in text and "wins 9/10" in text and "claim holds" in text


def test_claim_needs_the_median_gap_past_the_base_iqr():
    runs, _, _ = _canned()
    # head wins every pair, but by less than the base side's spread
    for r in runs:
        if r["side"] == "head":
            base = next(b for b in runs if b["side"] == "base" and b["seed"] == r["seed"])
            r["result"]["metrics"]["cells_per_s"]["value"] = (
                base["result"]["metrics"]["cells_per_s"]["value"] + 0.01)
    row = ab_pairs.summarize(runs, {"cells_per_s": "higher"})["fold"]["cells_per_s"]
    assert row["wins"] == 10 and not row["claim"]


def test_seed_list_and_benchmark_directions():
    assert ab_pairs.seed_list("301-303,7") == [301, 302, 303, 7]
    way = ab_pairs.directions()
    assert way["cells_per_s"] == "higher" and way["op_p90_s"] == "lower"


def test_paired_ratio_and_its_bootstrap_interval(tmp_path, capsys):
    runs, base, head = _canned()
    s = ab_pairs.summarize(runs, {"cells_per_s": "higher"})["fold"]

    ratios = [h / b for b, h in zip(base, head)]
    cells = s["cells_per_s"]
    assert cells["ratio"] == pytest.approx(np.median(ratios))
    assert min(ratios) <= cells["ratio_lo"] <= cells["ratio"] <= cells["ratio_hi"] <= max(ratios)
    assert cells["ratio_lo"] > 1.0  # the head wins 9/10 by ~25 %

    # a fixed-seed bootstrap: the same runs give the same interval
    again = ab_pairs.summarize(runs, {"cells_per_s": "higher"})["fold"]["cells_per_s"]
    assert (again["ratio_lo"], again["ratio_hi"]) == (cells["ratio_lo"], cells["ratio_hi"])

    # equal pairs: ratio 1 with a zero-width interval
    assert ab_pairs.ratio_interval([1.0] * 10) == (1.0, 1.0, 1.0)
    # the interval is the 2.5th-97.5th percentile of 2,000 resampled medians
    rng = np.random.default_rng(0)
    r = np.asarray(ratios)
    meds = np.median(r[rng.integers(0, 10, size=(2000, 10))], axis=1)
    assert ab_pairs.ratio_interval(ratios)[1:] == pytest.approx(
        tuple(np.percentile(meds, [2.5, 97.5])))

    # pairs whose base reads 0 have no ratio; a metric with none shows none
    for r in runs:
        r["result"]["metrics"]["spark.failed_tasks"] = {"value": 0.0, "unit": "count"}
    row = ab_pairs.summarize(runs, {})["fold"]["spark.failed_tasks"]
    assert "ratio" not in row

    path = tmp_path / "runs.jsonl"
    path.write_text("".join(json.dumps(r) + "\n" for r in runs))
    assert ab_pairs.main(["--summarize", str(path)]) == 0
    assert f"head/base {cells['ratio']:.4g} [" in capsys.readouterr().out
