"""Per-layer metrics of the traced run.

Every name in :data:`LAYER_METRICS` is reported on every workload; a
layer the workload does not call reports 0.  ``BENCHMARK.json`` maps
each to the end-to-end metric it should move.
"""

from __future__ import annotations

import numpy as np

from perfbench import eventlog

FOLD_FNS = (
    "ops.attention_blocked", "ops.xentropy", "ops.row_entropy",
    "ops.sample_categorical", "ops.mlp",
    "backward.attention_bwd", "backward.xentropy_bwd",
    "chain.xentropy_mlp_grads",
)
#: fold calls by path: forward folds run on the broadcast path,
#: backward folds on the tiled path
FOLD_PATHS = ("ops", "backward")
TABLE_WRITES = (
    "tablelog.append_with_stats", "tablelog.merge_table",
    "tablelog.delete_keys_mor", "tablelog.materialize_deletes",
)
TABLE_READS = ("tablelog.snapshot_read_mor", "tablelog.stats_pruned_read_where")
TABLE_COUNTS = {
    "tablelog.commits": "count",
    "tablelog.log_bytes": "bytes",
    "tablelog.live_files": "count",
    "tablelog.candidate_file_ratio": "ratio",
    "tablelog.rows_scanned_per_row_returned": "ratio",
    "tablelog.bytes_written_per_row_appended": "B/row",
}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    units = {"session.get_spark_s": "s"}
    for fn in FOLD_FNS:
        units[f"{fn}.plan_s"] = "s"
        units[f"{fn}.exec_s"] = "s"
    units.update({f"spark.{k}": u for k, u in eventlog.METRICS.items()})
    for path in FOLD_PATHS:
        units[f"{path}.shuffle_bytes_per_cell"] = "B/cell"
        units[f"{path}.jobs_per_call"] = "count"
    for fn in TABLE_WRITES:
        units[f"{fn}.s"] = "s"
    for fn in TABLE_READS:
        units[f"{fn}.s"] = "s"
        units[f"{fn}.plan_s"] = "s"
        units[f"{fn}.exec_s"] = "s"
    units.update(TABLE_COUNTS)
    units["trace.op_p50_s"] = "s"
    return units


def _median(xs) -> float:
    return float(np.median(xs)) if xs else 0.0


def per_layer(records, extra, groups, session_s, counts, op_p50_s) -> dict:
    """``records``: the timed calls; ``extra``: traced-only calls made
    after the window; ``groups``: event-log metrics per job group."""
    units = layer_metric_units()
    out = {k: 0.0 for k in units}
    out["session.get_spark_s"] = _median(session_s)
    ok = [r for r in records + extra if r.error is None]
    for fn in FOLD_FNS + TABLE_READS:
        mine = [r for r in ok if r.call.name == fn]
        out[f"{fn}.plan_s"] = _median([r.plan_s for r in mine])
        out[f"{fn}.exec_s"] = _median([r.exec_s for r in mine])
    for fn in TABLE_WRITES + TABLE_READS:
        out[f"{fn}.s"] = _median([r.latency for r in ok if r.call.name == fn])

    # per call, over the timed calls only
    empty = {k: 0.0 for k in eventlog.METRICS}
    per_call = [groups.get(r.group, empty) for r in records]
    for k in eventlog.METRICS:
        vals = [g[k] for g in per_call]
        agg = max if k == "peak_exec_mem_mb" else (lambda v: sum(v) / len(v))
        out[f"spark.{k}"] = float(agg(vals)) if vals else 0.0
    for path in FOLD_PATHS:
        folds = [(r, g) for r, g in zip(records, per_call)
                 if r.call.name.startswith(path + ".")]
        if folds:
            cells = sum(r.call.cells for r, _ in folds)
            out[f"{path}.shuffle_bytes_per_cell"] = sum(g["shuffle_write_bytes"] for _, g in folds) / cells
            out[f"{path}.jobs_per_call"] = sum(g["jobs"] for _, g in folds) / len(folds)
    out.update(counts)
    out["trace.op_p50_s"] = op_p50_s
    return {k: (float(v), units[k]) for k, v in out.items()}
