"""The table log's snapshot replay written a second way, in Spark:
the reference the table-log tests check the engine's driver-side
``tablelog._snapshot`` against.  A helper module, not a test file
(pytest collects only ``test_*.py``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemmsql.pipeline.tablelog import (
    _checkpoint_dir,
    _latest_checkpoint_version,
    _present_versions,
    read_log,
)


def _last_action_live(actions: DataFrame, extra_keys: list[str]) -> DataFrame:
    """Delta replay rule over an action frame: last action per
    (``*extra_keys``, path) by version wins; remove beats add inside
    one version; live iff that action is an add."""
    w = Window.partitionBy(*extra_keys, "path").orderBy(
        F.col("v").desc(),
        F.when(F.col("a") == "remove", 0).otherwise(1),
    )
    return (
        actions.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("a") == "add"))
        .drop("rn")
    )


def snapshot_files(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    *,
    from_checkpoint: bool = False,
) -> DataFrame:
    """Live file records at ``version`` (latest when None) as a
    DataFrame.  With ``from_checkpoint`` the replay starts from the
    newest checkpoint at or below ``version`` and applies only later
    commits.

    The reference replay in Spark: a window over the log's action
    frame, independent of the engine's driver-side
    :func:`gemmsql.pipeline.tablelog._snapshot`."""
    present = _present_versions(table_dir)
    ckpt_v = _latest_checkpoint_version(table_dir, version)
    truncated = bool(present) and present[0] > 0
    use_ckpt = ckpt_v is not None and (from_checkpoint or truncated)
    base_v = ckpt_v if use_ckpt else -1
    target = version if version is not None else (
        present[-1] if present else base_v
    )
    pset = set(present)
    missing = [v for v in range(base_v + 1, target + 1) if v not in pset]
    if missing:
        # the log-retention contract's loud half (the vacuum rule's
        # metadata twin): a replay that would need expired commits
        # fails, never returns a partial live set
        raise ValueError(
            f"log expired: version {target} needs commits {missing} "
            f"(earliest retained: "
            f"{present[0] if present else None}, checkpoint: {ckpt_v})"
        )
    log = read_log(spark, table_dir)
    if version is not None:
        log = log.filter(F.col("v") <= version)
    if use_ckpt:
        base = spark.read.parquet(_checkpoint_dir(table_dir, ckpt_v))
        # allowMissingColumns: a checkpoint written before a LOG_SCHEMA
        # widening (writer_features, seq) must stay readable forever
        log = base.unionByName(
            log.filter(F.col("v") > ckpt_v), allowMissingColumns=True
        )
    return _last_action_live(log, [])


def snapshot_delete_files(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Live delete files at ``version`` — the same last-action replay
    as :func:`snapshot_files`, with ``keydel``/``posdel`` as the
    liveness-bearing actions (a ``remove`` of the path — what
    materialization commits — retires it).  The reference for
    ``_snapshot(...).deletes``."""
    log = read_log(spark, table_dir)
    if version is not None:
        log = log.filter(F.col("v") <= version)
    w = Window.partitionBy("path").orderBy(
        F.col("v").desc(),
        F.when(F.col("a") == "remove", 0).otherwise(1),
    )
    return (
        log.filter(F.col("a").isin("keydel", "posdel", "remove"))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("a").isin("keydel", "posdel"))
        .drop("rn")
    )
