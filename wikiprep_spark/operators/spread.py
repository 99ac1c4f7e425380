"""Scan-parallelism guard for small/unsplittable inputs.

A parquet table written as one small file (or one row group) scans as ONE
task, so every per-row expression upstream of the first exchange — the
HOF-heavy shingling, hyperplane projections, winnowing hashes that
dominate this engine's per-document operators — serializes onto a single
core no matter how many the cluster has.  This is the "one huge
unsplittable file" input-skew case of the optimization playbook
(spark_optimization_guide.md §2.5): fix at the source when possible,
otherwise repartition immediately after the read.

``spread_small_scan`` is the scale-adaptive form of that fix: when the
frame's planned partition count is below the session's default
parallelism, round-robin repartition up to it (deterministic under task
retry — Spark's sort-before-repartition stays on); when the input already
carries enough splits — any production-sized table — it is a no-op, so
the exchange is never paid at scale.  Partition-count inspection uses the
planned RDD only (no job runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's
    defaultParallelism partitions iff it is currently planned with fewer —
    the under-parallel-scan guard.  Returns ``df`` unchanged when the input
    is already parallel enough (the at-scale path)."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if want <= 1:
        return df
    try:
        have = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning quirk: leave untouched
        return df
    if have >= want:
        return df
    return df.repartition(want)
