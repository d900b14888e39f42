"""Scale-adaptive parallelism for Arrow/Python pass inputs.

A small corpus often arrives as ONE parquet file and therefore one scan
partition; every downstream ``mapInPandas`` pass — and every action over a
DataFrame persisted from it — then runs on a single core regardless of how
many the session has, and concurrent actions serialize on the single cached
block. ``widen_for_python`` raises the partition count to the session's
default parallelism ONLY when the current plan is narrower; at real scale
the scan already has >= parallelism splits and the call is a no-op — it
never narrows and never adds a shuffle to the 100 TB path.

Values are unaffected: every kernel fed by this helper is row-wise
(signature/assignment/embedding per row), so partition placement cannot
change any result. Callers must NOT widen inputs whose downstream depends
on partition layout (e.g. ``sample(fraction)`` draws, per-partition ids).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def widen_for_python(df: DataFrame, key: Column | str | None = None) -> DataFrame:
    """Repartition ``df`` up to ``defaultParallelism`` iff it is narrower.

    ``key``: optional column for deterministic hash partitioning (avoids
    the local sort a keyless round-robin repartition pays). Reading the
    partition count costs one plan conversion (analysis + physical
    planning, no job) on the driver at every call, including the per-query
    call sites in the dedup, similarity and semantic operators; the extra
    parallelism outweighs it there. Without RDD or SparkContext access
    (Spark Connect) the input passes through unchanged.
    """
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        nparts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic plans; keep the input
        return df
    if nparts >= par:
        return df
    if key is not None:
        return df.repartition(par, df[key] if isinstance(key, str) else key)
    return df.repartition(par)
