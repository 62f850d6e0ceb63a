"""Scale-adaptive input spreading for per-row-heavy map stages.

At bench scale the ``documents`` / ``embeddings`` tables arrive as ONE
parquet split (a few MB under the 128 MB split size), so every
explode / hash / regex / matmul map stage downstream runs in a single
task on one core — the whole cluster idles while one task does the
work. A 100 TB table arrives in thousands of splits and never hits
this.

``spread(df)`` repartitions an input to the cluster's default
parallelism ONLY when its planned partition count is lower — the
adaptive form the optimization guide asks for (§2: derive partitioning
from input, don't tune a constant): big inputs are untouched (no extra
exchange at scale), small inputs pay one tiny exchange (the bench
tables are ~5-15 MB) to buy a parallelism-wide map stage. The sketch
pass (``operators/sketch.py``) uses it too.

Results are partitioning-independent by construction everywhere this
is applied (groupBy/join keys, per-row projections, pure-function
sampling), so plans change but row sets do not — the oracle hash
checks pin that.

Use it on scan-rooted inputs only. The width test reads
``df.rdd.getNumPartitions()``, which is free on a file scan or a
checkpoint, but on an input rooted in a shuffle it is not a planned
count: under AQE the ``.rdd`` conversion runs the input's shuffle map
stages right away and reports the count after coalescing (a probe on
Spark 4.1, local[4], 8 shuffle partitions: one job, count 1). Those
stages then run again when the real query executes. A post-shuffle
input that AQE folds into one partition (the verify stage's
candidates) therefore needs an explicit-count ``repartition`` at the
call site instead; see ``operators/verify.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to cluster parallelism if it is planned
    narrower; no-op for streaming inputs and already-wide inputs."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    if min_partitions is None:
        min_partitions = sc.defaultParallelism
    # planned partitions, not file count: Spark packs small files into
    # fewer splits and splits large files into more (no job runs for a
    # scan-rooted input; see the module docstring for shuffle roots)
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df
