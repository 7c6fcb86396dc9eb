"""Scan-parallelism guard shared by the text/vector operators.

A parquet source smaller than one scan split plans a SINGLE scan task, so
every downstream per-row expression (shingle explode, token hash, vector
kernel) runs serially on one core no matter how many the session has
(guide §6 input-split sizing; the local fixtures are sub-split-size
single files). The guard adds ONE deterministic hash repartition up to the
session's parallelism only in that case — on a real multi-file table the
scan already has enough partitions and the guard is a no-op, so nothing
here is tuned to local[32]; it adapts to ``defaultParallelism``.

The guard reads the scan's task count off the physical plan's leaves. It
never touches ``df.rdd``: under AQE that runs every upstream shuffle
stage of a derived frame eagerly, then throws the results away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Ensure at least session-parallelism partitions before expensive
    per-row work. Hashes on ``key_cols`` when given (deterministic under
    task retries — guide §2.5 — and rule-10 subset co-partitioning lets
    later groupBys on the same key reuse the exchange); round-robin
    otherwise. No-op when the input's leaf scans already have enough
    partitions."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if scan_partitions(df) >= p:
        return df
    if key_cols:
        return df.repartition(p, *[F.col(c) for c in key_cols])
    return df.repartition(p)


def scan_partitions(df: DataFrame) -> int:
    """Scan tasks of ``df``'s leaves (file scans, checkpoints, local
    rows), summed over the leaves. Building a leaf's RDD plans its splits
    on the driver and starts no Spark job."""
    plan = df._jdf.queryExecution().sparkPlan()
    leaves = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        plan.collectLeaves()
    )
    return sum(leaf.execute().getNumPartitions() for leaf in leaves)


def local_df(spark, rows, schema: str) -> DataFrame:
    """``createDataFrame`` for model-sized local rows via the ARROW path.

    The default path pickles a parallelized RDD of Python rows; combined
    with the single-task writes/collects these frames feed, it costs
    seconds of fixed overhead per call (measured 3.7 s for a 16-row
    frame at the r6 baseline vs 0.2 s through Arrow — guide §6 "Arrow
    for driver transfers"). Values must already be plain Python/numpy
    scalars or lists matching the schema."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    names = st.fieldNames()
    if not rows:
        return spark.createDataFrame([], st)
    data = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    return spark.createDataFrame(pd.DataFrame(data), schema=st)
