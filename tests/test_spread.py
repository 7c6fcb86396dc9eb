"""spread_scan: the scan-parallelism guard decides from the plan's leaf
scans, without running any Spark job."""

from pyspark.sql import functions as F

from conflation_spark.operators.spread import scan_partitions, spread_scan
from tests.jobs import group_jobs, job_group


def _tiny_parquet(spark, tmp_path) -> str:
    path = str(tmp_path / "tiny.parquet")
    spark.range(200).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def test_single_split_scan_is_spread(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(_tiny_parquet(spark, tmp_path))
    assert scan_partitions(df) == 1
    spread = spread_scan(df, "id")
    assert spread.rdd.getNumPartitions() == cores
    assert sorted(r.id for r in spread.collect()) == list(range(200))


def test_wide_scan_is_left_alone(spark):
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, numPartitions=cores)
    assert scan_partitions(df) == cores
    assert spread_scan(df, "id") is df


def test_guard_runs_no_upstream_shuffle(spark, tmp_path):
    """A derived frame with exchanges over a one-split scan: the guard
    must decide from the scan without executing the shuffles (under AQE,
    ``df.rdd`` would run them)."""
    df = (
        spark.read.parquet(_tiny_parquet(spark, tmp_path))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .repartition(3, "k")
    )
    with job_group(spark, "spread_guard"):
        spread = spread_scan(df, "k")
    assert group_jobs(spark, "spread_guard") == []
    assert spread is not df
    assert sorted((r.k, r.n) for r in spread.collect()) == sorted(
        (k, sum(1 for i in range(200) if i % 7 == k)) for k in range(7)
    )
