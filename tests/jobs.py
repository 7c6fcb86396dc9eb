"""What Spark ran for a block of test code, read from the application
status store by job group (no ``.rdd`` probe, which would itself plan or
run jobs)."""

from contextlib import contextmanager


@contextmanager
def job_group(spark, group: str):
    """Tag every job the block starts with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_jobs(spark, group: str) -> list:
    """Status-store JobData of the jobs tagged ``group``."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    return [
        j
        for j in conv.asJava(store.jobsList(None))
        if j.jobGroup().isDefined() and j.jobGroup().get() == group
    ]


def stage_tasks(spark, group: str, node: str) -> list[int]:
    """Task counts of the stages that ran for ``group`` and whose operator
    graph holds ``node`` (skipped stages excluded)."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()

    def names(cluster):
        yield cluster.name()
        for child in conv.asJava(cluster.childClusters()):
            yield from names(child)

    counts = []
    for job in group_jobs(spark, group):
        for sid in conv.asJava(job.stageIds()):
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            if node in names(store.operationGraphForStage(sid).rootCluster()):
                counts.append(stage.numTasks())
    return counts
