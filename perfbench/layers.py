"""The traced run: per-layer metrics, separate from the timed jobs.

The traced job is the workload's job split at its layer boundaries, one
span (and one Spark job group) per call into the package: for the pipeline
workload one ``run_pipeline(..., resume=True, stop_after=<stage>)`` per
checkpoint stage, then ``rollup_medians`` and the config build. Its wall time
minus the untraced ``job_s`` is the tracing overhead.

Inside a checkpoint stage, the layers are split by prefix probes run after
the traced job: each pipeline prefix, rebuilt from the package's public
functions exactly as ``run_pipeline`` composes them, is materialized to a
``noop`` sink, and a layer's self time is its prefix's time minus its
parent prefix's. A stage's ``pipeline.<stage>.write_s`` is measured on its
own by a write probe: the stage's last prefix is cached and materialized,
then ``run_pipeline(..., stop_after=<stage>)`` rewrites the stage's
checkpoint, and Spark's cache manager substitutes the cached prefix, so the
probe times the write and its bookkeeping without the compute. No self time
is a remainder of another, so ``trace.coverage`` (their sum over the traced
job's wall time) shows how much of the job the layers account for.

Per-stage executor, shuffle, spill and GC figures come from Spark's status
store, per-operator figures (Python worker time, broadcast size) from the
SQL status store, both read by job group after the fact. Nothing is traced
inside the package.

A layer a workload never calls gets an empty span: its times are that
span's (microseconds), its counts are 0.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

from workloads import sha256

# run_pipeline's plan constants, needed to rebuild its prefixes
N_BUCKETS = 64
ZOOM = 16
POINT_COLS = ("doc_id", "offset", "time", "lon", "lat")
STAGES = ("filtered_points", "traversals", "measurements")

# layers whose self times add up to the traced job (trace.coverage)
SELF_TIMES = (
    "spans.s", "trace_filter.s", "pipeline.filtered_points.write_s",
    "pipeline.read_stage_s", "candidates.s", "matching.s",
    "pipeline.traversals.write_s", "measurements.s", "pipeline.measurements.write_s",
    "rollup.s", "config_build.s",
)


class Tracer:
    """Spans kept in memory; each span is also the Spark job group (and SQL
    execution description) of every job it starts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def s(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.spans if n == name)

    def wall(self, names) -> float:
        sel = [(t0, t1) for n, t0, t1 in self.spans if n in names]
        return max(t1 for _, t1 in sel) - min(t0 for t0, _ in sel)


def ckpt_mb(manifest: dict) -> float:
    return sum(p["bytes"] for p in manifest["parts"]) / 2**20


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _counted(df, name: str):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


_UNITS = {"": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1, "m": 60, "h": 3600}


def _metric_value(text: str) -> float:
    """A SQL metric as the status store renders it ('8.8 s', '16.0 MiB',
    or 'total (min, med, max ...)\\n8.8 s (...)') in bytes or seconds."""
    m = re.match(r"([\d.,]+)\s*([A-Za-z]*)", text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class StatusStore:
    """Read-only views of Spark's application and SQL status stores."""

    def __init__(self, spark):
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _seq(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def stages(self, groups) -> dict:
        jobs = [
            j for j in self._seq(self._app.jobsList(None))
            if j.jobGroup().isDefined() and j.jobGroup().get() in groups
        ]
        tot = dict(jobs=len(jobs), tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0)
        for sid in {s for j in jobs for s in self._seq(j.stageIds())}:
            st = self._app.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return tot

    def _nodes(self, groups):
        for ex in self._seq(self._sql.executionsList()):
            if ex.description() in groups:
                eid = ex.executionId()
                for n in self._seq(self._sql.planGraph(eid).allNodes()):
                    yield eid, n

    def has_node(self, groups, node: str) -> bool:
        return any(n.name() == node for _, n in self._nodes(groups))

    def sql_metric(self, groups, node: str, metric: str) -> float:
        total = 0.0
        for eid, n in self._nodes(groups):
            if n.name() == node:
                values = {
                    e.getKey(): e.getValue()
                    for e in self._conv.asJava(self._sql.executionMetrics(eid)).entrySet()
                }
                for m in self._seq(n.metrics()):
                    if m.name() == metric and m.accumulatorId() in values:
                        total += _metric_value(values[m.accumulatorId()])
        return total


def traced_run(wl, spark, job_s: float, units: dict) -> tuple[dict, list[str]]:
    """Run the workload's traced job and probes; return the value of every
    per-layer metric in ``units`` (name -> unit) and any failed check."""
    tr = Tracer(spark)
    if wl.kind == "rollup":
        vals, fails, job_spans = _rollup_layers(wl, spark, tr)
    else:
        vals, fails, job_spans = _pipeline_layers(wl, spark, tr)
    st = StatusStore(spark).stages(job_spans)
    traced = tr.wall(job_spans)
    cores = spark.sparkContext.defaultParallelism
    vals.update({
        "spark.jobs": st["jobs"], "spark.tasks": st["tasks"],
        "spark.executor_run_s": st["run_s"], "spark.executor_cpu_s": st["cpu_s"],
        "spark.cpu_util": st["cpu_s"] / (traced * cores), "spark.gc_s": st["gc_s"],
        "trace.job_s": traced, "trace.overhead_s": traced - job_s,
    })
    for name, unit in units.items():
        if unit == "s" and name not in vals:
            with tr.span(name):
                pass  # a layer this workload never calls
            vals[name] = tr.s(name)
    vals["trace.coverage"] = sum(vals[k] for k in SELF_TIMES) / traced
    # counts of a layer the workload never calls are 0
    return {k: vals.get(k, 0.0) for k in units}, fails


def _rollup_layers(wl, spark, tr):
    from conflation_spark.functions.config_build import rollup_to_configs, write_config
    from conflation_spark.operators.rollup import rollup_medians

    d = wl.fresh_dir()
    with tr.span("rollup"):
        m = spark.read.parquet(os.path.join(wl.world, "measurements.parquet"))
        rows = [r.asDict() for r in rollup_medians(m).collect()]
    with tr.span("config_build"):
        path = write_config(rollup_to_configs(rows), os.path.join(d, "results"))
    st = StatusStore(spark).stages(["rollup"])
    vals = {
        "rollup.s": tr.s("rollup"), "config_build.s": tr.s("config_build"),
        "rollup.groups": len(rows), "rollup.shuffle_mb": st["shuffle_write_mb"],
        "rollup.spill_mb": st["spill_mb"],
    }
    fails = [] if wl.check((sha256(path), len(rows))) else ["traced rollup output differs"]
    return vals, fails, ("rollup", "config_build")


def _pipeline_layers(wl, spark, tr):
    from conflation_spark.functions.config_build import rollup_to_configs, write_config
    from conflation_spark.operators.candidates import candidate_edges
    from conflation_spark.operators.matching import match_traces
    from conflation_spark.operators.measurements import derive_measurements
    from conflation_spark.operators.rollup import rollup_medians
    from conflation_spark.operators.trace_filter import filter_traces
    from conflation_spark.plans.pipeline import read_lineage, read_stage, run_pipeline
    from conflation_spark.sources.spans import decode_points, load_documents

    d = wl.fresh_dir()

    # --- the traced job --------------------------------------------------
    job_spans = [f"pipeline.{st}" for st in STAGES] + ["rollup", "config_build"]
    for st in STAGES:
        with tr.span(f"pipeline.{st}"):
            run_pipeline(spark, wl.world, d, resume=True, stop_after=st)
    with tr.span("rollup"):
        rows = [r.asDict() for r in rollup_medians(read_stage(spark, d, "measurements")).collect()]
    with tr.span("config_build"):
        path = write_config(rollup_to_configs(rows), os.path.join(d, "results"))
    fails = [] if wl.check(sha256(path)) else ["traced job config differs from the reference"]
    man = {st: read_lineage(d, st) for st in STAGES}

    # --- prefix probes ---------------------------------------------------
    edges = spark.read.parquet(os.path.join(wl.world, "edges.parquet"))
    probe = {}
    obs = {}

    def run_probe(name, df, count=False):
        if count:
            df, obs[name] = _counted(df, name)
        with tr.span(f"probe.{name}"):
            _noop(df)
        probe[name] = tr.s(f"probe.{name}")

    last_prefix = {}  # stage -> the prefix its checkpoint write consumes
    points = decode_points(load_documents(spark, wl.world)).select(*POINT_COLS)
    run_probe("spans", points, count=True)
    last_prefix["filtered_points"] = filter_traces(points.repartition(N_BUCKETS, "doc_id"))
    run_probe("trace_filter", last_prefix["filtered_points"])
    filtered = read_stage(spark, d, "filtered_points")
    run_probe("read_stage", filtered)
    cands = candidate_edges(filtered, edges, zoom=ZOOM)
    run_probe("candidates", cands, count=True)
    last_prefix["traversals"] = match_traces(filtered, cands, num_partitions=N_BUCKETS)
    run_probe("matching", last_prefix["traversals"])
    last_prefix["measurements"] = derive_measurements(read_stage(spark, d, "traversals"), edges)
    run_probe("measurements", last_prefix["measurements"])

    store = StatusStore(spark)
    fp_rows = man["filtered_points"]["rows"]
    n_trav = man["traversals"]["rows"]
    vals = {
        "pipeline.read_stage_s": probe["read_stage"],
        "candidates.s": max(probe["candidates"] - probe["read_stage"], 0.0),
        "candidates.pairs": obs["candidates"].get["n"],
        "candidates.pairs_per_point": obs["candidates"].get["n"] / max(fp_rows, 1),
        "candidates.broadcast_mb": store.sql_metric(
            ["probe.candidates"], "BroadcastExchange", "data size") / 2**20,
        "matching.s": max(probe["matching"] - probe["candidates"], 0.0),
        "matching.python_s": store.sql_metric(
            ["pipeline.traversals"], "MapInArrow", "time to run Python workers"),
        "matching.python_init_s": sum(
            store.sql_metric(["pipeline.traversals"], "MapInArrow", m)
            for m in ("time to start Python workers", "time to initialize Python workers")
        ),
        "matching.traversals": n_trav,
        "matching.unmatched_ratio": _unmatched_ratio(spark, d),
        "measurements.s": probe["measurements"],
        "measurements.rows": man["measurements"]["rows"],
        "measurements.yield": man["measurements"]["rows"] / max(n_trav, 1),
        "rollup.s": tr.s("rollup"),
        "rollup.groups": len(rows),
        "config_build.s": tr.s("config_build"),
        **{f"pipeline.{st}.ckpt_mb": ckpt_mb(man[st]) for st in STAGES},
        "ckpt_mb": sum(ckpt_mb(man[st]) for st in STAGES),
        **{f"accuracy.{k}": v for k, v in wl.accuracy.items()},
    }
    roll = store.stages(["rollup"])
    vals["rollup.shuffle_mb"] = roll["shuffle_write_mb"]
    vals["rollup.spill_mb"] = roll["spill_mb"]
    filt = store.stages(["pipeline.filtered_points"])
    docs_in = points.select("doc_id").distinct().count()
    docs_kept = filtered.select("doc_id").distinct().count()
    vals.update({
        "spans.s": probe["spans"],
        "spans.points": obs["spans"].get["n"],
        "trace_filter.s": max(probe["trace_filter"] - probe["spans"], 0.0),
        "trace_filter.docs_in": docs_in,
        "trace_filter.docs_kept": docs_kept,
        "trace_filter.keep_ratio": docs_kept / max(docs_in, 1),
        "trace_filter.shuffle_write_mb": filt["shuffle_write_mb"],
        "trace_filter.spill_mb": filt["spill_mb"],
    })

    k = _kernel(spark, wl, cands)
    vals["matching.kernel_s"] = k["kernel_s"]
    vals["matching.kernel_points_per_s"] = k["points_per_s"]
    if k["traversals"] != n_trav:
        fails.append(f"kernel traversals {k['traversals']} != Spark path {n_trav}")

    # last, latest stage first: a rewrite replaces the stage's files, and
    # only the probes of later stages read them
    for st in reversed(STAGES):
        vals[f"pipeline.{st}.write_s"] = _write_probe(spark, tr, wl.world, d, st, last_prefix[st])
        if not store.has_node([f"write.{st}"], "InMemoryTableScan"):
            fails.append(f"write probe of {st} recomputed its prefix")
    return vals, fails, job_spans


def _write_probe(spark, tr, world: str, work_dir: str, stage: str, prefix) -> float:
    """Seconds to rewrite ``stage``'s checkpoint from its cached, already
    materialized prefix, through ``run_pipeline`` itself."""
    from conflation_spark.plans.pipeline import run_pipeline

    prefix.cache()
    _noop(prefix)
    os.remove(os.path.join(work_dir, "lineage", f"{stage}.json"))  # not done any more
    try:
        with tr.span(f"write.{stage}"):
            run_pipeline(spark, world, work_dir, resume=True, stop_after=stage)
    finally:
        prefix.unpersist(blocking=True)
    return tr.s(f"write.{stage}")


def _unmatched_ratio(spark, work_dir: str) -> float:
    from pyspark.sql import functions as F

    per_doc = (
        spark.read.parquet(os.path.join(work_dir, "checkpoints", "traversals"))
        .groupBy("doc_id")
        .agg(F.first("n_unmatched").alias("u"), F.first("n_points").alias("n"))
    )
    row = per_doc.agg(F.sum("u").alias("u"), F.sum("n").alias("n")).collect()[0]
    return (row["u"] or 0) / max(row["n"] or 0, 1)


def _kernel(spark, wl, cands) -> dict:
    """Save the matcher's per-point table for this world, then time the
    Viterbi kernel on it with no Spark in the loop."""
    from conflation_spark.operators.matching import CAND_STRUCT_FIELDS

    import kernel

    path = os.path.join(wl.ctx.run_dir, "kernel_per_point.parquet")
    cols = ["doc_id", "gps_idx", "time", "gc_prev", *CAND_STRUCT_FIELDS]
    kernel_in = kernel.per_point_table(cands.select(*cols).toArrow())
    import pyarrow.parquet as pq

    pq.write_table(kernel_in, path)
    return kernel.time_kernel(path)
