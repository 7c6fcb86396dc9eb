"""End-to-end pipeline with checkpointing, lineage + metrics, and resume.

Spark-native analog of the reference's pickle-checkpoint / skip-if-exists
execution (S9/S10/X6: /root/reference/conflation/trace_fetching/mapillary.py:271-288,
valhalla.py:108-122, aggregation.py:81-85). Every stage writes a parquet
checkpoint; a rerun reads finished stages instead of recomputing (the
reference's ``.processed`` rename becomes the parquet ``_SUCCESS`` marker +
a lineage manifest). Per-partition lineage + metrics rows are written
alongside each checkpoint (north_rule), harvested from the parquet footers
— no extra Spark job.

Stage graph:
    points -> filtered_points -> traversals -> measurements -> (rollup, config.json)
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

STAGES = ["filtered_points", "traversals", "measurements"]

# skew-warning thresholds: max/mean partition rows above the ratio on a
# meaningfully-partitioned stage indicates a hot key
SKEW_WARN_RATIO = 4.0
SKEW_MIN_PARTITIONS = 8


def _ckpt(work_dir: str, stage: str) -> str:
    return os.path.join(work_dir, "checkpoints", stage)


def _lineage_path(work_dir: str, stage: str) -> str:
    return os.path.join(work_dir, "lineage", f"{stage}.json")


def _is_done(work_dir: str, stage: str) -> bool:
    return os.path.exists(os.path.join(_ckpt(work_dir, stage), "_SUCCESS")) and os.path.exists(
        _lineage_path(work_dir, stage)
    )


def _table_name(work_dir: str, stage: str) -> str:
    import hashlib

    return f"ckpt_{stage}_{hashlib.md5(work_dir.encode()).hexdigest()[:10]}"


def _write_stage(
    df: DataFrame,
    work_dir: str,
    stage: str,
    inputs: list[str],
    params: dict,
    bucket_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    n_buckets: int = 64,
) -> None:
    path = _ckpt(work_dir, stage)
    t0 = time.time()
    if bucket_by:
        # Bucketed checkpoint (the brief's "bucketing for co-located
        # joins"): the reader scans hash(bucket_by, n_buckets)-partitioned
        # and per-bucket-sorted, so every downstream operator clustered on
        # the same keys — the candidate join + Viterbi repartition — runs
        # with ZERO additional shuffles. repartition first so each bucket
        # is exactly one file (Spark only trusts per-bucket sort order
        # then, and the file count stays n_buckets instead of
        # tasks x buckets); then a narrow coalesce hands each of the
        # session's cores whole buckets, so the stage runs one task per
        # core and each task writes one file per bucket it holds.
        spark = df.sparkSession
        tbl = _table_name(work_dir, stage)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.repartition(n_buckets, *bucket_by)
            .coalesce(spark.sparkContext.defaultParallelism)
            .write.mode("overwrite")
            .bucketBy(n_buckets, *bucket_by)
            .sortBy(*(sort_by or bucket_by))
            .option("path", path)
            .format("parquet")
            .saveAsTable(tbl)
        )
    else:
        df.write.mode("overwrite").parquet(path)
    elapsed = time.time() - t0
    # per-partition lineage + metrics from the parquet footers. Footer reads
    # are tiny but latency-bound; harvest them with a thread pool so the
    # driver-serial slice of each stage barrier stays O(ms) as partition
    # counts grow (round-1 walked them one by one).
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def _part_meta(fn: str) -> dict:
        f = pq.ParquetFile(os.path.join(path, fn))
        return {
            "file": fn,
            "rows": f.metadata.num_rows,
            "bytes": os.path.getsize(os.path.join(path, fn)),
            "row_groups": f.metadata.num_row_groups,
        }

    files = sorted(fn for fn in os.listdir(path) if fn.endswith(".parquet"))
    with ThreadPoolExecutor(max_workers=min(16, max(1, len(files)))) as pool:
        parts = list(pool.map(_part_meta, files))
    total_rows = sum(p["rows"] for p in parts)
    part_rows = [p["rows"] for p in parts] or [0]
    bucket_spec = None
    if bucket_by:
        bucket_spec = {
            "cols": list(bucket_by),
            "sort": list(sort_by or bucket_by),
            "n": n_buckets,
            "ddl": df._jdf.schema().toDDL(),
        }
    mean_rows = sum(part_rows) / len(part_rows)
    skew_ratio = round(max(part_rows) / mean_rows, 2) if mean_rows > 0 else 1.0
    manifest = {
        "stage": stage,
        "inputs": inputs,
        "params": params,
        "bucketed": bucket_spec,
        "rows": total_rows,
        "partitions": len(parts),
        "write_seconds": round(elapsed, 3),
        "completed_at_epoch": int(time.time()),
        # skew indicators: a hot partition shows up as max_rows >> mean
        "max_partition_rows": max(part_rows),
        "min_partition_rows": min(part_rows),
        "mean_partition_rows": round(mean_rows, 1),
        "skew_ratio": skew_ratio,
        "parts": parts,
    }
    # surface skew instead of burying it in JSON: at 100x scale a hot
    # partition (one doc_id/key drawing a disproportionate share) turns
    # into a straggler task — warn while the run context is still visible
    if len(parts) >= SKEW_MIN_PARTITIONS and skew_ratio > SKEW_WARN_RATIO:
        import warnings

        warnings.warn(
            f"stage '{stage}': skewed partitions (max {max(part_rows)} rows "
            f"= {skew_ratio}x the mean {round(mean_rows, 1)} across "
            f"{len(parts)} partitions) — a hot key; consider salting or a "
            "different partition count",
            stacklevel=2,
        )
    os.makedirs(os.path.dirname(_lineage_path(work_dir, stage)), exist_ok=True)
    tmp = _lineage_path(work_dir, stage) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.rename(tmp, _lineage_path(work_dir, stage))  # atomic commit, like S9


def read_lineage(work_dir: str, stage: str) -> dict:
    with open(_lineage_path(work_dir, stage)) as f:
        return json.load(f)


def read_stage(spark: SparkSession, work_dir: str, stage: str) -> DataFrame:
    """Read a finished checkpoint. Bucketed stages come back through the
    catalog so the scan keeps its hash partitioning + per-bucket sort; a
    fresh session (resume after restart — the in-memory catalog is gone)
    re-registers an external bucketed table over the same files from the
    manifest's recorded spec."""
    man = read_lineage(work_dir, stage)
    spec = man.get("bucketed")
    if not spec:
        return spark.read.parquet(_ckpt(work_dir, stage))
    tbl = _table_name(work_dir, stage)
    if not spark.catalog.tableExists(tbl):
        cols = ", ".join(spec["cols"])
        sort = ", ".join(spec["sort"])
        spark.sql(
            f"CREATE TABLE {tbl} ({spec['ddl']}) USING PARQUET "
            f"CLUSTERED BY ({cols}) SORTED BY ({sort}) INTO {spec['n']} BUCKETS "
            f"LOCATION '{_ckpt(work_dir, stage)}'"
        )
    return spark.read.table(tbl)


# what to profile per checkpoint when run_pipeline(profile=True):
# KMV distinct estimates for the key columns a capacity planner asks about
# and histogram quantiles for the value column the output consumers read.
# All sketch-based (operators/sketch.py): one extra scan per stage, state
# bounded at k hashes / n_bins counters — viable at any checkpoint size.
PROFILE_SPECS = {
    "points": {"distinct": ["doc_id"], "quantiles": []},
    "filtered_points": {"distinct": ["doc_id"], "quantiles": []},
    "traversals": {"distinct": ["doc_id", "edge_id"], "quantiles": []},
    "measurements": {
        "distinct": [],
        "quantiles": [("kph", 0.0, 200.0, 256, [0.5, 0.95])],
    },
}
PROFILE_KMV_K = 256


def profile_stage(spark: SparkSession, work_dir: str, stage: str) -> dict:
    """Sketch-profile a finished checkpoint and fold the result into its
    lineage manifest (atomic rewrite, like the original commit). Returns
    the profile dict: ``distinct_<col>_est`` (KMV, ~6% rel. error at
    k=256) and ``<col>_p<q>`` histogram quantiles. Lineage thus carries
    not just row counts but the data-shape numbers the NEXT stage's
    capacity planning needs — without an exact (full-shuffle) pass."""
    from conflation_spark.operators.sketch import (
        histogram_quantile,
        kmv_sketch,
        quantile_histogram,
    )

    spec = PROFILE_SPECS.get(stage)
    if not spec:
        return {}
    df = read_stage(spark, work_dir, stage)
    prof: dict = {}
    for col in spec["distinct"]:
        row = kmv_sketch(df, col, k=PROFILE_KMV_K).collect()[0]
        prof[f"distinct_{col}_est"] = int(row["est_distinct"])
    for col, lo, hi, nb, qs in spec["quantiles"]:
        h = quantile_histogram(df, col, lo, hi, nb)
        h = h.localCheckpoint(eager=True)  # reused per quantile
        try:
            for q in qs:
                got = histogram_quantile(h, q, lo, hi, nb).collect()
                if not got:  # stage empty / column all-null: skip, don't die
                    break
                prof[f"{col}_p{int(q * 100)}"] = round(float(got[0]["q_value"]), 2)
        finally:
            # free the checkpoint blocks (plain unpersist is a no-op for
            # localCheckpoints — CLAUDE.md rule 11)
            from conflation_spark.operators.cluster import _free_local_checkpoint

            _free_local_checkpoint(h)
    man = read_lineage(work_dir, stage)
    man["profile"] = prof
    tmp = _lineage_path(work_dir, stage) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1)
    os.rename(tmp, _lineage_path(work_dir, stage))
    return prof


def run_pipeline(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    zoom: int = 16,
    resume: bool = True,
    stop_after: str | None = None,
    checkpoint_points: bool = False,
    profile: bool = False,
) -> dict:
    """Run (or resume) the full pipeline. Returns stage row counts.

    ``stop_after`` lets the kill/resume test abandon a run mid-pipeline.
    ``checkpoint_points``: the raw decoded points are cheap to recompute
    (a narrow scan+from_json), so by default decode+filter fold into ONE
    checkpointed stage — writing the largest intermediate twice costs more
    than re-decoding on resume. Set True for finer resume granularity.
    """
    from conflation_spark.functions.config_build import rollup_to_configs, write_config
    from conflation_spark.operators.candidates import candidate_edges
    from conflation_spark.operators.matching import match_traces
    from conflation_spark.operators.measurements import derive_measurements
    from conflation_spark.operators.rollup import rollup_medians
    from conflation_spark.operators.trace_filter import filter_traces
    from conflation_spark.sources.spans import decode_points, load_documents

    os.makedirs(work_dir, exist_ok=True)
    params = {"zoom": zoom, "input_dir": input_dir}
    counts: dict[str, int] = {}

    def stage(name: str, build, inputs: list[str], **write_kw) -> DataFrame:
        if resume and _is_done(work_dir, name):
            counts[name] = read_lineage(work_dir, name)["rows"]
            return read_stage(spark, work_dir, name)
        df = build()
        _write_stage(df, work_dir, name, inputs, params, **write_kw)
        counts[name] = read_lineage(work_dir, name)["rows"]
        if profile:
            profile_stage(spark, work_dir, name)
        return read_stage(spark, work_dir, name)

    docs = load_documents(spark, input_dir)
    if checkpoint_points:
        points = stage(
            "points", lambda: decode_points(docs), [f"{input_dir}/documents.parquet"]
        )
        points_input = _ckpt(work_dir, "points")
        if stop_after == "points":
            return counts
    else:
        # only the matcher consumes this checkpoint: drop media_ref/radius
        # before the filter's doc_id shuffle (~40% fewer shuffle bytes);
        # filter_traces adds gps_idx, the matcher's single-shuffle key
        points = decode_points(docs).select("doc_id", "offset", "time", "lon", "lat")
        points_input = f"{input_dir}/documents.parquet"

    # filtered points checkpoint is BUCKETED by doc_id (sorted by
    # doc_id, gps_idx): the traversal stage's candidate scan inherits the
    # hash partitioning through the broadcast cell join, so the matcher's
    # repartition(n_buckets, doc_id) is elided — the resumed traversal
    # stage runs with zero shuffles of the candidate stream.
    # Pre-partition to the BUCKET layout before the filter's windows: the
    # window's clustered-distribution requirement accepts hash(doc_id, 64),
    # and the bucketed write's own repartition then elides — so the stage
    # still pays exactly ONE shuffle, into the 64-bucket layout, and the
    # bucketing itself is free. Buckets are storage, not tasks: the write
    # and the matcher coalesce them to one task per core.
    n_buckets = 64
    filtered = stage(
        "filtered_points",
        lambda: filter_traces(points.repartition(n_buckets, "doc_id")),
        [points_input],
        bucket_by=["doc_id"],
        sort_by=["doc_id", "gps_idx"],
        n_buckets=n_buckets,
    )
    if stop_after == "filtered_points":
        return counts

    edges = spark.read.parquet(f"{input_dir}/edges.parquet")
    traversals = stage(
        "traversals",
        lambda: match_traces(
            filtered,
            candidate_edges(filtered, edges, zoom=zoom),
            num_partitions=n_buckets,
        ),
        [_ckpt(work_dir, "filtered_points"), f"{input_dir}/edges.parquet"],
    )
    if stop_after == "traversals":
        return counts

    measurements = stage(
        "measurements",
        lambda: derive_measurements(traversals, edges),
        [_ckpt(work_dir, "traversals"), f"{input_dir}/edges.parquet"],
    )
    if stop_after == "measurements":
        return counts

    # final rollup + config (aggregation.py:81-85 skip-if-done analog)
    config_path = os.path.join(work_dir, "results", "config.json")
    if not (resume and os.path.exists(config_path)):
        t0 = time.time()
        rollup_rows = [r.asDict() for r in rollup_medians(measurements).collect()]
        configs = rollup_to_configs(rollup_rows)
        write_config(configs, os.path.join(work_dir, "results"))
        os.makedirs(os.path.join(work_dir, "lineage"), exist_ok=True)
        with open(os.path.join(work_dir, "lineage", "rollup_config.json"), "w") as f:
            json.dump({"seconds": round(time.time() - t0, 3)}, f)
    counts["config"] = 1
    return counts
