"""Full-pipeline E2E: config.json vs the pure-Python oracle chain, plus the
kill/resume checkpoint test (north_rule: resumable with per-partition
lineage + metrics)."""

import json
import os

import pandas as pd

from conflation_spark.plans.pipeline import read_lineage, run_pipeline
from tests import oracle
from tests.jobs import job_group, stage_tasks


def _oracle_config(spark, fixture_dir, traversals_rows, edges_rows):
    """Derive measurements with the oracle loop, rollup with pandas, pivot
    with our (golden-tested) config builder."""
    from conflation_spark.functions.config_build import rollup_to_configs

    edges_by_id = {r["edge_id"]: r for r in edges_rows}
    by_doc = {}
    for r in traversals_rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    meas = []
    for doc, trs in by_doc.items():
        trs.sort(key=lambda x: x["edge_seq"])
        meas.extend(oracle.derive_measurements(trs, edges_by_id))
    pdf = pd.DataFrame(meas, columns=["country", "region", "density", "road_class", "type", "kph"])
    rollup_rows = []
    for (c, reg), g in pdf[pdf["region"] != ""].groupby(["country", "region"]):
        for k, v in g.groupby(["density", "road_class", "type"])["kph"].median().items():
            rollup_rows.append(dict(level="region", country=c, region=reg,
                                    density=k[0], road_class=k[1], type=k[2], median_kph=v))
    for c, g in pdf.groupby("country"):
        for k, v in g.groupby(["density", "road_class", "type"])["kph"].median().items():
            rollup_rows.append(dict(level="country", country=c, region=None,
                                    density=k[0], road_class=k[1], type=k[2], median_kph=v))
    for k, v in pdf.groupby(["density", "road_class", "type"])["kph"].median().items():
        rollup_rows.append(dict(level="world", country=None, region=None,
                                density=k[0], road_class=k[1], type=k[2], median_kph=v))
    return rollup_to_configs(rollup_rows)


def test_full_pipeline_and_resume(spark, fixture_dir, tmp_path):
    work = str(tmp_path / "run1")
    counts = run_pipeline(spark, fixture_dir, work)
    assert counts["filtered_points"] > 0
    assert counts["measurements"] > 0
    cfg_path = os.path.join(work, "results", "config.json")
    assert os.path.exists(cfg_path)

    # lineage manifests exist with per-partition rows
    for st in ["filtered_points", "traversals", "measurements"]:
        man = read_lineage(work, st)
        assert man["rows"] == counts[st]
        assert man["partitions"] >= 1
        assert sum(p["rows"] for p in man["parts"]) == man["rows"]

    # E2E config parity vs oracle chain
    trav_rows = [r.asDict() for r in spark.read.parquet(f"{work}/checkpoints/traversals").collect()]
    edges_rows = [r.asDict() for r in spark.read.parquet(f"{fixture_dir}/edges.parquet").collect()]
    want = _oracle_config(spark, fixture_dir, trav_rows, edges_rows)
    with open(cfg_path) as f:
        got = json.loads(f.read())
    assert got == want

    # resume: nothing recomputed (checkpoint mtimes unchanged)
    mtimes = {
        st: os.path.getmtime(f"{work}/checkpoints/{st}/_SUCCESS")
        for st in ["filtered_points", "traversals", "measurements"]
    }
    counts2 = run_pipeline(spark, fixture_dir, work)
    assert counts2 == counts
    for st, mt in mtimes.items():
        assert os.path.getmtime(f"{work}/checkpoints/{st}/_SUCCESS") == mt


def test_kill_and_resume_midway(spark, fixture_dir, tmp_path):
    work = str(tmp_path / "run2")
    partial = run_pipeline(spark, fixture_dir, work, stop_after="filtered_points")
    assert "traversals" not in partial
    mt_fp = os.path.getmtime(f"{work}/checkpoints/filtered_points/_SUCCESS")
    full = run_pipeline(spark, fixture_dir, work)
    assert full["filtered_points"] == partial["filtered_points"]
    assert os.path.getmtime(f"{work}/checkpoints/filtered_points/_SUCCESS") == mt_fp
    assert os.path.exists(os.path.join(work, "results", "config.json"))


def test_spark_submit_py_files_e2e(fixture_dir, tmp_path):
    """north_rule: the job runs via `spark-submit --py-files <pkg.zip>` —
    the package must resolve from the zip (no repo on sys.path), produce
    the config, and leave per-stage lineage manifests."""
    import json
    import os
    import shutil
    import subprocess
    import sys
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_zip = tmp_path / "conflation_spark.zip"
    with zipfile.ZipFile(pkg_zip, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(repo, "conflation_spark")):
            for fn in files:
                if fn.endswith(".py"):
                    p = os.path.join(root, fn)
                    z.write(p, os.path.relpath(p, repo))
    submit = shutil.which("spark-submit")
    if submit is None:
        import pyspark

        submit = os.path.join(pyspark.__path__[0], "bin", "spark-submit")
    work = tmp_path / "work"
    env = {k: v for k, v in os.environ.items()}
    env["PYSPARK_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            submit, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(pkg_zip),
            os.path.join(repo, "tools", "submit_pipeline.py"),
            "--input", fixture_dir, "--work", str(work),
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert result["rows"]["traversals"] > 0 and result["rows"]["config"] == 1
    assert (work / "results" / "config.json").exists()
    for stage in ("filtered_points", "traversals", "measurements"):
        assert (work / "lineage" / f"{stage}.json").exists()


def test_bucketed_checkpoint_traversal_is_shuffle_free(spark, fixture_dir, tmp_path):
    """The doc_id-bucketed filtered_points checkpoint must make the resumed
    traversal stage exchange-free: the scan's hash partitioning flows
    through the broadcast cell join, the matcher's repartition elides, and
    the per-doc meta aggregation is already clustered."""
    import re

    from conflation_spark.operators.candidates import candidate_edges
    from conflation_spark.operators.matching import match_traces
    from conflation_spark.plans.pipeline import (
        _table_name,
        read_stage,
        run_pipeline,
    )

    work = str(tmp_path / "work")
    run_pipeline(spark, fixture_dir, work, resume=False, stop_after="filtered_points")
    filtered = read_stage(spark, work, "filtered_points")
    edges = spark.read.parquet(f"{fixture_dir}/edges.parquet")
    trav = match_traces(filtered, candidate_edges(filtered, edges), num_partitions=64)
    plan = trav._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
    assert trav.count() > 0
    # fresh-session resume path: catalog lost -> re-register over the files
    spark.sql(f"DROP TABLE IF EXISTS {_table_name(work, 'filtered_points')}")
    refiltered = read_stage(spark, work, "filtered_points")
    assert refiltered.count() == filtered.count()


def test_bucketed_stages_run_one_task_per_core(spark, tmp_path):
    """Storage buckets are not tasks: a fresh run keeps the 64-bucket
    filtered_points layout (one file per bucket) while its bucketed write
    and the traversal stage's MapInArrow each run in defaultParallelism
    tasks."""
    from conflation_spark.datagen import ensure_fixture

    fixture = ensure_fixture("sf0.01")  # enough docs to fill all 64 buckets
    cores = spark.sparkContext.defaultParallelism
    work = str(tmp_path / "tasks_work")
    for stop in ("filtered_points", "traversals"):
        with job_group(spark, f"tasks_{stop}"):
            run_pipeline(spark, fixture, work, resume=True, stop_after=stop)

    assert stage_tasks(spark, "tasks_filtered_points", "WriteFiles") == [cores]
    assert stage_tasks(spark, "tasks_traversals", "MapInArrow") == [cores]

    man = read_lineage(work, "filtered_points")
    assert man["bucketed"]["n"] == 64
    files = [p["file"] for p in man["parts"]]
    assert len(files) == 64
    # bucket files are named ..._<bucket id>.c000...: each bucket exactly once
    assert len({f.split(".")[0].rsplit("_", 1)[1] for f in files}) == 64


def test_skew_warning_on_hot_key(spark, tmp_path):
    """A planted hot doc_id (one key owning most rows) must trigger the
    stage-write skew warning; a uniform key space must not."""
    import warnings

    from pyspark.sql import functions as F

    from conflation_spark.plans.pipeline import _write_stage, read_lineage

    hot = spark.range(4000).select(
        F.lit("hot_doc").alias("doc_id"), F.col("id").alias("v")
    )
    cool = spark.range(512).select(
        F.concat(F.lit("d"), F.col("id") % 256).alias("doc_id"), F.col("id").alias("v")
    )
    work = str(tmp_path / "skew_work")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _write_stage(
            hot.union(cool), work, "hotstage", [], {}, bucket_by=["doc_id"], n_buckets=16
        )
    msgs = [str(w.message) for w in caught]
    assert any("skewed partitions" in m and "hotstage" in m for m in msgs), msgs
    man = read_lineage(work, "hotstage")
    assert man["skew_ratio"] > 4.0

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _write_stage(cool, work, "coolstage", [], {}, bucket_by=["doc_id"], n_buckets=16)
    assert not any("skewed partitions" in str(w.message) for w in caught)


def test_profile_in_lineage_manifests(spark, fixture_dir, tmp_path):
    """run_pipeline(profile=True) folds sketch profiles into the stage
    manifests: KMV distinct estimates near the exact distinct counts and
    kph histogram quantiles near the exact percentiles — checkpoint
    metadata a capacity planner reads without re-scanning the data."""
    from pyspark.sql import functions as F

    from conflation_spark.plans.pipeline import read_lineage, run_pipeline

    work = str(tmp_path / "prof_work")
    run_pipeline(spark, fixture_dir, work, resume=False, profile=True)

    fp = read_lineage(work, "filtered_points")
    assert "profile" in fp
    est = fp["profile"]["distinct_doc_id_est"]
    truth = (
        spark.read.parquet(f"{work}/checkpoints/filtered_points")
        .select("doc_id").distinct().count()
    )
    assert abs(est - truth) / truth < 0.2  # KMV k=256 -> ~6% typical

    tv = read_lineage(work, "traversals")["profile"]
    assert tv["distinct_doc_id_est"] > 0 and tv["distinct_edge_id_est"] > 0

    mp = read_lineage(work, "measurements")["profile"]
    meas = spark.read.parquet(f"{work}/checkpoints/measurements")
    p50 = meas.agg(F.percentile("kph", F.lit(0.5))).collect()[0][0]
    p95 = meas.agg(F.percentile("kph", F.lit(0.95))).collect()[0][0]
    assert abs(mp["kph_p50"] - p50) <= 1.0
    assert abs(mp["kph_p95"] - p95) <= 1.0
    assert mp["kph_p50"] < mp["kph_p95"]

    # default stays profile-free (no extra scans on the bench path)
    work2 = str(tmp_path / "noprof_work")
    run_pipeline(spark, fixture_dir, work2, resume=False)
    assert "profile" not in read_lineage(work2, "filtered_points")
