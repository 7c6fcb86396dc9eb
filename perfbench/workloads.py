"""The benchmark's workloads: inputs from a seed, set-up, one timed job,
and the checks on every output.

A workload's ``job`` returns ``(seconds, output)``; only the call into the
package is timed, never the benchmark's own bookkeeping around it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

# Generator arguments of each world, per scale. WARM_WORLD is the small world
# the set-up's warm-up jobs run on; it has a fixed seed so it is made once.
SCALES = {
    "full": {
        "city": dict(n_docs=3000, grid_n=28, n_measurements=4000),
        "rollup": dict(n_docs=12, grid_n=28, n_measurements=2_000_000),
    },
    "tiny": {
        "city": dict(n_docs=120, grid_n=14, n_measurements=4000),
        "rollup": dict(n_docs=12, grid_n=14, n_measurements=4000),
    },
}
WARM_WORLD = dict(n_docs=120, grid_n=14, n_measurements=4000)
WARM_SEED = 0
WARM_JOBS = 2  # warm-up jobs per set-up: the first is ~2x the second, later ones gain ~10%
KEEP_WORLDS = 12  # generated worlds kept in the cache, newest first
MIN_TRAVERSAL_IDENTITY = 0.99


class Context:
    def __init__(self, state_dir: str, run_dir: str, scale: str, seed: int):
        self.state_dir = state_dir
        self.run_dir = run_dir
        self.scale = scale
        self.seed = seed


def world(ctx: Context, args: dict, seed: int) -> str:
    """Generate (once per argument set) and return a world directory."""
    from conflation_spark.datagen import generate

    root = os.path.join(ctx.state_dir, "worlds")
    name = f"s{seed}-d{args['n_docs']}-g{args['grid_n']}-m{args['n_measurements']}"
    out = os.path.join(root, name)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        tmp = os.path.join(root, f".{name}.{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed=seed, **args)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    os.utime(out)
    kept = sorted(
        (d for d in os.listdir(root) if not d.startswith(".")),
        key=lambda d: os.path.getmtime(os.path.join(root, d)),
        reverse=True,
    )
    for d in kept[KEEP_WORLDS:]:
        if d != name:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return out


def sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class Workload:
    kind = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.args = SCALES[ctx.scale]["rollup" if self.kind == "rollup" else "city"]
        self.ref_sha: str | None = None
        self.shas: list[str] = []
        self.warm_shas: list[str] = []
        self._n_dirs = 0
        self.last_dir: str | None = None

    def make_inputs(self) -> None:
        self.warm_world = world(self.ctx, WARM_WORLD, WARM_SEED)
        self.world = world(self.ctx, self.args, self.ctx.seed)

    def fresh_dir(self) -> str:
        """A new, empty work dir; the previous one is kept until this call
        so the final checks can read the last job's output."""
        if self.last_dir:
            shutil.rmtree(self.last_dir, ignore_errors=True)
        self._n_dirs += 1
        self.last_dir = os.path.join(self.ctx.run_dir, "jobs", str(self._n_dirs))
        return self.last_dir

    def warm_up(self, spark) -> float:
        """One warm-up job; returns its seconds."""
        t0 = time.perf_counter()
        self.warm_shas.append(self.warm_job(spark))
        return time.perf_counter() - t0

    def setup_checks(self) -> list[str]:
        """The warm-up jobs all ran on the same input: their config.json
        must be the same, from the cold first job on."""
        if len(set(self.warm_shas)) > 1:
            return [f"warm-up configs differ: {self.warm_shas}"]
        return []

    def prepare(self, spark) -> None:
        """Untimed work before the timed jobs; by default none, and the
        first job's output is the reference."""

    def check(self, sha: str) -> bool:
        if self.ref_sha is None:
            self.ref_sha = sha
        self.shas.append(sha)
        return sha == self.ref_sha

    def config_ok(self) -> float:
        return sum(s == self.ref_sha for s in self.shas) / max(len(self.shas), 1)


class CityFull(Workload):
    """Documents -> config.json through ``run_pipeline`` in a fresh work dir."""

    kind = "pipeline"

    @property
    def input_rows(self) -> int:
        return self.args["n_docs"]

    def warm_job(self, spark) -> str:
        from conflation_spark.plans.pipeline import run_pipeline

        d = self.fresh_dir()
        run_pipeline(spark, self.warm_world, d, resume=False)
        return self._output(d)

    def _output(self, work_dir: str) -> str:
        return sha256(os.path.join(work_dir, "results", "config.json"))

    def job(self, spark):
        from conflation_spark.plans.pipeline import run_pipeline

        d = self.fresh_dir()
        t0 = time.perf_counter()
        run_pipeline(spark, self.world, d, resume=False)
        return time.perf_counter() - t0, self._output(d)

    def final_checks(self, spark) -> list[str]:
        self.accuracy = accuracy(spark, self.world, self.last_dir)
        ident = self.accuracy["traversal_identity"]
        if ident < MIN_TRAVERSAL_IDENTITY:
            return [f"traversal_identity {ident:.4f} < {MIN_TRAVERSAL_IDENTITY}"]
        return []


class RollupWide(Workload):
    kind = "rollup"

    @property
    def input_rows(self) -> int:
        return self.args["n_measurements"]

    def _rollup(self, spark, world_dir: str):
        """The timed job: read, rollup_medians, collect, config build, write."""
        from conflation_spark.functions.config_build import rollup_to_configs, write_config
        from conflation_spark.operators.rollup import rollup_medians

        d = self.fresh_dir()
        t0 = time.perf_counter()
        m = spark.read.parquet(os.path.join(world_dir, "measurements.parquet"))
        rows = [r.asDict() for r in rollup_medians(m).collect()]
        path = write_config(rollup_to_configs(rows), os.path.join(d, "results"))
        return time.perf_counter() - t0, rows, sha256(path)

    def warm_job(self, spark) -> str:
        return self._rollup(spark, self.warm_world)[2]

    def prepare(self, spark) -> None:
        _, rows, self.ref_sha = self._rollup(spark, self.world)
        self.ref_rows = rows
        self.groups: list[int] = []

    def job(self, spark):
        dt, rows, sha = self._rollup(spark, self.world)
        return dt, (sha, len(rows))

    def check(self, out) -> bool:
        sha, n_groups = out
        self.groups.append(n_groups)
        return super().check(sha) and n_groups == len(self.ref_rows)

    def final_checks(self, spark) -> list[str]:
        """The reference rollup against an independent pandas computation:
        group count at all three levels and the world-level exact medians."""
        import pandas as pd

        m = pd.read_parquet(os.path.join(self.world, "measurements.parquet"))
        base = ["density", "road_class", "type"]
        n_expected = (
            m[m.region != ""].groupby(["country", "region", *base]).ngroups
            + m.groupby(["country", *base]).ngroups
            + m.groupby(base).ngroups
        )
        fails = []
        if n_expected != len(self.ref_rows):
            fails.append(f"rollup groups {len(self.ref_rows)} != expected {n_expected}")
        want = m.groupby(base).kph.median()
        got = {
            tuple(r[k] for k in base): r["median_kph"]
            for r in self.ref_rows
            if r["level"] == "world"
        }
        bad = [k for k, v in want.items() if abs(got.get(k, float("nan")) - v) > 1e-9]
        if bad:
            fails.append(f"{len(bad)} world medians differ from pandas, e.g. {bad[0]}")
        return fails


WORKLOADS = {"city_full": CityFull, "rollup_wide": RollupWide}


def accuracy(spark, world_dir: str, work_dir: str) -> dict:
    """Matcher accuracy against the world's planted ``truth.parquet``, with
    the definitions of the repository's ``bench.py``: speed bucket (10 km/h)
    exact match, speed within 10%, and matched edge-sequence identity."""
    from pyspark.sql import functions as F

    from conflation_spark.operators.measurements import derive_measurements
    from conflation_spark.plans.pipeline import read_lineage

    edges = spark.read.parquet(os.path.join(world_dir, "edges.parquet"))
    truth = spark.read.parquet(os.path.join(world_dir, "truth.parquet"))
    trav = spark.read.parquet(os.path.join(work_dir, "checkpoints", "traversals"))
    actual = truth.join(edges.select("edge_id", "length_km"), "edge_id").select(
        "doc_id",
        F.col("seq").alias("edge_seq"),
        "edge_id",
        (F.col("length_km") / (F.col("exit_elapsed") - F.col("enter_elapsed")) * 3600.0)
        .alias("actual_kph"),
    )
    derived = derive_measurements(trav, edges, keep_edge_id=True, keep_seq=True)
    m = derived.join(actual, ["doc_id", "edge_seq", "edge_id"])
    row = m.select(
        F.avg((F.floor(F.col("kph") / 10) == F.floor(F.col("actual_kph") / 10)).cast("double"))
        .alias("bucket"),
        F.avg(
            (F.abs(F.col("kph") - F.col("actual_kph")) / F.col("actual_kph") <= 0.10)
            .cast("double")
        ).alias("within"),
    ).collect()[0]
    same = trav.join(
        truth,
        (trav.doc_id == truth.doc_id)
        & (trav.edge_seq == truth.seq)
        & (trav.edge_id == truth.edge_id),
        "left_semi",
    ).count()
    n_trav = read_lineage(work_dir, "traversals")["rows"]
    return {
        "speed_bucket_match": float(row["bucket"] or 0.0),
        "speed_within_10pct": float(row["within"] or 0.0),
        "traversal_identity": same / max(n_trav, 1),
    }

