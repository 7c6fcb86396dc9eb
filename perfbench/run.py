"""Conflation benchmark: one command, one JSON result line.

    python3 perfbench/run.py --workload city_full --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds its inputs from ``--seed``
with ``conflation_spark.datagen.generate``, sets up one Spark driver at
``local[<cores>]`` (JVM launch, session start and warm-up jobs), runs the
workload's job closed-loop with one client for ``--seconds`` seconds, checks
every output, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` adds a separate traced job
and reports the per-layer metrics (see perfbench/README.md).

Everything it writes lives under ``.perfbench/`` in the checkout; generated
worlds are cached there by seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "4g"  # the package default is 24g; the host is shared


def declared_units() -> tuple[dict, dict]:
    """name -> unit of the end-to-end and the per-layer metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def _other_jvms() -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/comm") as f:
                if f.read().strip() == "java":
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def wait_for_idle_host(timeout_s: float = 60.0) -> None:
    """Timings are only comparable with no other JVM competing for cores."""
    deadline = time.monotonic() + timeout_s
    while (pids := _other_jvms()) and time.monotonic() < deadline:
        time.sleep(1.0)
    if pids:
        print(f"perfbench: warning: other JVMs running: {pids}", file=sys.stderr)


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and the Python workers
    inside the checkout (``SPARK_LOCAL_DIRS`` replaces the package's
    /dev/shm shuffle dir), size the driver heap through the package's own
    ``SPARK_DRIVER_MEMORY`` knob, and let the workers import the package from
    any working directory. Must run before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # this process imports the package from the checkout, never an installed copy
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


class Session:
    """The run's one driver JVM and its SparkSession."""

    def __init__(self, run_dir: str, cores: int):
        self.cores = cores
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            ),
        }
        self.spark = None
        self.proc = None

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def start(self):
        """Launch the JVM and start the session."""
        from conflation_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]", extra_conf=self.conf
        )
        from pyspark import SparkContext

        self.proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait for them."""
        from pyspark import SparkContext

        if self.spark is not None:
            workers = _children(self.jvm_pid())
            self.spark.stop()
            _wait_gone(workers)
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        if self.proc is not None:
            # the gateway JVM exits when its stdin closes
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)


def _wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long smoke-test world")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "conflation_spark")):
        print(f"perfbench: no conflation_spark package under {ROOT}", file=sys.stderr)
        return 2
    end_to_end, per_layer = declared_units()
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    prepare_env(run_dir)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](
        workloads.Context(STATE, run_dir, args.scale, args.seed)
    )
    wl.make_inputs()

    wait_for_idle_host()
    session = Session(run_dir, len(os.sched_getaffinity(0)))
    try:
        t0 = time.perf_counter()
        spark = session.start()
        for i in range(workloads.WARM_JOBS):
            seconds = wl.warm_up(spark)
            print(f"perfbench: warm-up job {i + 1}: {seconds:.3f} s", file=sys.stderr)
        setup_s = time.perf_counter() - t0
        print(f"perfbench: set-up: {setup_s:.3f} s", file=sys.stderr)
        wl.prepare(spark)

        times, attempted, failed, last_ok = [], 0, 0, False
        deadline = time.perf_counter() + args.seconds
        while True:
            attempted += 1
            try:
                seconds, out = wl.job(spark)
            except Exception as e:  # a failed job counts; the run goes on
                print(f"perfbench: job failed: {e!r}", file=sys.stderr)
                last_ok = False
            else:
                times.append(seconds)
                last_ok = wl.check(out)
                print(f"perfbench: job {attempted}: {seconds:.3f} s ok={last_ok}",
                      file=sys.stderr)
            failed += not last_ok
            if time.perf_counter() >= deadline:
                break
        # output-level gates judge the set-ups and the last job's output
        gate_failures = wl.setup_checks() + (wl.final_checks(spark) if last_ok else [])
        for msg in gate_failures:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
        failed += bool(gate_failures)
        if not times:
            return 1
        job_s = statistics.median(times)

        if args.trace:
            import layers

            metrics, trace_failures = layers.traced_run(wl, spark, job_s, per_layer)
            metrics["jvm_peak_rss_mb"] = session.jvm_peak_rss_mb()
            for msg in trace_failures:
                print(f"perfbench: traced check failed: {msg}", file=sys.stderr)
            failed += bool(trace_failures)
        else:
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "input_rows_per_s": wl.input_rows / job_s,
                "config_ok": wl.config_ok(),
            }
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": u}
            for k, u in (per_layer if args.trace else end_to_end).items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
