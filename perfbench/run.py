"""Benchmark entry point.

    python3 perfbench/run.py --workload <incident_loop|dashboard_curation|all>
                             --seed N --seconds S --trace 0|1

Runs one workload against the engine on ``local[4]`` from one driver
process, from any working directory. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.
``--workload all`` runs every workload in turn, each in its own process,
and exits non-zero if any output check failed.

Everything the run writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import time

T_LAUNCH = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: workload name → the module that runs it
WORKLOADS = {"incident_loop": "incident_loop",
             "dashboard_curation": "dashboard"}
DRIVER_MEM = "2g"  # the driver JVM's heap, its least and its most

#: BENCHMARK.json's end-to-end names → each workload's own metric names
E2E = {
    "incident_loop": {"throughput_per_s": "rows_per_s",
                      "latency_p50_s": "batch_p50_s"},
    "dashboard_curation": {"throughput_per_s": "ops_per_s",
                           "latency_p50_s": "op_type_p50_s"},
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the repo
    root and this directory importable on the Python workers (the engine
    itself only patches the driver's path)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"  # timestamps collected by the checks read as UTC
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # every JVM the launch starts: temp files in ``tmp``, and no
    # hsperfdata file, which HotSpot writes under /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and SQL execution of the run in the status stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        # the whole heap resident from launch, so that the JVM's RSS does
        # not depend on when the collector chooses to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) \
        + " pyspark-shell"


def _run_all(args) -> int:
    """Each workload in its own process; prints every end-to-end metric."""
    metrics, attempted, failed, correct = {}, 0, 0, True
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        sys.stdout.write("".join(f"{line}\n" for line in lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{w}: exited with {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        correct &= res["correct"]
        metrics.update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = _parse(argv)
    if args.workload == "all":
        return _run_all(args)
    if not os.path.isdir(os.path.join(ROOT, "ai_incident_analyst_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    _environment(work)
    sys.path[:0] = [ROOT, HERE]

    import importlib

    from harness import HostNoise, Run, RssSampler, finish

    noise = HostNoise()
    rss = RssSampler()
    rss.start()
    try:
        ctx = Run.start(args, work, T_LAUNCH)
        try:
            result = importlib.import_module(
                WORKLOADS[args.workload]).run(ctx)
        finally:
            ctx.stop()
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    result.detail["rss_peak_parts_mb"] = rss.peak_parts
    return finish(args, result, noise.read(), rss.peak_mb, E2E)


if __name__ == "__main__":
    sys.exit(main())
