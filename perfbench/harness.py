"""Run context, host-noise record, memory sampling and the result line."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4


def p50(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, as
    ``(value, percentile, samples)``. With ten samples or fewer no
    percentile qualifies, and the maximum is reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    i = n - 11 if n > 10 else n - 1
    return xs[i], 100.0 * (i + 1) / n, n


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class HostNoise:
    """CPUs, load average at start, and steal over the run. The total is
    the first eight ``/proc/stat`` fields only: guest time is already
    counted inside user time, so adding it would count it twice."""

    def __init__(self):
        self.cpus = os.cpu_count()
        self.cpus_usable = len(os.sched_getaffinity(0))
        with open("/proc/loadavg") as f:
            self.loadavg = float(f.read().split()[0])
        self._start = _cpu_fields()

    def read(self) -> dict:
        d = [b - a for a, b in zip(self._start, _cpu_fields())]
        total = sum(d)
        return {"cpus": self.cpus, "cpus_usable": self.cpus_usable,
                "cpus_used": CPUS, "loadavg_start": self.loadavg,
                "steal_pct": round(100.0 * d[7] / total, 3) if total else 0.0}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _statm(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return [int(x) for x in f.read().split()]
    except (OSError, ValueError):
        return []  # exited while sampling


class RssSampler:
    """Peak summed RSS of every process this driver started (the Spark JVM
    and its Python workers), sampled every 100 ms from ``/proc``.

    A child caught between ``vfork`` and ``exec`` (the JVM launching a
    Python worker) still shares its parent's address space and reports the
    parent's RSS; such a child, whose ``statm`` equals its parent's, is not
    counted again."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_parts: list[int] = []  # per-process MB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kids = _children()
        todo, sizes = [(pid, []) for pid in kids.get(os.getpid(), [])], []
        while todo:
            pid, parent = todo.pop()
            statm = _statm(pid)
            if len(statm) > 1 and statm != parent:
                sizes.append(statm[1] * os.sysconf("SC_PAGE_SIZE"))
            todo.extend((kid, statm) for kid in kids.get(pid, []))
        total = sum(sizes)
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_parts = sorted((s >> 20 for s in sizes), reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


@dataclass
class Run:
    """What a workload gets: the session, its seed and time budget, a
    scratch directory and the tracer (off until the traced phase)."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    t_launch: float
    tracer: Tracer

    @classmethod
    def start(cls, args, work: str, t_launch: float) -> "Run":
        from ai_incident_analyst_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CPUS)
        return cls(spark, args.seed, args.seconds, bool(args.trace), work,
                   t_launch, Tracer(spark, enabled=False))

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def stop(self, timeout_s: float = 60.0) -> None:
        """Stop the session and wait until the JVM and every Python worker
        it started have exited (the JVM exits when its stdin closes)."""
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        while _children().get(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)


@dataclass
class Result:
    """One workload run. ``metrics`` uses the workload's own names;
    ``failures`` holds one line per failed output check."""

    setup_s: float
    metrics: dict[str, float]
    attempted: int
    failures: list[str]
    detail: dict = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def failed(self) -> int:
        return len(self.failures)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _unit(name: str) -> str:
    """Unit of a workload's own metric, from its name's suffix."""
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "fraction"


def finish(args, result: Result, noise: dict, peak_rss_mb: float,
           names: dict[str, dict[str, str]]) -> int:
    """Print the readable record, then the result line. A failed output
    check shows in ``correct`` and ``failed``, not in the exit code."""
    bench = spec()
    own = {"setup_s": result.setup_s, "peak_rss_mb": peak_rss_mb,
           **result.metrics}
    own["failed_frac"] = result.failed / max(1, result.attempted)
    for k, v in sorted(own.items()):
        print(f"{args.workload} {k} {v:.6g} {_unit(k)}")
    for line in result.failures:
        print(f"{args.workload} FAILED {line}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "host": noise, "detail": result.detail}))
    if args.trace:
        metrics = {m["name"]: {"value": result.layers.get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        alias = {"setup_s": "setup_s", "peak_rss_mb": "peak_rss_mb",
                 **names[args.workload]}
        metrics = {m["name"]: {"value": own[alias[m["name"]]],
                               "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    correct = result.failed == 0
    print(json.dumps({"correct": correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0
