"""Shared plumbing for the perfbench workloads: the Spark session, the
per-run work directory, order statistics, process diagnostics and the
result line.

Nothing here imports the engine at module import time; ``start_session``
imports ``chomper_spark.session`` when a run begins, so ``run.py`` can
fail cleanly in a directory that holds only the benchmark.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100]) — an observed sample,
    never an interpolation between two."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except FileNotFoundError:  # a concurrent expire removed it
                pass
    return total


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    vals = [int(x) for x in fields]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def _vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set (VmHWM) of a process, in kB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


@dataclass
class Run:
    """State of one benchmark run: its work directory, the counters of
    the correctness gate, the end-to-end samples and diagnostics."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    root: str  # checkout root: the engine is imported from here
    work: str = ""
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    samples: dict = field(default_factory=dict)  # name -> sample count
    diag: dict = field(default_factory=dict)
    _steal0: tuple = (0, 0)
    _gc0: int = 0
    _t0: float = 0.0

    def __post_init__(self) -> None:
        self._t0 = time.perf_counter()
        self._steal0 = _cpu_jiffies()

    def check(self, ok: bool, what: str) -> None:
        """Count one gated operation; record what went wrong."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def mark(self, phase: str) -> None:
        """Record when a phase ended (seconds since the run started)."""
        self.diag.setdefault("phase_end_s", {})[phase] = round(time.perf_counter() - self._t0, 3)

    def put(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.metrics[name] = (float(value), unit)
        if n is not None:
            self.samples[name] = n

    # ------------------------------------------------------------ session

    def start_session(self, extra_conf: dict | None = None) -> None:
        """Start Spark on ``local[nproc]`` with state, shuffle and JVM
        temp files under the run's work directory."""
        cpus = os.cpu_count() or 4
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark_local"),
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # the pandas-UDF workers import chomper_spark from the checkout
            "spark.executorEnv.PYTHONPATH": self.root,
        }
        conf.update(extra_conf or {})
        from chomper_spark.session import get_spark

        self.spark = get_spark(
            f"perfbench-{self.workload}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gc0 = self.jvm_gc_ms()

    def jvm_gc_ms(self) -> int:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def finish_diagnostics(self) -> None:
        """Peak RSS (a metric) and the ungated diagnostics: CPU steal
        share over the run and JVM GC share of wall time."""
        wall = time.perf_counter() - self._t0
        jvm_kb = _vm_hwm_kb(self.jvm_pid())
        self.put("peak_rss_mb", (_vm_hwm_kb("self") + jvm_kb) / 1024.0, "MB")
        self.diag["jvm_peak_rss_mb"] = round(jvm_kb / 1024.0, 1)
        steal1 = _cpu_jiffies()
        d_total = steal1[1] - self._steal0[1]
        self.diag["cpu_steal_share"] = round(
            (steal1[0] - self._steal0[0]) / d_total if d_total else 0.0, 5
        )
        self.diag["jvm_gc_share"] = round((self.jvm_gc_ms() - self._gc0) / 1000.0 / wall, 5)
        self.diag["run_wall_s"] = round(wall, 3)

    def stop_session(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it to end."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — a JVM that will not stop is killed
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:  # the shared parent, once no other run is using it
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass

    # ------------------------------------------------------------- result

    def result(self) -> dict:
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()
            },
        }
