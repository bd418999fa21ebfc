"""What every workload shares: the run context, the Spark session and the
measurements taken from outside the engine (JVM peak RSS, bytes on disk)."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from tracing import JobGroups, Tracer


def cpu_count() -> int:
    """CPUs this process may run on (affinity, not the host's count)."""
    return len(os.sched_getaffinity(0))


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    groups: JobGroups
    work: str
    seed: int
    seconds: float
    cpus: int
    #: per-layer metric name -> value, filled by the workload
    layers: dict[str, float] = field(default_factory=dict)
    #: human-readable lines printed before the result
    notes: list[str] = field(default_factory=list)


def start_session(work: str, cpus: int):
    """The engine's own ``get_spark`` at ``local[cpus]``, with every
    temporary and local directory inside ``work``. Returns (spark, seconds)."""
    from elastic_freight_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.perf_counter() - t0


def jvm_memory_mb(spark) -> dict[str, float]:
    """Memory figures of the Spark JVM at the end of a run, in MiB:
    ``peak_rss`` (VmHWM, from /proc) and ``heap_peak`` / ``nonheap_peak``
    (the peak use of the JVM's heap and non-heap memory pools, summed)."""
    jvm = spark.sparkContext._jvm
    out = {"heap_peak": 0.0, "nonheap_peak": 0.0}
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        kind = "heap_peak" if pool.getType().name() == "HEAP" else "nonheap_peak"
        out[kind] += pool.getPeakUsage().getUsed() / 2**20
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                out["peak_rss"] = int(line.split()[1]) / 1024.0
    return out


def data_files(root: str) -> list[str]:
    """Every parquet data file under ``root``."""
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]


def timed_loop(seconds: float, min_ops: int):
    """Yield op numbers until ``seconds`` have passed and at least
    ``min_ops`` ops ran."""
    t_end = time.perf_counter() + seconds
    n = 0
    while n < min_ops or time.perf_counter() < t_end:
        yield n
        n += 1
