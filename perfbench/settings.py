"""Machine-fit settings, the same for every commit the benchmark compares.

They are derived from the host, printed in every run's report, and set
before the program is imported:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on (``local[n]``).
- ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of physical memory, at most 6 GiB
  (3g on a 15 GiB host): the program's 16g default exceeds such a host.
  The JVM starts with that heap (``-Xms``), every page of it touched
  (``-XX:+AlwaysPreTouch``): left to grow, the heap ended anywhere between
  2 and 3 GiB, which slowed the analytics queries by up to a third run to
  run; committed but untouched, it moved ``peak_rss_mb`` by up to a
  quarter with the timing of the collections.
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVMs' temporary directory point
  inside the run directory, and the JVMs keep no perf-counter file, so
  shuffle files, the shipped package zip and the program's scratch files
  stay in the checkout.
- The Spark UI (and its REST API) is on in traced runs only.
- PostgreSQL runs with fsync off (``-F``), autovacuum off, so table sizes
  repeat run to run, and the default 128 MB ``shared_buffers``.
- ``PgParallelBackend.max_parallel`` = the CPU count.
- Inputs come from ``--seed``; nothing else varies them.
"""

from __future__ import annotations

import os


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("no MemTotal in /proc/meminfo")


def heap_size() -> str:
    return f"{max(1, min(6, int(mem_total_gib() / 4)))}g"


PG_OPTIONS = ["-F", "-c", "autovacuum=off", "-c", "listen_addresses="]
JVM_OPTIONS = "-XX:-UsePerfData"


def apply(run_dir: str) -> dict[str, str]:
    """Export the settings into this process's environment; returns them."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": heap_size(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the JVM would otherwise keep its perf-counter file in /tmp
        "SPARK_LAUNCHER_OPTS": f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    return env


def spark_confs(run_dir: str, env: dict[str, str], ui: bool) -> dict[str, str]:
    """Create-time Spark configs passed to ``session.get_spark``."""
    return {
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"{JVM_OPTIONS} -Djava.io.tmpdir={env['TMPDIR']} -Xms{env['SPARK_GRAFT_DRIVER_MEM']} "
            "-XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
