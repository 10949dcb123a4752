"""Spark session for the benchmark, with every setting derived from the machine.

All scratch state (Spark local dirs, JVM and Python temp files, the
corpus cache) lives under one work directory inside the checkout, so a
run reads and writes nothing outside it.
"""

from __future__ import annotations

import os
import sys
import tempfile

# one scan task per corpus file: a file never shares a task (open cost
# equals the split size) and is never split (files stay far below it)
SPLIT_BYTES = 256 * 1024 * 1024


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def physical_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of physical RAM, between 1 GiB and 8 GiB. In local mode
    the driver heap is the executor heap; Python workers and the OS page
    cache share the rest."""
    quarter = physical_ram_bytes() // 4 // (1024 * 1024)
    return max(1024, min(8192, quarter))


def prepare_environment(root: str, work: str) -> None:
    """Point every temp directory at the work dir and make the product
    package importable by Python workers. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the driver): temp files here, and no
    # perf-counter file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    parts = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(parts))
    tempfile.tempdir = tmp


def build_session(work: str):
    """The product's own ``build_spark`` plus machine-derived overrides."""
    from navigator_document_parser_spark.config import build_spark

    n = cpu_count()
    spark = build_spark(
        "perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.sql.shuffle.partitions": str(n),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.files.maxPartitionBytes": str(SPLIT_BYTES),
            "spark.sql.files.openCostInBytes": str(SPLIT_BYTES),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_gc(spark) -> None:
    """Full JVM GC between passes, so checkpoint blocks and Arrow buffers
    of the previous pass are released before the next one is timed."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
