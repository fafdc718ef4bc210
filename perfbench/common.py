"""Workload definitions and settings shared by the benchmark's processes."""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = len(os.sched_getaffinity(0))

# Heap for every JVM the benchmark starts. The library default (16g, pinned
# and pre-touched) is OOM-killed on a 15 GB host. 2g holds the largest
# working set (one 8192-row Arrow batch of payload per task, plus a narrow
# table of a few MB) with room to spare, and pre-touches in about a second.
HEAP = "2g"

# Inputs per workload: a seed selects one of VARIANTS generated samples.
VARIANTS = 4

# PCM payload cap (ms) the generator writes and the catalog decodes with.
BYTES_CAP_MS = 50

# Payload rules of the audio catalog: they read the PCM payload or the
# features the wide pass derives from it.
PAYLOAD_RULES = frozenset({
    "BYTES_PRESENT_IF_DURATION", "BYTES_LENGTH_CONSISTENT", "AUDIO_CLIPPING",
    "AUDIO_SILENCE", "AUDIO_FREQ_MISMATCH", "PCM_SNR",
})


@dataclass(frozen=True)
class Workload:
    name: str
    shape: str  # "payload": 50 ms PCM column; "metadata": no bytes column
    rows: int

    def data_dir(self) -> str:
        return os.path.join(WORK, "data", f"{self.name}-{self.rows}-x{VARIANTS}")

    def catalog(self):
        from data_check_spark.rules.catalog_audio import audio_catalog
        from data_check_spark.rules.spec import RuleCatalog

        full = audio_catalog(bytes_cap_ms=BYTES_CAP_MS)
        if self.shape == "payload":
            return full
        return RuleCatalog([r for r in full if r.rule_id not in PAYLOAD_RULES])


WORKLOADS = {
    w.name: w
    for w in (
        Workload("audio_payload", "payload", 12_000),
        Workload("metadata_only", "metadata", 32_000),
    )
}


def ensure_repo_importable() -> None:
    """Put the checkout root on sys.path, or exit non-zero without it."""
    if not os.path.isdir(os.path.join(ROOT, "data_check_spark")):
        sys.exit(f"perfbench: no data_check_spark package beside {BENCH_DIR}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def child_env() -> dict[str, str]:
    """Environment that keeps Spark, the JVM and Python temp files inside
    the checkout, makes the package importable in Python workers, pins the
    library's driver heap and core count, and fixes Python's hash seed so
    set iteration order, and with it plan construction, repeats."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # -XX:-UsePerfData: no hsperfdata file under /tmp.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONHASHSEED="0",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def start_spark(app: str):
    from data_check_spark.session import get_spark

    return get_spark(app, master=f"local[{CPUS}]", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": os.path.join(WORK, "tmp"),
    })


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def free_blocks(spark) -> None:
    """Drop every cached or locally checkpointed block, so each pass starts
    from the same heap state as the one before it."""
    for entry in list(spark.sparkContext._jsc.getPersistentRDDs().entrySet().toArray()):
        entry.getValue().unpersist(True)
