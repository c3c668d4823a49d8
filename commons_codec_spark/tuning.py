"""Runtime-conf helpers shared by the contract queries."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def workdir(prefix: str) -> str:
    """Throwaway lifecycle dir (lake + checkpoint) for the engine queries.

    Prefers tmpfs — the local analog of executor-local NVMe, the same
    gating as ``session.get_spark``'s shuffle dir: streaming checkpoint
    commits fsync per micro-batch and the lake's copy-on-write rewrites
    whole buckets, both of which serialize on a single virtual disk.
    These dirs hold a few MB and are removed inside the query, so the
    1 GiB headroom guard is ample; SPARK_GRAFT_TMPFS=0 forces disk.
    """
    pref = os.environ.get("SPARK_GRAFT_TMPFS", "auto").lower()
    use = pref in ("1", "true", "yes")
    if pref == "auto":
        try:
            import shutil

            use = shutil.disk_usage("/dev/shm").free >= 1024**3
        except OSError:
            use = False
    base = "/dev/shm" if use and os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def lifecycle_touched_hint() -> bool | str:
    """Touched-bucket hint mode for the lifecycle queries' CDC batches.

    These workloads batch thousands of well-mixed keys into 8-bucket
    tables, so every batch touches every bucket by construction and the
    keys-only prescan is a whole extra job per batch just to learn "all
    of them" — ``touched_hint="all"`` makes the merge the batch's ONE job
    (see PipelineConfig).  ``SPARK_GRAFT_STREAM_HINT_ALL=0`` restores the
    exact prescan (A/B lever).  Production pipelines with large bucket
    counts and small batches keep the default exact prescan.
    """
    if os.environ.get("SPARK_GRAFT_STREAM_HINT_ALL", "1") == "0":
        return True
    return "all"


class shuffle_partitions:
    """Temporarily right-size ``spark.sql.shuffle.partitions`` for a
    micro-batch-scale streaming job.  Streaming disables AQE, so a
    contract-scale micro-batch (thousands of rows) would otherwise run
    every fold/merge shuffle at the session's cluster-scale setting —
    pure task-launch overhead.  Production tuning note: size this to the
    micro-batch, not the table."""

    def __init__(self, spark: SparkSession, n: int):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
