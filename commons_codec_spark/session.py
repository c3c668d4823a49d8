"""SparkSession factory tuned for the CDC ingest workload.

Local-mode settings mirror what we would submit on a real cluster via
``spark-submit --py-files``: AQE on (runtime re-plan + skew-join split),
shuffle partitions sized to cores (local) / 2-3x total cores (cluster),
Arrow enabled for the vectorized decode UDFs, and UTC session time zone
so results are comparable against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def core_wave(spark: SparkSession) -> int:
    """One wave of tasks = the session's core count.

    ``defaultParallelism`` follows ``spark.default.parallelism``, which
    :func:`get_spark` sets to 3× cores for SHUFFLE sizing.  A stage whose
    tasks are already balanced wants one wave, not three: more tasks only
    multiply per-task overhead.  Two callers size stages this way: the
    contract queries' scan fan-out (``readers.ensure_parallel``) and the
    lake's bucket writes, which hash several bucket dirs into each task
    (``KeyedLakeTable._write_buckets``).  On a non-local master,
    ``defaultParallelism`` IS the cluster's total core count (the one-wave
    answer).
    """
    master = spark.sparkContext.master or ""
    if master.startswith("local["):
        n = master[len("local["):-1]
        if n == "*":
            return os.cpu_count() or spark.sparkContext.defaultParallelism
        try:
            return max(int(n), 1)
        except ValueError:
            pass
    return spark.sparkContext.defaultParallelism


def get_spark(
    app_name: str = "commons-codec-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession on ``local[cpus]``.

    On a real cluster the same conf applies minus ``master``; nothing here
    is local-only except the master URL itself.
    """
    cpus = cpus or default_parallelism()
    # 3x cores: multiple reduce waves even out skewed task durations; AQE
    # coalesces back when partitions come out tiny.
    shuffle_partitions = shuffle_partitions or max(cpus * 3, 8)
    # Make this package importable inside Python workers regardless of the
    # driver's cwd — the local-mode analog of `spark-submit --py-files`.
    # Workers inherit PYTHONPATH from the JVM, which inherits it from us,
    # so this must happen before the SparkContext starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting; essential at 100 TB where static planning misestimates.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # Arrow transfer for pandas UDFs (the decode path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Python-dict map semantics engine-wide: duplicate map keys keep the
        # LAST entry instead of throwing DUPLICATED_MAP_KEY.  The decoders
        # model dict building (reference kernels assign in order, later
        # wins), and the default EXCEPTION policy would let one colliding
        # payload kill a whole batch.  An explicit O(n²) entry-dedup was
        # measured 6× slower on the TTS/TTN decode (interpreted
        # slice+exists per element); the native policy costs nothing.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Parquet scan granularity.  16 MB keeps map-side parallelism high at
        # the GB-scale local bench (677 MB input / 128 MB default = 6 tasks —
        # measured to cap local[32] at local[6] throughput); on a 100 TB
        # cluster raise it back to 128 MB via extra_conf to bound task count.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # AQE's coalescing target: the 64 MB default folds a ~1 GB shuffle
        # into ~19 reduce tasks, silently capping parallelism below 32 cores
        # (measured: 60% CPU utilisation).  16 MB keeps a full wave of tasks.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(16 * 1024 * 1024))
        # zstd shuffle blocks: trades (shared, non-scaling) memory/disk
        # bandwidth for (scaling) CPU — measured +30% replay throughput and
        # a 2->8-core efficiency jump on the string-heavy CDC shuffle.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash join when its size conditions
        # hold (guide: SMJ is the always-works-but-slowest strategy): the
        # CDC merge's full-outer join — too big to broadcast by design —
        # becomes ShuffledHashJoin BuildLeft with one sort fewer (plan
        # pair: plans/r06/merge_join_before/after.txt; the dedup/ANN
        # joins are already broadcast at contract scale and unaffected).
        # Interleaved A/B on the merge-path queries, min AND median:
        # mongo_full_load 2.25/2.31 vs 2.69/2.87, cdc_changelog_replica
        # 4.71/5.03 vs 5.09/5.75, cdc_multi_table_routing 2.87/2.98 vs
        # 2.93/3.27, cdc_full_load_then_cdc 3.04/3.54 vs 4.07/4.70; the
        # 8M-event headline is neutral within window noise (two
        # reversed-order A/Bs).  Build-side OOM risk is bounded by the
        # planner's own size conditions + AQE skew split (applies to SHJ
        # too); SPARK_GRAFT_PREFER_SMJ=1 restores the default (A/B lever).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true" if os.environ.get("SPARK_GRAFT_PREFER_SMJ") == "1" else "false",
        )
        # Constraint propagation spends serial DRIVER time inferring
        # redundant predicates over this engine's wide generated expression
        # trees (format_string envelopes, the fold's when-trees, lang_id's
        # CASE chains) on every plan — and nothing here depends on the
        # inference: key-null filtering is explicit (key_ok), the merge
        # join is full-outer (no null-pruning inference applies), and the
        # dedup/ANN join keys are constructed non-null.  Interleaved A/B,
        # 10/10 queries faster on min AND median with it off — stable
        # examples: text_unigram_logprob 0.52/0.55 vs 0.73/0.76,
        # cdc_control_drop_reset 2.81/2.87 vs 2.99/3.08,
        # cdc_full_load_then_cdc 2.70/2.80 vs 3.07/3.15, corpus_curation
        # 1.27/1.28 vs 1.38/1.48.  Results are unchanged by construction
        # (constraints only ADD inferred filters); re-verified against the
        # DuckDB oracle.  SPARK_GRAFT_CONSTRAINT_PROP=1 restores the
        # default (A/B lever) — revisit if a future query relies on
        # inferred join-key pushdown instead of explicit filters.
        .config(
            "spark.sql.constraintPropagation.enabled",
            "true" if os.environ.get("SPARK_GRAFT_CONSTRAINT_PROP") == "1"
            else "false",
        )
    )
    # Shuffle/spill dir: prefer tmpfs — the local-mode analog of the local
    # NVMe a real executor would have.  A single virtual disk serializes
    # shuffle I/O and masks CPU scaling entirely.  Gated: tmpfs capacity is
    # RAM, so only use it when it actually has headroom (>= 8 GiB free), and
    # allow forcing either way via SPARK_GRAFT_TMPFS=1/0 — a spill-heavy
    # workload on a small /dev/shm must fall back to disk, not ENOSPC.
    shm = "/dev/shm/spark-local"
    tmpfs_pref = os.environ.get("SPARK_GRAFT_TMPFS", "auto").lower()
    use_tmpfs = tmpfs_pref in ("1", "true", "yes")
    if tmpfs_pref == "auto":
        try:
            import shutil

            use_tmpfs = shutil.disk_usage("/dev/shm").free >= 8 * 1024**3
        except OSError:
            use_tmpfs = False
    if use_tmpfs:
        try:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
