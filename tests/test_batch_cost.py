"""Fixed cost of one micro-batch: Spark jobs per ``apply_batch`` and tasks
in the merge's bucket write, counted through ``statusTracker`` job groups
on the tests' ``local[4]`` session.

On small stream batches these counts, not the rows carried, set the batch
wall: column discovery rides on the keys-only prescan (no pass of its
own), and the copy-on-write write runs one core wave of tasks while still
leaving exactly one parquet file per bucket dir.
"""

import glob
import os
import uuid

import pyspark.sql.functions as F

from commons_codec_spark.lake.table import KeyedLakeTable
from commons_codec_spark.sources.eventlog import (
    SOURCE_CODE_COLUMNS,
    generate_event_log,
)
from commons_codec_spark.streaming.pipeline import CDCPipeline, PipelineConfig


def _in_job_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, [SparkJobInfo])."""
    sc = spark.sparkContext
    gid = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return out, [st.getJobInfo(j) for j in sorted(st.getJobIdsForGroup(gid))]


def test_merge_writes_all_buckets_in_one_core_wave(spark, tmp_path):
    table = KeyedLakeTable.create(
        spark, str(tmp_path / "t"), key_schema={"k": "string"}, n_buckets=32
    )
    net = spark.createDataFrame(
        [(f"k{i}", i, 1) for i in range(400)], "k string, v long, seq long"
    ).select(
        "k",
        F.lit(1).alias("aa"),
        F.col("seq").alias("aseq"),
        F.lit(1).alias("pa"),
        F.col("seq").alias("pseq"),
        F.struct(F.col("v")).alias("row"),
        F.lit(None).cast("struct<v:bigint>").alias("prow_extra"),
    )
    m, jobs = _in_job_group(
        spark, lambda: table.merge(net, batch_id=1, touched=list(range(32)))
    )
    assert m["touched_buckets"] == 32 and m["rows_written"] == 400
    # the write is the last job's last stage: one task per core, not per bucket
    write_stage = max(jobs[-1].stageIds)
    assert spark.sparkContext.statusTracker().getStageInfo(write_stage).numTasks == 4
    buckets = table._current_commit()["buckets"]
    assert len(buckets) == 32
    for path in buckets.values():
        assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1, path


def test_apply_batch_runs_six_jobs(spark, tmp_path):
    """Default config, a small stream-shaped batch into a table that
    already holds the key space: the prescan (with discovery fused in) and
    the merge, nothing else — no separate discovery pass."""
    log = generate_event_log(
        spark, n_events=1600, n_keys=300, n_repos=6, seed=3, batch_size=800
    ).cache()
    table = KeyedLakeTable.create(
        spark, str(tmp_path / "t"),
        key_schema={"repo": "string", "path": "string"}, n_buckets=32,
    )
    pipe = CDCPipeline(
        spark, table,
        PipelineConfig(keys=["repo", "path"], image_columns=SOURCE_CODE_COLUMNS),
    )
    batch = lambda b: log.filter(F.col("batch_id") == b).drop("batch_id")  # noqa: E731
    pipe.apply_batch(batch(0), 0)
    m, jobs = _in_job_group(spark, lambda: pipe.apply_batch(batch(1), 1))
    log.unpersist()
    assert m["events"] > 0 and m["touched_buckets"] == 32
    assert len(jobs) == 6
