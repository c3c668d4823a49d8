"""Safety-rail tests: merge hint enforcement, tombstone compaction,
dialect/control-plane config validation.

These guard the failure modes where a caller mistake would previously
cause *silent* data loss or an obscure mid-stream AnalysisException.
"""

import pyspark.sql.functions as F
import pytest

from commons_codec_spark.lake.table import KeyedLakeTable
from commons_codec_spark.operators.cdc_fold import fold_net_changes
from commons_codec_spark.streaming.pipeline import CDCPipeline, PipelineConfig


def _table(spark, tmp_path, n_buckets=8, name="tbl"):
    return KeyedLakeTable.create(
        spark,
        str(tmp_path / name),
        key_schema={"k": "string"},
        n_buckets=n_buckets,
    )


def _net(spark, rows):
    """Minimal net-change frame: insert rows (aa=SET branch)."""
    df = spark.createDataFrame(rows, "k string, v long, seq long")
    return df.select(
        "k",
        F.lit(1).alias("aa"),
        F.col("seq").alias("aseq"),
        F.lit(1).alias("pa"),
        F.col("seq").alias("pseq"),
        F.struct(F.col("v")).alias("row"),
        F.lit(None).cast("struct<v:bigint>").alias("prow_extra"),
    )


def test_wrong_touched_hint_raises_instead_of_dropping(spark, tmp_path):
    table = _table(spark, tmp_path)
    net = _net(spark, [(f"k{i}", i, 1) for i in range(20)])
    all_buckets = [
        r[0]
        for r in net.withColumn("b", table._bucket_expr()).select("b").distinct().collect()
    ]
    assert len(all_buckets) > 1  # the bad hint below actually misses rows
    v0 = table.version()
    with pytest.raises(ValueError, match="hint missed"):
        table.merge(net, batch_id=1, touched=all_buckets[:1])
    # nothing was committed: version unchanged, batch not marked applied
    assert table.version() == v0
    assert 1 not in table.applied_batch_ids()
    # a correct (superset) hint succeeds
    m = table.merge(net, batch_id=1, touched=all_buckets + [99 % table.n_buckets])
    assert not m["skipped"]
    assert m["rows_written"] == 20
    assert table.read().count() == 20


def test_empty_touched_hint_falls_back_to_discovery(spark, tmp_path):
    table = _table(spark, tmp_path)
    net = _net(spark, [("a", 1, 1), ("b", 2, 1)])
    m = table.merge(net, batch_id=1, touched=[])
    assert not m["skipped"] and m["touched_buckets"] >= 1
    assert table.read().count() == 2


def test_merge_with_empty_result_writes_zero_rows(spark, tmp_path):
    """Updates of keys the table never held change nothing: the merge
    writes no bucket, and AQE drops its rows_written Observation with the
    empty plan, so the count comes from the files instead of failing."""
    table = _table(spark, tmp_path)
    df = spark.createDataFrame(
        [("update", "a", 1, 1), ("update", "b", 2, 2)],
        "op string, k string, v long, commit_seq long",
    )
    m = table.merge(fold_net_changes(df, ["k"], ["v"]), batch_id=1)
    assert not m["skipped"] and m["rows_written"] == 0
    assert table.read().count() == 0
    assert 1 in table.applied_batch_ids()


def test_compact_tombstones_drops_only_stale(spark, tmp_path):
    table = _table(spark, tmp_path)
    # two tombstones (deletes of never-seen keys) + one live row
    net = spark.createDataFrame(
        [("dead-old", 10), ("dead-new", 100)], "k string, seq long"
    ).select(
        "k",
        F.lit(2).alias("aa"),
        F.col("seq").alias("aseq"),
        F.lit(2).alias("pa"),
        F.col("seq").alias("pseq"),
        F.lit(None).cast("struct<v:bigint>").alias("row"),
        F.lit(None).cast("struct<v:bigint>").alias("prow_extra"),
    )
    table.merge(net, batch_id=1)
    table.merge(_net(spark, [("live", 7, 50)]), batch_id=2)
    assert table.read().count() == 1
    assert table.read(include_tombstones=True).count() == 3

    m = table.compact_tombstones(older_than_seq=50)
    assert m["compacted_buckets"] >= 1
    remaining = {
        r.k for r in table.read(include_tombstones=True).select("k").collect()
    }
    assert remaining == {"dead-new", "live"}  # seq-10 tombstone gone
    # idempotent: nothing stale left
    again = table.compact_tombstones(older_than_seq=50)
    assert again["compacted_buckets"] == 0
    # the ordering guard still holds for the surviving tombstone: a stale
    # insert (seq < 100) of the compacted-away horizon can't matter anymore,
    # but one against dead-new must still lose
    stale_ins = _net(spark, [("dead-new", 1, 99)])
    table.merge(stale_ins, batch_id=3)
    assert "dead-new" not in {r.k for r in table.read().select("k").collect()}


def test_handle_control_rejects_custom_decoder(spark, tmp_path):
    table = _table(spark, tmp_path)
    cfg = PipelineConfig(
        keys=["k"],
        image_columns={"k": "S", "v": "N"},
        handle_control=True,
        decoder=lambda df: df,
    )
    with pytest.raises(ValueError, match="handle_control"):
        CDCPipeline(spark, table, cfg)


def test_time_travel_read(spark, tmp_path):
    """Snapshot time travel: read(version=N) sees exactly the state after
    commit N, for any version vacuum hasn't reclaimed."""
    import pytest as _pytest

    table = _table(spark, tmp_path)
    table.merge(_net(spark, [("a", 1, 1)]), batch_id=1)  # v1
    v1 = table.version()
    table.merge(_net(spark, [("b", 2, 2)]), batch_id=2)  # v2
    v2 = table.version()
    assert {r.k for r in table.read().collect()} == {"a", "b"}
    assert {r.k for r in table.read(version=v1).collect()} == {"a"}
    assert {r.k for r in table.read(version=v2).collect()} == {"a", "b"}
    with _pytest.raises(ValueError, match="no snapshot"):
        table.read(version=999)


def test_keyed_lake_table_satisfies_sink_seam(spark, tmp_path):
    """The pipeline is typed against the LakeSink protocol; the custom
    lake must satisfy every member, so a Delta/Iceberg implementation
    can drop in without touching decode/fold logic."""
    import inspect

    from commons_codec_spark.lake.interface import LakeSink
    from commons_codec_spark.lake.table import KeyedLakeTable

    t =KeyedLakeTable.create(
        spark, str(tmp_path / "seam"), key_schema={"k": "string"}, n_buckets=2
    )
    assert isinstance(t, LakeSink)
    # signature compatibility of the load-bearing method
    merge_sig = inspect.signature(KeyedLakeTable.merge)
    assert list(merge_sig.parameters)[:4] == ["self", "net", "batch_id", "touched"]


def test_vacuum_retires_old_commits_and_keeps_bookkeeping(spark, tmp_path):
    """vacuum(keep_last=N) bounds the METADATA too: commit files older
    than the last N are retired (the head lookup stays O(N) over the
    stream's life), while everything cumulative — state, applied batch
    ids, idempotence — survives, and merges continue normally after.
    A root whose own path contains a ``data`` dir must keep its live
    version dirs too."""
    for name in ("tbl", "data/tbl"):
        _check_vacuum(spark, tmp_path, name)


def _check_vacuum(spark, tmp_path, name):
    import os

    table = _table(spark, tmp_path, name=name)
    for i in range(5):
        table.merge(_net(spark, [(f"k{i}", i, i)]), batch_id=i)  # v1..v5
    assert table.version() == 5

    table.vacuum(keep_last=2)
    commit_files = sorted(os.listdir(table._commit_dir()))
    assert commit_files == ["v000000000004.json", "v000000000005.json"]
    # head state + cumulative bookkeeping intact
    assert {r.k for r in table.read().collect()} == {f"k{i}" for i in range(5)}
    assert table.applied_batch_ids() == set(range(5))
    # time travel inside the window works; outside it raises, not corrupts
    assert {r.k for r in table.read(version=4).collect()} == {
        f"k{i}" for i in range(4)
    }
    with pytest.raises(ValueError, match="no snapshot"):
        table.read(version=2)

    # merges (and idempotent skips) continue on the vacuumed table
    assert table.merge(_net(spark, [("k9", 9, 9)]), batch_id=3)["skipped"]
    table.merge(_net(spark, [("k9", 9, 9)]), batch_id=9)
    assert {r.k for r in table.read().collect()} == {
        f"k{i}" for i in range(5)
    } | {"k9"}


def test_concurrent_commit_conflicts_loudly(spark, tmp_path):
    """Two writers racing the same next version must CONFLICT, not
    last-writer-win: under a plain rename the loser's merge would
    silently vanish from history (optimistic-concurrency guard on the
    commit log entry)."""
    table = _table(spark, tmp_path)
    table.merge(_net(spark, [("a", 1, 1)]), batch_id=1)  # v1
    # a second writer (fresh instance = separate driver) commits v2 first
    other = KeyedLakeTable(spark, str(tmp_path / "tbl"))
    other.merge(_net(spark, [("b", 2, 2)]), batch_id=2)  # v2
    # our stale instance then tries to commit v2 too
    with pytest.raises(RuntimeError, match="commit conflict"):
        table._write_commit(2, 3, {}, [1, 3], {})
    # the winner's commit is untouched and the table still reads
    assert other.version() == 2
    assert {r.k for r in table.read().collect()} == {"a", "b"}
