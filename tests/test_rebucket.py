"""Bucket-count evolution: ``KeyedLakeTable.rebucket`` rewrites the table
under a new ``pmod(xxhash64(keys), n)`` layout as one snapshot version.

The 100-TB growth path: a table that outgrows its creation-time bucket
count is rebucketed online — state (including tombstones and the
out-of-order guard), applied-batch idempotence, payload schema, version
history, and the change feed must all survive the move, and subsequent
merges (touched-bucket hints included) must target the NEW layout.
"""

from __future__ import annotations

import glob
import json
import os

from commons_codec_spark.lake.table import KeyedLakeTable
from commons_codec_spark.operators.cdc_fold import fold_net_changes
from commons_codec_spark.sources.eventlog import (
    SOURCE_CODE_COLUMNS,
    generate_event_log,
)
from commons_codec_spark.streaming.pipeline import CDCPipeline, PipelineConfig

KEYS = ["repo", "path"]
KEY_SCHEMA = {"repo": "string", "path": "string"}


def _rows(table, **kw):
    df = table.read(**kw)
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def _net(spark, rows):
    df = spark.createDataFrame(
        rows,
        "op string, repo string, path string, commit string, content string,"
        " commit_seq long",
    )
    return fold_net_changes(df, KEYS, ["commit", "content"])


def test_rebucket_preserves_state_and_replay_continues(spark, tmp_path):
    """Rebucket mid-replay: state identical, idempotence intact, and the
    remaining batches (touched-hint pipeline path) land correctly under
    the new layout — final state equals a never-rebucketed twin."""
    log = generate_event_log(
        spark, n_events=3000, n_keys=220, n_repos=6, seed=29, batch_size=600
    )
    cfg = lambda: PipelineConfig(keys=KEYS, image_columns=SOURCE_CODE_COLUMNS)  # noqa: E731

    table = KeyedLakeTable.create(
        spark, str(tmp_path / "t"), key_schema=KEY_SCHEMA, n_buckets=4
    )
    CDCPipeline(spark, table, cfg()).run_replay(log, stop_after_batches=3)
    before = _rows(table, include_tombstones=True)
    applied_before = table.applied_batch_ids()
    assert before and applied_before == {0, 1, 2}

    m = table.rebucket(16)
    assert not m["skipped"] and m["n_buckets"] == 16
    assert table.n_buckets == 16
    assert _rows(table, include_tombstones=True) == before
    assert table.applied_batch_ids() == applied_before
    commit = table._current_commit()
    assert all(0 <= int(b) < 16 for b in commit["buckets"])
    # >4 distinct bucket ids proves the data actually moved to the new hash
    assert len(commit["buckets"]) > 4
    # one core wave of write tasks, still exactly one file per bucket dir
    for path in commit["buckets"].values():
        assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1, path

    # a fresh instance (new process) sees the committed layout even if
    # _meta.json is stale (crash between commit and meta rewrite)
    meta_path = os.path.join(str(tmp_path / "t"), "_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    assert meta["n_buckets"] == 16
    meta["n_buckets"] = 4  # simulate the crash window
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    assert KeyedLakeTable(spark, str(tmp_path / "t")).n_buckets == 16

    # remaining batches through a fresh pipeline (prescan hint path active)
    CDCPipeline(spark, table, cfg()).run_replay(log)
    # re-delivery of an already-applied batch still skips after rebucket
    again = CDCPipeline(spark, table, cfg()).run_replay(log)
    assert all(m.get("skipped") for m in again)

    twin = KeyedLakeTable.create(
        spark, str(tmp_path / "twin"), key_schema=KEY_SCHEMA, n_buckets=4
    )
    CDCPipeline(spark, twin, cfg()).run_replay(log)
    assert _rows(table) == _rows(twin)

    # same-count rebucket is a no-op
    assert table.rebucket(16)["skipped"]


def test_rebucket_keeps_tombstone_ordering_guard(spark, tmp_path):
    """A deleted key's tombstone survives the rewrite (shrink direction):
    a re-delivered stale insert still cannot resurrect it, while a genuine
    newer insert can."""
    table = KeyedLakeTable.create(
        spark, str(tmp_path / "t"), key_schema=KEY_SCHEMA, n_buckets=8
    )
    table.merge(
        _net(spark, [("insert", f"r{i}", "p", "c0", "v0", i) for i in range(20)]),
        batch_id=0,
    )
    table.merge(_net(spark, [("delete", "r3", "p", None, None, 100)]), batch_id=1)

    table.rebucket(2)

    def repos():
        return {r.repo for r in table.read().select("repo").collect()}

    assert repos() == {f"r{i}" for i in range(20)} - {"r3"}

    # stale insert (seq 50 < delete seq 100): rejected by the guard
    table.merge(_net(spark, [("insert", "r3", "p", "c1", "old", 50)]), batch_id=2)
    assert "r3" not in repos()
    # newer insert (seq 200): applies
    table.merge(_net(spark, [("insert", "r3", "p", "c2", "new", 200)]), batch_id=3)
    assert "r3" in repos()


def test_rebucket_changelog_gap_replica_converges(spark, tmp_path):
    """A rebucket emits NO change version (state is identical); a replica
    tailing the feed across the gap version still converges, including
    changes merged after the rebucket."""
    src = KeyedLakeTable.create(
        spark, str(tmp_path / "src"), key_schema=KEY_SCHEMA, n_buckets=4,
        changelog=True,
    )
    log = generate_event_log(
        spark, n_events=2000, n_keys=150, n_repos=5, seed=37, batch_size=500
    )
    cfg = PipelineConfig(keys=KEYS, image_columns=SOURCE_CODE_COLUMNS)
    CDCPipeline(spark, src, cfg).run_replay(log, stop_after_batches=2)
    gap = src.rebucket(16)["version"]
    CDCPipeline(spark, src, cfg).run_replay(log)
    head = src._current_commit()["version"]
    assert gap < head
    import os

    assert not os.path.isdir(src._changes_dir(gap))  # the gap version

    replica = KeyedLakeTable.create(
        spark, str(tmp_path / "rep"), key_schema=KEY_SCHEMA, n_buckets=8
    )
    for v in range(1, head + 1):
        try:
            changes = src.read_changes(v, v).drop("_version")
        except ValueError:
            continue  # gap (rebucket) version
        replica.merge(changes)
    assert _rows(replica) == _rows(src)
    assert _rows(replica, include_tombstones=True) == _rows(
        src, include_tombstones=True
    )


def test_rebucket_discards_crashed_staged_changes(spark, tmp_path):
    """A merge that staged CDF rows and crashed BEFORE committing must not
    leak those rows into the feed when a rebucket claims its version: the
    stale staged dir is discarded, heal-on-read publishes nothing, and a
    replica tailing the feed converges to the true state."""
    import os

    src = KeyedLakeTable.create(
        spark, str(tmp_path / "src"), key_schema=KEY_SCHEMA, n_buckets=4,
        changelog=True,
    )
    src.merge(_net(spark, [("insert", "r1", "p", "c", "v", 1)]), batch_id=0)
    head = src.version()
    # simulate the crash window: a staged dir for the NEXT version whose
    # merge never committed (its net rows were never applied)
    staged = src._staged_changes_dir(head + 1)
    phantom = _net(spark, [("insert", "PHANTOM", "p", "c", "v", 99)])
    phantom.write.mode("overwrite").parquet(staged)

    gap = src.rebucket(8)["version"]
    assert gap == head + 1
    assert not os.path.isdir(staged)  # discarded, not left to be healed
    src._heal_staged_changes()
    assert not os.path.isdir(src._changes_dir(gap))  # nothing published

    src.merge(_net(spark, [("insert", "r2", "p", "c", "v", 2)]), batch_id=1)
    replica = KeyedLakeTable.create(
        spark, str(tmp_path / "rep"), key_schema=KEY_SCHEMA, n_buckets=4
    )
    for v in range(1, src.version() + 1):
        try:
            replica.merge(src.read_changes(v, v).drop("_version"))
        except ValueError:
            continue
    reps = {r.repo for r in replica.read().select("repo").collect()}
    assert reps == {"r1", "r2"}  # no PHANTOM row reached the feed
