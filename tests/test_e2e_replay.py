"""End-to-end replay: decode → fold → merge vs the sequential oracle.

Mirrors the reference's integration strategy (CrateDB testcontainer replay
asserting final table state, incl. the run-twice idempotence test
`/root/reference/tests/transform/test_dynamodb_cdc.py:349-379`) against the
dict-machine oracle, with sha256 state equality (BASELINE.json:15).
"""

import json

import pyspark.sql.functions as F
import pytest

from commons_codec_spark.functions import dynamodb as ddb
from commons_codec_spark.lake.table import KeyedLakeTable
from commons_codec_spark.operators.cdc_fold import SET, fold_net_changes
from commons_codec_spark.oracle import replay_oracle, state_hash
from commons_codec_spark.sources.eventlog import (
    SOURCE_CODE_COLUMNS,
    SOURCE_CODE_COLUMNS_V0,
    generate_event_log,
)
from commons_codec_spark.streaming.pipeline import CDCPipeline, PipelineConfig

KEYS = ["repo", "path"]
COLUMNS = ["repo", "path", "commit", "lang", "content", "size", "_seq"]


def _oracle_state(events_rows):
    """Decode envelope rows with the pure lattice and replay sequentially."""
    evs = []
    for r in events_rows:
        image = r.image if r.image is not None else r.keys_json
        decoded = {k: ddb.deserialize(v) for k, v in json.loads(image).items()}
        evs.append(
            {
                "op": r.op,
                "event_id": r.event_id,
                "commit_seq": r.commit_seq,
                **decoded,
            }
        )
    return replay_oracle(evs, KEYS)


def _engine_rows(table):
    return [r.asDict() for r in table.read().collect()]


@pytest.fixture(scope="module")
def small_log(spark):
    df = generate_event_log(
        spark, n_events=4000, n_keys=400, n_repos=8, seed=7, batch_size=1000
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_state(small_log):
    return _oracle_state(small_log.collect())


def _fresh_table(spark, tmp_path, n_buckets=8):
    return KeyedLakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        key_schema={"repo": "string", "path": "string"},
        n_buckets=n_buckets,
    )


def _pipeline(spark, table, tmp_path, **kw):
    cfg = PipelineConfig(keys=KEYS, image_columns=SOURCE_CODE_COLUMNS, **kw)
    return CDCPipeline(spark, table, cfg, checkpoint_dir=str(tmp_path / "ckpt"))


def _assert_state_matches(table, oracle_state):
    engine = _engine_rows(table)
    assert len(engine) == len(oracle_state)
    oracle_rows = list(oracle_state.values())
    # keys live in the oracle rows too
    for (repo, path), row in oracle_state.items():
        row.setdefault("repo", repo), row.setdefault("path", path)
    assert state_hash(engine, COLUMNS) == state_hash(oracle_rows, COLUMNS)


def test_replay_matches_oracle(spark, tmp_path, small_log, oracle_state):
    table = _fresh_table(spark, tmp_path)
    pipe = _pipeline(spark, table, tmp_path)
    metrics = pipe.run_replay(small_log)
    assert all(not m.get("skipped") for m in metrics)
    _assert_state_matches(table, oracle_state)


def test_replay_salted_two_phase(spark, tmp_path, small_log, oracle_state):
    table = _fresh_table(spark, tmp_path)
    pipe = _pipeline(spark, table, tmp_path, salt_chunks=5)
    pipe.run_replay(small_log)
    _assert_state_matches(table, oracle_state)


def test_run_twice_is_idempotent(spark, tmp_path, small_log, oracle_state):
    table = _fresh_table(spark, tmp_path)
    pipe = _pipeline(spark, table, tmp_path)
    pipe.run_replay(small_log)
    v1 = table.version()
    again = pipe.run_replay(small_log)  # full re-delivery of every batch
    assert all(m.get("skipped") for m in again)
    assert table.version() == v1
    _assert_state_matches(table, oracle_state)


def test_kill_and_resume(spark, tmp_path, small_log, oracle_state):
    table = _fresh_table(spark, tmp_path)
    pipe = _pipeline(spark, table, tmp_path)
    pipe.run_replay(small_log, stop_after_batches=2)  # "crash" mid-stream
    assert len(table.applied_batch_ids()) == 2
    # new process: fresh pipeline over the same table + checkpoint
    pipe2 = _pipeline(spark, table, tmp_path)
    pipe2.run_replay(small_log)
    _assert_state_matches(table, oracle_state)


def test_schema_evolution_lang_column(spark, tmp_path, small_log, oracle_state):
    """Start with the pre-`lang` schema; discovery must widen it (north rule)."""
    from commons_codec_spark.sources.eventlog import SOURCE_CODE_COLUMNS_V0

    table = _fresh_table(spark, tmp_path)
    cfg = PipelineConfig(keys=KEYS, image_columns=SOURCE_CODE_COLUMNS_V0)
    pipe = CDCPipeline(spark, table, cfg, checkpoint_dir=str(tmp_path / "ck2"))
    pipe.run_replay(small_log)
    assert "lang" in pipe._image_columns
    _assert_state_matches(table, oracle_state)
    # rows written before the cutover read as NULL lang
    langs = {r.lang for r in table.read().select("lang").distinct().collect()}
    assert None in langs or len(langs) > 1


def test_extreme_hot_key_skew(spark, tmp_path):
    """North-rule skew case: one (repo, path) key owns ~80% of the batch.
    Plain and salted folds must agree and produce the key's true LWW row.
    (The closed-form fold has no per-key buffering, so the hot key costs a
    sort run, not an O(events) array; salting additionally splits the sort.)
    """
    hot = [("insert", "hot", "p", f"c{i}", f"v{i}", i) for i in range(0, 8000)]
    # make every 7th a delete and every 3rd an update for op churn
    rows = []
    for i, (op, r, p, c, v, s) in enumerate(hot):
        if i % 7 == 3:
            rows.append(("delete", r, p, None, None, s))
        elif i % 3 == 1:
            rows.append(("update", r, p, c, v, s))
        else:
            rows.append((op, r, p, c, v, s))
    rows += [("insert", f"cold{i}", "p", "c", "v", 100_000 + i) for i in range(2000)]
    df = spark.createDataFrame(
        rows, "op string, repo string, path string, commit string, content string, commit_seq long"
    ).repartition(8)

    plain = fold_net_changes(df, KEYS, ["commit", "content"])
    salted = fold_net_changes(df, KEYS, ["commit", "content"], salt_chunks=16)

    def canon(d):
        return sorted(
            (r.repo, r.path, r.aa, r.aseq, r.pa, r.pseq,
             tuple(r.row) if r.row else None)
            for r in d.collect()
        )

    assert canon(plain) == canon(salted)
    hot_row = [r for r in plain.collect() if r.repo == "hot"][0]
    # last event for the hot key is seq 7999: i%7==3? 7999%7=5; 7999%3=1 -> update
    assert hot_row.pa == SET and hot_row.pseq == 7999


def test_targeted_salting_keeps_null_key_rows(spark):
    """fold_net_changes(hot_keys=[...]) over rows whose key fields are NULL:
    array_contains yields NULL for them, and an uncoalesced predicate would
    drop them from BOTH the hot and cold branches — the salted fold must
    agree with the unsalted fold including NULL-key rows (direct operator
    users don't get the pipeline's DLQ pre-filter)."""
    rows = [("insert", "hot", "p", f"c{i}", f"v{i}", i) for i in range(200)]
    rows += [("insert", None, "p", "c", "vnull", 500),
             ("update", None, "p", "c", "vnull2", 501),
             ("insert", "cold", None, "c", "vhalf", 600)]
    df = spark.createDataFrame(
        rows,
        "op string, repo string, path string, commit string, content string,"
        " commit_seq long",
    )
    plain = fold_net_changes(df, KEYS, ["commit", "content"])
    salted = fold_net_changes(
        df, KEYS, ["commit", "content"], salt_chunks=4,
        hot_keys=[("hot", "p")],
    )

    def canon(d):
        return sorted(
            ((r.repo, r.path, r.aa, r.aseq, r.pa, r.pseq,
              tuple(r.row) if r.row else None) for r in d.collect()),
            key=str,
        )

    assert canon(plain) == canon(salted)
    assert salted.filter(F.col("repo").isNull()).count() == 1


def test_transform_hook_rewrites_payload(spark, tmp_path, small_log, oracle_state):
    """Tikray-hook analog (`mongodb.py:56-59`): pluggable rewrite stage
    between decode and fold, here a plain column expression."""
    table = _fresh_table(spark, tmp_path)
    cfg = PipelineConfig(
        keys=KEYS,
        image_columns=SOURCE_CODE_COLUMNS,
        transform=lambda df: df.withColumn("content", F.upper(F.col("content"))),
    )
    pipe = CDCPipeline(spark, table, cfg, checkpoint_dir=str(tmp_path / "ckpt"))
    pipe.run_replay(small_log)
    engine = _engine_rows(table)
    expect = []
    for (repo, path), row in oracle_state.items():
        row = dict(row)
        row.setdefault("repo", repo), row.setdefault("path", path)
        if row.get("content") is not None:
            row["content"] = row["content"].upper()
        expect.append(row)
    assert state_hash(engine, COLUMNS) == state_hash(expect, COLUMNS)


def test_stale_redelivery_does_not_resurrect_deletes(
    spark, tmp_path, small_log, oracle_state
):
    """At-least-once re-delivery of OLD batches after newer state is applied
    must be a no-op — even bypassing the applied-batch-id shortcut.  This is
    where delete tombstones earn their keep: without them, a re-delivered
    old insert of a since-deleted key resurrects it (the reference relies on
    the sink's current row for ON-CONFLICT; a lake merge needs the tombstone
    to remember the delete's seq)."""
    table = _fresh_table(spark, tmp_path)
    pipe = _pipeline(spark, table, tmp_path)
    pipe.run_replay(small_log)
    _assert_state_matches(table, oracle_state)
    # re-deliver every batch as if it were brand-new (batch_id=None forces a
    # real re-merge instead of the bookkeeping skip)
    bids = sorted(r[0] for r in small_log.select("batch_id").distinct().collect())
    for bid in bids:
        pipe.apply_batch(
            small_log.filter(F.col("batch_id") == bid).drop("batch_id"),
            batch_id=None,
        )
    _assert_state_matches(table, oracle_state)


def test_full_load_then_cdc(spark, tmp_path):
    """S4/S5: an initial full-load snapshot is idempotent (run-twice) and
    loses to the CDC stream's higher seqs (`dynamodb.py:141-159`,
    `tests/transform/test_dynamodb_full.py:112-136`)."""
    def img(repo, path, commit, content):
        return (
            f'{{"repo":{{"S":"{repo}"}},"path":{{"S":"{path}"}},'
            f'"commit":{{"S":"{commit}"}},"content":{{"S":"{content}"}}}}'
        )

    table = _fresh_table(spark, tmp_path, n_buckets=2)
    cfg = PipelineConfig(
        keys=KEYS,
        image_columns={"repo": "S", "path": "S", "commit": "S", "content": "S"},
        discover_columns=False,
    )
    pipe = CDCPipeline(spark, table, cfg, checkpoint_dir=str(tmp_path / "ckpt"))

    snapshot = spark.createDataFrame(
        [(img("r", "a", "c0", "v0"),), (img("r", "b", "c0", "v0"),)],
        "image string",
    )
    pipe.full_load(snapshot, seq=-1)
    assert table.read().count() == 2
    pipe.full_load(snapshot, seq=-1)  # run twice: idempotent
    assert table.read().count() == 2

    cdc = spark.createDataFrame(
        [
            ("update", '{"repo":{"S":"r"},"path":{"S":"a"}}', img("r", "a", "c1", "v1"), 5),
            ("delete", '{"repo":{"S":"r"},"path":{"S":"b"}}', None, 6),
            ("insert", '{"repo":{"S":"r"},"path":{"S":"c"}}', img("r", "c", "c2", "v2"), 7),
        ],
        "op string, keys_json string, image string, commit_seq long",
    )
    pipe.apply_batch(cdc, batch_id=0)
    state = {(r.repo, r.path): (r.commit, r.content) for r in table.read().collect()}
    assert state == {("r", "a"): ("c1", "v1"), ("r", "c"): ("c2", "v2")}


def test_control_events_create_and_drop(spark, tmp_path):
    """E6/E7: create-table learns PKs; drop-table empties the lake snapshot
    and resets the schema cache; all applied in arrival order
    (`aws_dms.py:133-144,172-178`, `test_aws_dms_universal.py:262-271`)."""
    table = _fresh_table(spark, tmp_path, n_buckets=2)
    cfg = PipelineConfig(
        keys=KEYS, image_columns=SOURCE_CODE_COLUMNS, handle_control=True,
        discover_columns=False,
    )
    pipe = CDCPipeline(spark, table, cfg, checkpoint_dir=str(tmp_path / "ckpt"))

    def img(repo, path, commit):
        return (
            f'{{"repo":{{"S":"{repo}"}},"path":{{"S":"{path}"}},'
            f'"commit":{{"S":"{commit}"}}}}'
        )

    rows = [
        # create (learn pk) -> 2 inserts -> drop (reset) -> create -> insert
        ("create-table", "public", "source_code", None, None, 0,
         '{"table-def": {"primary-key": ["repo", "path"]}}'),
        ("insert", "public", "source_code", '{"repo":{"S":"r1"},"path":{"S":"a"}}',
         img("r1", "a", "c1"), 1, None),
        ("insert", "public", "source_code", '{"repo":{"S":"r2"},"path":{"S":"b"}}',
         img("r2", "b", "c2"), 2, None),
        ("drop-table", "public", "source_code", None, None, 3, None),
        ("create-table", "public", "source_code", None, None, 4,
         '{"table-def": {"primary-key": ["repo"]}}'),
        ("insert", "public", "source_code", '{"repo":{"S":"r3"},"path":{"S":"c"}}',
         img("r3", "c", "c3"), 5, None),
    ]
    batch = spark.createDataFrame(
        rows,
        "op string, schema_name string, table_name string, keys_json string, "
        "image string, commit_seq long, control_json string",
    )
    m = pipe.apply_batch(batch, batch_id=0)
    assert m["segments"] == 4
    # only the post-drop insert survives
    final = [(r.repo, r.path, r.commit) for r in table.read().collect()]
    assert final == [("r3", "c", "c3")]
    # drop reset the learned ["repo","path"]; the second create re-learned
    assert pipe.registry.primary_keys("public", "source_code") == ["repo"]
    # re-delivery of the whole batch is a no-op
    again = pipe.apply_batch(batch, batch_id=0)
    assert again.get("skipped")


def test_ordering_guard_rejects_stale_cross_batch_update(spark, tmp_path):
    table = _fresh_table(spark, tmp_path, n_buckets=2)
    rows = [
        ("insert", "r", "p", "c1", "body-new", 100),
        ("update", "r", "p", "c2", "body-stale", 50),  # older seq, later batch
    ]
    df = spark.createDataFrame(
        rows, "op string, repo string, path string, commit string, content string, commit_seq long"
    )
    net1 = fold_net_changes(
        df.filter(F.col("commit_seq") == 100), KEYS, ["commit", "content"]
    )
    net2 = fold_net_changes(
        df.filter(F.col("commit_seq") == 50), KEYS, ["commit", "content"]
    )
    table.merge(net1, batch_id=0)
    table.merge(net2, batch_id=1)  # stale update must lose
    row = table.read().collect()[0]
    assert row.commit == "c1" and row.content == "body-new"


def test_auto_salt_engages_under_skew_only(spark, tmp_path):
    """salt_chunks="auto": the keys-only prescan measures per-key skew and
    engages the two-phase fold only when a hot key dominates; the final
    state must equal the unsalted oracle either way."""
    hot_log = generate_event_log(
        spark, n_events=6000, n_keys=500, n_repos=8, seed=11,
        batch_size=6000, hot_key_frac=0.4,
    ).cache()
    oracle = _oracle_state(hot_log.collect())

    # the engage rule is hot_share × shuffle_partitions > 4: at the test
    # session's 4 partitions no hot key can qualify (correctly — a 40%
    # key is only a 1.6× straggler there), so measure at a realistic
    # partition count and restore after
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    table = _fresh_table(spark, tmp_path)
    cfg = PipelineConfig(
        keys=KEYS, image_columns=SOURCE_CODE_COLUMNS,
        salt_chunks="auto", auto_salt_floor=500,
    )
    pipe = CDCPipeline(spark, table, cfg)
    try:
        metrics = pipe.run_replay(hot_log)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # the skew measurement engaged the two-phase fold...
    assert metrics[0].get("salt_chunks", 0) >= 2
    # ...and the answer is unchanged
    _assert_state_matches(table, oracle)

    # uniform log: auto must NOT engage (hot key under every threshold)
    uni_log = generate_event_log(
        spark, n_events=4000, n_keys=2000, n_repos=8, seed=12, batch_size=4000,
        key_skew=1.0,
    ).cache()
    table2 = KeyedLakeTable.create(
        spark, str(tmp_path / "tbl2"),
        key_schema={"repo": "string", "path": "string"}, n_buckets=8,
    )
    # pre-`lang` schema: discovery rides on the two-level prescan here
    pipe2 = CDCPipeline(spark, table2, PipelineConfig(
        keys=KEYS, image_columns=SOURCE_CODE_COLUMNS_V0,
        salt_chunks="auto", auto_salt_floor=500,
    ))
    m2 = pipe2.run_replay(uni_log)
    assert "salt_chunks" not in m2[0]
    assert "lang" in pipe2._image_columns
    _assert_state_matches(table2, _oracle_state(uni_log.collect()))


def test_full_load_hint_matches_discovery_path(spark, tmp_path):
    """The all-buckets full-load merge hint is a pure optimization: the
    final state is the one exact discovery would find, the hint engages
    every bucket (metrics), and buckets that receive no rows stay absent
    (the superset contract's "extra hinted buckets write nothing" edge).
    ``test_empty_touched_hint_falls_back_to_discovery`` covers merge's
    discovery path itself."""
    def img(path):
        return (
            f'{{"repo":{{"S":"r"}},"path":{{"S":"{path}"}},'
            f'"commit":{{"S":"c0"}},"content":{{"S":"v"}}}}'
        )

    # one key only: with n_buckets=4 the hint names 4 buckets, rows land
    # in exactly one — the other three must not materialize as dirs
    snapshot = spark.createDataFrame([(img("solo"),)], "image string")
    table = KeyedLakeTable.create(
        spark, str(tmp_path / "tbl"),
        key_schema={"repo": "string", "path": "string"}, n_buckets=4,
    )
    cfg = PipelineConfig(
        keys=KEYS, image_columns=SOURCE_CODE_COLUMNS, discover_columns=False,
    )
    pipe = CDCPipeline(spark, table, cfg)

    def rows():
        return sorted(
            (r.repo, r.path, r.commit, r.content) for r in table.read().collect()
        )

    m = pipe.full_load(snapshot, seq=0)
    # the hint names every bucket
    assert m["touched_buckets"] == 4
    # un-hit hinted buckets never materialize (commit lists one bucket)
    assert len(table._current_commit()["buckets"]) == 1
    assert rows() == [("r", "solo", "c0", "v")]

    pipe.full_load(snapshot, seq=0)  # idempotent re-load
    assert len(table._current_commit()["buckets"]) == 1
    assert rows() == [("r", "solo", "c0", "v")]


def test_all_hint_mode_matches_prescan_path(spark, tmp_path, small_log, oracle_state):
    """``touched_hint="all"`` (skip the keys-only prescan, hint every
    bucket) is a pure optimization: final state identical to the prescan
    path and to the sequential oracle, exactly-once bookkeeping intact.
    The lineage metrics that rode on the prescan read 0 — the documented
    trade — and the merge hints the full bucket range."""
    table = _fresh_table(spark, tmp_path)
    pipe = _pipeline(spark, table, tmp_path, touched_hint="all")
    metrics = pipe.run_replay(small_log)

    _assert_state_matches(table, oracle_state)
    assert all(m["touched_buckets"] == table.n_buckets for m in metrics)
    # prescan skipped: the per-batch lineage counters rode on it
    assert all(m["events"] == 0 for m in metrics)
    # exactly-once: re-running the same batches is a no-op
    again = pipe.run_replay(small_log)
    assert all(m.get("skipped") for m in again)
    _assert_state_matches(table, oracle_state)


def test_all_hint_mode_rejects_auto_salt(spark, tmp_path):
    """Auto-salting measures skew in the prescan that "all" skips — the
    combination must fail loudly at construction, not silently never salt."""
    table = _fresh_table(spark, tmp_path)
    with pytest.raises(ValueError, match="prescan"):
        _pipeline(
            spark, table, tmp_path, touched_hint="all", salt_chunks="auto"
        )
