"""Control-plane completeness: ignore_ddl, column-type learning driving D8
re-parse, Mongo full load, crash-mid-segments convergence.

Mirrors reference behavior: DDL skip (SkipOperation,
``tests/transform/test_aws_dms_universal.py:289-300``), drop-resets-cache
(``:262-271``), MongoDB full load
(``tests/transform/mongodb/test_mongodb_full.py:60-96``).
"""

import json

import pyspark.sql.functions as F
import pytest

from commons_codec_spark.functions.mongodb import make_mongo_full_load_decoder
from commons_codec_spark.lake.table import KeyedLakeTable
from commons_codec_spark.registry import SchemaRegistry
from commons_codec_spark.streaming.pipeline import CDCPipeline, PipelineConfig


def _table(spark, tmp_path, keys=None):
    return KeyedLakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        key_schema=keys or {"k": "string"},
        n_buckets=4,
    )


def _batch(spark, rows):
    """rows: (op, seq, keys_json, image) — default-dialect envelope frame."""
    return spark.createDataFrame(
        rows, "op string, commit_seq long, keys_json string, image string"
    )


def _img(k, v=None, props=None):
    fields = [f'"k":{{"S":"{k}"}}']
    if v is not None:
        fields.append(f'"v":{{"N":"{v}"}}')
    if props is not None:
        fields.append(f'"props":{{"S":"{json.dumps(props)[1:-1].join(["{", "}"])  }"}}')
    return "{" + ",".join(fields) + "}"


def test_ignore_ddl_skips_create_and_drop(spark, tmp_path):
    table = _table(spark, tmp_path)
    cfg = PipelineConfig(
        keys=["k"], image_columns={"k": "S", "v": "N"},
        handle_control=True, ignore_ddl=True,
    )
    pipe = CDCPipeline(spark, table, cfg)
    rows = [
        ("insert", 1, '{"k":{"S":"a"}}', '{"k":{"S":"a"},"v":{"N":"1"}}'),
        ("drop-table", 2, None, None),
        ("insert", 3, '{"k":{"S":"b"}}', '{"k":{"S":"b"},"v":{"N":"2"}}'),
    ]
    pipe.apply_batch(_batch(spark, rows), batch_id=1)
    # the drop was IGNORED: both inserts survive
    assert {r.k for r in table.read().collect()} == {"a", "b"}
    # and the registry kept its state (no reset)
    assert pipe.registry.get("public", "source_code").ignore_ddl is True


def test_drop_table_resets_without_ignore_ddl(spark, tmp_path):
    table = _table(spark, tmp_path)
    cfg = PipelineConfig(
        keys=["k"], image_columns={"k": "S", "v": "N"}, handle_control=True
    )
    pipe = CDCPipeline(spark, table, cfg)
    rows = [
        ("insert", 1, '{"k":{"S":"a"}}', '{"k":{"S":"a"},"v":{"N":"1"}}'),
        ("drop-table", 2, None, None),
        ("insert", 3, '{"k":{"S":"b"}}', '{"k":{"S":"b"},"v":{"N":"2"}}'),
    ]
    pipe.apply_batch(_batch(spark, rows), batch_id=1)
    assert {r.k for r in table.read().collect()} == {"b"}


def test_doomed_segment_elision_and_changelog_exception(spark, tmp_path):
    """A segment whose merge a LATER in-batch drop-table wipes is skipped
    (don't compute what you throw away) — but NOT on a changelog table,
    whose CDF feed must still record the pre-drop merges."""
    rows = [
        ("insert", 1, '{"k":{"S":"a"}}', '{"k":{"S":"a"},"v":{"N":"1"}}'),
        ("drop-table", 2, None, None),
        ("insert", 3, '{"k":{"S":"b"}}', '{"k":{"S":"b"},"v":{"N":"2"}}'),
    ]
    cfg = PipelineConfig(
        keys=["k"], image_columns={"k": "S", "v": "N"}, handle_control=True
    )

    plain = _table(spark, tmp_path)
    pipe = CDCPipeline(spark, plain, cfg)
    m = pipe.apply_batch(_batch(spark, rows), batch_id=1)
    assert m["skipped_doomed_segments"] == 1
    assert {r.k for r in plain.read().collect()} == {"b"}

    clog = KeyedLakeTable.create(
        spark, str(tmp_path / "clog"), key_schema={"k": "string"},
        n_buckets=4, changelog=True,
    )
    pipe2 = CDCPipeline(spark, clog, cfg)
    m2 = pipe2.apply_batch(_batch(spark, rows), batch_id=1)
    assert "skipped_doomed_segments" not in m2
    assert {r.k for r in clog.read().collect()} == {"b"}
    # the pre-drop segment's net rows ARE in the feed (version 1)
    feed = clog.read_changes(1, clog.version()).collect()
    assert any(r.k == "a" for r in feed)


def test_doomed_segment_keeps_discovery_and_dlq(spark, tmp_path):
    """Elision must not change anything BUT the wiped merge: (a) a new
    payload column discovered from a doomed segment's images still widens
    the decode schema (the evolved image_columns survive the drop, so the
    post-drop state must carry the all-null column exactly as without
    elision); (b) a dlq_dir pipeline does not elide at all — the doomed
    segment's poison rows are audit output the drop does not erase."""
    rows_discovery = [
        ("insert", 1, '{"k":{"S":"a"}}',
         '{"k":{"S":"a"},"v":{"N":"1"},"extra":{"S":"seen"}}'),
        ("drop-table", 2, None, None),
        ("insert", 3, '{"k":{"S":"b"}}', '{"k":{"S":"b"},"v":{"N":"2"}}'),
    ]
    cfg = PipelineConfig(
        keys=["k"], image_columns={"k": "S", "v": "N"}, handle_control=True
    )
    t1 = _table(spark, tmp_path)
    pipe = CDCPipeline(spark, t1, cfg)
    m = pipe.apply_batch(_batch(spark, rows_discovery), batch_id=1)
    assert m["skipped_doomed_segments"] == 1
    out = t1.read().collect()
    assert {r.k for r in out} == {"b"}
    assert "extra" in t1.read().columns and out[0].extra is None

    rows_dlq = [
        # null-decoding key -> DLQ row inside the doomed segment
        ("insert", 1, '{"k":{"S":"a"}}', '{"nokey":{"S":"x"}}'),
        ("drop-table", 2, None, None),
        ("insert", 3, '{"k":{"S":"b"}}', '{"k":{"S":"b"},"v":{"N":"2"}}'),
    ]
    t2 = KeyedLakeTable.create(
        spark, str(tmp_path / "t2"), key_schema={"k": "string"}, n_buckets=4
    )
    dlq = str(tmp_path / "dlq")
    cfg_dlq = PipelineConfig(
        keys=["k"], image_columns={"k": "S", "v": "N"},
        handle_control=True, dlq_dir=dlq, discover_columns=False,
    )
    pipe2 = CDCPipeline(spark, t2, cfg_dlq)
    m2 = pipe2.apply_batch(_batch(spark, rows_dlq), batch_id=1)
    assert "skipped_doomed_segments" not in m2  # dlq pipelines never elide
    assert spark.read.parquet(dlq).count() == 1  # the poison row persisted


@pytest.mark.parametrize("touched_hint", [True, "all"])
def test_create_table_column_types_drive_reparse(spark, tmp_path, touched_hint):
    """A create-table control event carrying MAP annotations makes the
    pipeline re-parse the JSON-in-string column for subsequent data (D8).
    Under the all-buckets hint too: the empty pre-DDL segment must not bake
    its string-typed decode of ``props`` into the commit."""
    table = _table(spark, tmp_path)
    cfg = PipelineConfig(
        keys=["k"],
        image_columns={"k": "S", "props": "S"},
        handle_control=True,
        json_schemas={"props": "struct<a:long, b:string>"},
        touched_hint=touched_hint,
    )
    pipe = CDCPipeline(spark, table, cfg)
    props_json = '{\\"a\\": 7, \\"b\\": \\"x\\"}'
    create = json.dumps(
        {"table-def": {"primary-key": ["k"], "column-types": {"props": "map"}}}
    )
    batch = spark.createDataFrame(
        [
            ("create-table", 1, None, None, create),
            ("insert", 2, '{"k":{"S":"a"}}',
             f'{{"k":{{"S":"a"}},"props":{{"S":"{props_json}"}}}}', None),
        ],
        "op string, commit_seq long, keys_json string, image string, control_json string",
    )
    pipe.apply_batch(batch, batch_id=1)
    state = pipe.registry.get("public", "source_code")
    assert state.column_types == {"props": "map"}
    row = table.read().collect()[0]
    assert row.props.a == 7 and row.props.b == "x"  # parsed struct, not string


def test_caller_seeded_column_types_reparse(spark, tmp_path):
    table = _table(spark, tmp_path)
    cfg = PipelineConfig(
        keys=["k"],
        image_columns={"k": "S", "props": "S"},
        column_types={"props": "map"},  # ColumnTypeMapStore analog
    )
    pipe = CDCPipeline(spark, table, cfg)
    props_json = '{\\"x\\": \\"1\\"}'
    rows = [
        ("insert", 1, '{"k":{"S":"a"}}',
         f'{{"k":{{"S":"a"}},"props":{{"S":"{props_json}"}}}}'),
    ]
    pipe.apply_batch(_batch(spark, rows), batch_id=1)
    row = table.read().collect()[0]
    assert dict(row.props) == {"x": "1"}  # default map<string,string>


def test_mongo_full_load_matches_reference_golden(spark, tmp_path):
    """Mirrors MongoDBFullLoadTranslator.to_sql: documents keyed on decoded
    _id, full record retained (reference test_mongodb_full.py:73-96)."""
    doc = {
        "_id": {"$oid": "56027fcae4b09385a85f9344"},
        "name": "foobar",
        "num": {"$numberInt": "42"},
        "when": {"$date": "2015-09-23T10:32:42.33Z"},
    }
    docs = spark.createDataFrame([(json.dumps(doc),)], "document string")
    table = _table(spark, tmp_path, keys={"oid": "string"})
    cfg = PipelineConfig(
        keys=["oid"],
        image_columns={"oid": "S", "name": "S", "num": "N", "when": "N"},
    )
    pipe = CDCPipeline(spark, table, cfg)
    dec = make_mongo_full_load_decoder(
        {"name": "string", "num": "bigint", "when": "bigint"}
    )
    pipe.full_load(docs, decoder=dec)
    rows = table.read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.oid == "56027fcae4b09385a85f9344"
    assert (r.name, r.num, r.when) == ("foobar", 42, 1443004362000)
    # poison document (no _id) is dropped, not merged under a NULL key
    bad = spark.createDataFrame([('{"name":"x"}',)], "document string")
    pipe.full_load(bad, decoder=dec)
    assert table.read().count() == 1


def test_crash_between_segments_converges(spark, tmp_path):
    """Kill between a mid-batch segment merge and the batch commit, then
    resume: the re-run must converge with no duplicates (segment merges are
    batch_id=None, i.e. not idempotence-tracked — the ordering guard and
    insert-if-absent semantics carry the idempotence instead)."""
    rows = [
        ("insert", 1, '{"k":{"S":"a"}}', '{"k":{"S":"a"},"v":{"N":"1"}}'),
        ("insert", 2, '{"k":{"S":"b"}}', '{"k":{"S":"b"},"v":{"N":"2"}}'),
        ("drop-table", 5, None, None),
        ("insert", 7, '{"k":{"S":"c"}}', '{"k":{"S":"c"},"v":{"N":"3"}}'),
        ("update", 8, '{"k":{"S":"c"}}', '{"k":{"S":"c"},"v":{"N":"4"}}'),
    ]

    table = _table(spark, tmp_path)
    cfg = PipelineConfig(
        keys=["k"], image_columns={"k": "S", "v": "N"}, handle_control=True
    )
    pipe = CDCPipeline(spark, table, cfg)

    # crash INSIDE apply_batch: first segment applied + DDL applied, then die
    calls = {"n": 0}
    real_apply_control = pipe._apply_control

    def dying_apply_control(row):
        real_apply_control(row)
        calls["n"] += 1
        raise RuntimeError("simulated crash after DDL, before tail segment")

    pipe._apply_control = dying_apply_control
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.apply_batch(_batch(spark, rows), batch_id=1)
    assert calls["n"] == 1
    assert 1 not in table.applied_batch_ids()  # batch NOT committed

    # resume: fresh pipeline (new process), same table — full re-delivery
    pipe2 = CDCPipeline(spark, table, cfg)
    m = pipe2.apply_batch(_batch(spark, rows), batch_id=1)
    assert not m.get("skipped")
    state = {r.k: float(r.v) for r in table.read().collect()}
    assert state == {"c": 4.0}  # a/b dropped by DDL, c folded to the update
    assert 1 in table.applied_batch_ids()

    # a second full re-delivery is a no-op (batch-id tracked)
    again = pipe2.apply_batch(_batch(spark, rows), batch_id=1)
    assert again.get("skipped")
    assert {r.k: float(r.v) for r in table.read().collect()} == {"c": 4.0}
