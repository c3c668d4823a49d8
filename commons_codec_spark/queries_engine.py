"""Stateful-engine contract queries: full load, control-plane drop/reset,
Mongo full load, the DynamoDB source guard, Tasmota state decode.

These exercise the operators that previously had only pytest coverage
(SURVEY.md §2 S4/S5, E7, P2, D11) through the *real* engine path — each
query builds a throwaway lake table under a temp dir, drives the pipeline
(full load / control events / CDC batch), reads the final snapshot back,
and materializes it (``localCheckpoint``) so the temp dir can be removed
before the driver collects.  The DuckDB oracle states the same final
state in plain SQL over the shared testdata parquet.

Every workload here declares its complete image schema, so the pipelines
run with ``discover_columns=False``: per-batch discovery would scan every
image's JSON keys to find nothing.  Discovery itself stays covered by the
schema-evolution tests (pipeline + wire).
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from commons_codec_spark.functions.dynamodb import normalize_event
from commons_codec_spark.functions.mongodb import make_mongo_full_load_decoder
from commons_codec_spark.functions.telemetry import decode_telemetry
from commons_codec_spark.lake.table import KeyedLakeTable
from commons_codec_spark.streaming.pipeline import CDCPipeline, PipelineConfig
from commons_codec_spark.readers import read_table
from commons_codec_spark.tuning import lifecycle_touched_hint, workdir


def _t(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = True
) -> DataFrame:
    # UTC pin + scan fan-out (single-row-group files scan as one task —
    # see commons_codec_spark.readers).  The LIFECYCLE queries read with
    # fan_out=False: their cost is engine machinery (a dozen small jobs
    # per query), and each job re-executes the input DAG, so a fan-out
    # shuffle would be re-paid per job for inputs of a few thousand rows.
    return read_table(spark, sf_dir, name, fan_out=fan_out)


def _materialized(df: DataFrame, work: str) -> DataFrame:
    """Evaluate eagerly, then drop the throwaway lake under ``work``."""
    out = df.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# S4: full load (initial snapshot) followed by a CDC batch
# ---------------------------------------------------------------------------
#
# customer rows are bulk-loaded as descriptor images at seq 0; a CDC batch
# then updates every cid%3==0 (full-image replace, acct += 100000), deletes
# every cid%7==0, and inserts fresh cid+1M keys for cid%11==0.  The final
# snapshot must show load ∘ update ∘ delete ∘ insert in seq order — the
# reference's FullLoad + CDC composition (``dynamodb.py:141-159,217-224``).


_FL_IMG_COLUMNS = {"cid": "N", "name": "S", "acct_cents": "N"}


def _full_load_workload(spark: SparkSession, sf_dir: str):
    """The S4 workload (bulk load + one CDC batch), shared by the direct
    query and the changelog-replica query — one oracle, two read paths."""
    cust = _t(spark, sf_dir, "customer", fan_out=False)  # lifecycle query
    cid = F.col("c_custkey").cast("long")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")

    def image(cid_col, name_col, cents_col):
        return F.format_string(
            '{"cid":{"N":"%d"},"name":{"S":"%s"},"acct_cents":{"N":"%d"}}',
            cid_col, name_col, cents_col,
        )

    keys_json = F.format_string('{"cid":{"N":"%d"}}', cid)
    full = cust.select(image(cid, F.col("c_name"), cents).alias("image"))

    upd = cust.filter(cid % 3 == 0).select(
        F.lit("update").alias("op"), F.lit(1).cast("long").alias("commit_seq"),
        keys_json.alias("keys_json"),
        image(cid, F.col("c_name"), cents + 100000).alias("image"),
    )
    dele = cust.filter(cid % 7 == 0).select(
        F.lit("delete").alias("op"), F.lit(2).cast("long").alias("commit_seq"),
        keys_json.alias("keys_json"), F.lit(None).cast("string").alias("image"),
    )
    ins = cust.filter(cid % 11 == 0).select(
        F.lit("insert").alias("op"), F.lit(1).cast("long").alias("commit_seq"),
        F.format_string('{"cid":{"N":"%d"}}', cid + 1_000_000).alias("keys_json"),
        image(
            cid + 1_000_000, F.concat(F.lit("new-"), cid), F.lit(0).cast("long")
        ).alias("image"),
    )
    return full, upd.unionAll(dele).unionAll(ins)


def q_full_load_then_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    full, cdc = _full_load_workload(spark, sf_dir)

    work = workdir("ccs-flq-")
    table = KeyedLakeTable.create(
        spark, f"{work}/tbl", key_schema={"cid": "double"}, n_buckets=8
    )
    cfg = PipelineConfig(
        keys=["cid"], image_columns=_FL_IMG_COLUMNS,
        discover_columns=False, touched_hint=lifecycle_touched_hint(),
    )
    pipe = CDCPipeline(spark, table, cfg)
    pipe.full_load(full, seq=0)
    pipe.apply_batch(cdc, batch_id=1)
    state = table.read().select(
        F.col("cid").cast("long").alias("cid"),
        F.col("name"),
        F.col("acct_cents").cast("long").alias("acct_cents"),
    )
    return _materialized(state, work)


def q_changelog_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same S4 workload, but the RESULT is read from a replica built
    ONLY from the source table's change-data-feed (lake CDF): full load +
    CDC land in a changelog table, each version's net rows replay into a
    second table via merge(), and the replica's final state must equal
    the direct query's oracle — deletes, upserts and all."""
    full, cdc = _full_load_workload(spark, sf_dir)

    work = workdir("ccs-cdfq-")
    src = KeyedLakeTable.create(
        spark, f"{work}/src", key_schema={"cid": "double"}, n_buckets=8,
        changelog=True,
    )
    cfg = PipelineConfig(
        keys=["cid"], image_columns=_FL_IMG_COLUMNS,
        discover_columns=False, touched_hint=lifecycle_touched_hint(),
    )
    pipe = CDCPipeline(spark, src, cfg)
    pipe.full_load(full, seq=0)
    pipe.apply_batch(cdc, batch_id=1)

    replica = KeyedLakeTable.create(
        spark, f"{work}/replica", key_schema={"cid": "double"}, n_buckets=8
    )
    # incremental range tail: the whole [1, head] feed composes to one net
    # row per key (fold associativity) and applies in ONE merge — one
    # shuffle + one join instead of one merge per version
    from commons_codec_spark.operators.cdc_fold import compose_net_changes

    head = src._current_commit()["version"]
    # Bootstrap merge with an all-buckets touched hint: composing the
    # WHOLE feed [1, head] into an empty replica touches every bucket that
    # will ever hold a row, so discovering the exact touched set would
    # persist the composed net and run a distinct-collect job just to
    # learn "all of them" (same argument as full_load's hint — this IS a
    # full load, sourced from the feed).  The net stays lazy: read feed →
    # compose → join → write runs as one job.  Incremental tailing (a
    # replica applying one version at a time) keeps exact discovery.
    replica.merge(
        compose_net_changes(src.read_changes(1, head), keys=["cid"]),
        touched=list(range(replica.n_buckets)),
    )
    state = replica.read().select(
        F.col("cid").cast("long").alias("cid"),
        F.col("name"),
        F.col("acct_cents").cast("long").alias("acct_cents"),
    )
    return _materialized(state, work)


SQL_FULL_LOAD_THEN_CDC = """
SELECT c_custkey AS cid,
       c_name AS name,
       CAST(round(c_acctbal * 100)
            + CASE WHEN c_custkey % 3 = 0 THEN 100000 ELSE 0 END AS BIGINT) AS acct_cents
FROM customer WHERE c_custkey % 7 <> 0
UNION ALL
SELECT c_custkey + 1000000 AS cid,
       'new-' || CAST(c_custkey AS VARCHAR) AS name,
       CAST(0 AS BIGINT) AS acct_cents
FROM customer WHERE c_custkey % 11 = 0
"""


def q_streaming_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 through the REAL streaming path: the S4 CDC batch is written as
    parquet files and consumed by ``run_stream`` (readStream →
    foreachBatch → decode→fold→merge with checkpointed offsets), not by a
    direct ``apply_batch`` call.  ``maxFilesPerTrigger=2`` over 4 source
    files forces multiple micro-batches, and the query asserts
    ``lastProgress`` is non-null — proof the result provably flowed
    through Structured Streaming.  Same oracle as
    ``cdc_full_load_then_cdc``: the read path must not change the answer.
    """
    full, cdc = _full_load_workload(spark, sf_dir)

    work = workdir("ccs-strq-")
    # deterministic file source: 4 parquet files split by seq then key so
    # micro-batch boundaries are stable across runs
    cdc.repartition(4, F.col("commit_seq"), F.col("keys_json")).write.mode(
        "overwrite"
    ).parquet(f"{work}/stream-src")

    table = KeyedLakeTable.create(
        spark, f"{work}/tbl", key_schema={"cid": "double"}, n_buckets=8
    )
    cfg = PipelineConfig(
        keys=["cid"], image_columns=_FL_IMG_COLUMNS,
        discover_columns=False, touched_hint=lifecycle_touched_hint(),
    )
    pipe = CDCPipeline(spark, table, cfg, checkpoint_dir=f"{work}/ckpt")
    pipe.full_load(full, seq=0)
    # micro-batches here are ~2k rows and streaming runs without AQE:
    # right-size the shuffle like the wire queries (see tuning.py)
    from commons_codec_spark.tuning import shuffle_partitions

    with shuffle_partitions(spark, 8):
        query = pipe.run_stream(
            f"{work}/stream-src",
            schema="op string, commit_seq long, keys_json string, image string",
            max_files_per_trigger=2,
        )
        query.awaitTermination()
    if query.lastProgress is None:  # pragma: no cover — contract guard
        raise RuntimeError("stream made no progress — result did not flow "
                           "through the streaming path")
    state = table.read().select(
        F.col("cid").cast("long").alias("cid"),
        F.col("name"),
        F.col("acct_cents").cast("long").alias("acct_cents"),
    )
    return _materialized(state, work)


# ---------------------------------------------------------------------------
# E7: drop-table control event mid-stream resets the snapshot
# ---------------------------------------------------------------------------
#
# One batch interleaves supplier inserts (seq = 2*suppkey) with a drop-table
# control event at seq = max(suppkey).  Arrival-order semantics: inserts
# before the drop are wiped, inserts at/after it survive (reference
# ``aws_dms.py:172-178`` drop + segmented replay in streaming/pipeline.py).


def q_control_drop_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier", fan_out=False)  # lifecycle query
    sk = F.col("s_suppkey").cast("long")
    drop_seq = int(sup.agg(F.max(sk)).first()[0])

    data = sup.select(
        F.lit("insert").alias("op"),
        (sk * 2).alias("commit_seq"),
        F.format_string('{"sk":{"N":"%d"}}', sk).alias("keys_json"),
        F.format_string(
            '{"sk":{"N":"%d"},"name":{"S":"%s"}}', sk, F.col("s_name")
        ).alias("image"),
    )
    ctrl = spark.createDataFrame(
        [("drop-table", drop_seq, None, None)],
        "op string, commit_seq long, keys_json string, image string",
    )
    batch = data.unionAll(ctrl)

    work = workdir("ccs-dropq-")
    table = KeyedLakeTable.create(
        spark, f"{work}/tbl", key_schema={"sk": "double"}, n_buckets=8
    )
    cfg = PipelineConfig(
        keys=["sk"], image_columns={"sk": "N", "name": "S"},
        handle_control=True, discover_columns=False,
        touched_hint=lifecycle_touched_hint(),
    )
    pipe = CDCPipeline(spark, table, cfg)
    pipe.apply_batch(batch, batch_id=1)
    state = table.read().select(
        F.col("sk").cast("long").alias("sk"), F.col("name")
    )
    return _materialized(state, work)


SQL_CONTROL_DROP_RESET = """
SELECT s_suppkey AS sk, s_name AS name
FROM supplier
WHERE 2 * s_suppkey >= (SELECT MAX(s_suppkey) FROM supplier)
"""


# ---------------------------------------------------------------------------
# S5: MongoDB full load — Extended-JSON documents, run twice (idempotent)
# ---------------------------------------------------------------------------


def q_mongo_full_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer", fan_out=False)  # lifecycle query
    cid = F.col("c_custkey").cast("long")
    oid = F.substring(F.md5(cid.cast("string")), 1, 24)
    doc = F.format_string(
        '{"_id":{"$oid":"%s"},"name":"%s","acct":{"$numberInt":"%d"},'
        '"joined":{"$date":{"$numberLong":"%d"}}}',
        oid, F.col("c_name"), F.round(F.col("c_acctbal") * 100).cast("long"),
        cid * 1000,
    )
    docs = cust.select(doc.alias("document"))

    work = workdir("ccs-mflq-")
    table = KeyedLakeTable.create(
        spark, f"{work}/tbl", key_schema={"oid": "string"}, n_buckets=8
    )
    cfg = PipelineConfig(
        keys=["oid"],
        image_columns={"oid": "S", "name": "S", "acct": "N", "joined": "N"},
    )
    pipe = CDCPipeline(spark, table, cfg)
    dec = make_mongo_full_load_decoder(
        {"name": "string", "acct": "bigint", "joined": "bigint"}
    )
    pipe.full_load(docs, decoder=dec, seq=0)
    pipe.full_load(docs, decoder=dec, seq=0)  # re-run: ON CONFLICT DO NOTHING
    state = table.read().select("oid", "name", "acct", "joined")
    return _materialized(state, work)


SQL_MONGO_FULL_LOAD = """
SELECT substr(md5(CAST(c_custkey AS VARCHAR)), 1, 24) AS oid,
       c_name AS name,
       CAST(round(c_acctbal * 100) AS BIGINT) AS acct,
       CAST(c_custkey * 1000 AS BIGINT) AS joined
FROM customer
"""


# ---------------------------------------------------------------------------
# P2: DynamoDB event-source guard (foreign sources / unknown events -> DLQ)
# ---------------------------------------------------------------------------


def q_source_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    source = F.when(k % 13 == 0, F.lit("aws:kinesis")).otherwise(
        F.lit("aws:dynamodb")
    )
    name = F.element_at(
        F.array(F.lit("INSERT"), F.lit("MODIFY"), F.lit("REMOVE"), F.lit("BOGUS")),
        (k % 4 + 1).cast("int"),
    )
    env = o.select(k.alias("okey"), source.alias("src"), name.alias("event_name"))
    op = normalize_event(F.col("src"), F.col("event_name"))
    return env.select(
        "okey", op.alias("op_norm"), op.isNull().alias("is_dlq")
    )


SQL_SOURCE_GUARD = """
SELECT o_orderkey AS okey,
       CASE WHEN o_orderkey % 13 = 0 THEN NULL
            WHEN o_orderkey % 4 = 0 THEN 'insert'
            WHEN o_orderkey % 4 = 1 THEN 'update'
            WHEN o_orderkey % 4 = 2 THEN 'delete'
            ELSE NULL END AS op_norm,
       (o_orderkey % 13 = 0 OR o_orderkey % 4 = 3) AS is_dlq
FROM orders
"""


# ---------------------------------------------------------------------------
# D11: Tasmota state decode (fixed Device.* projection)
# ---------------------------------------------------------------------------


def q_tasmota_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 through BOTH implementations in ONE query: the Arrow-kernel
    flatten (``decode_telemetry``) and the typed-``from_json`` JVM twin
    (``decode_tasmota_state_jvm``), each row tagged with ``path`` — the
    oracle states the expected rows once per path, so a divergence in
    EITHER implementation hash-mismatches.  (Collapsed from two registry
    entries so every entry fits the driver's per-round sweep.)"""
    from commons_codec_spark.functions.telemetry import decode_tasmota_state_jvm

    ev = _t(spark, sf_dir, "events")
    payload = F.format_string(
        '{"Time":"%s","Vcc":%d,"Sleep":%d,"LoadAvg":%d,'
        '"Wifi":{"Channel":%d,"RSSI":%d,"LinkCount":%d}}',
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss"),
        F.col("user_id") % 40, F.col("event_id") % 100, F.col("user_id") % 20,
        F.col("user_id") % 11 + 1, -(F.col("user_id") % 60 + 30),
        F.col("event_id") % 5,
    )
    env = ev.select("event_id", payload.alias("payload"))

    def pivot(decoded, tag):
        r = F.col("reading")
        return decoded.select(
            F.lit(tag).alias("path"),
            "event_id",
            F.translate(r["Time"], '"', "").alias("time_s"),
            r["Device.Vcc"].cast("long").alias("vcc"),
            r["Device.Sleep"].cast("long").alias("sleep"),
            r["Device.LoadAvg"].cast("long").alias("loadavg"),
            r["Device.Wifi.Channel"].cast("long").alias("wifi_channel"),
            r["Device.Wifi.RSSI"].cast("long").alias("wifi_rssi"),
            r["Device.Wifi.LinkCount"].cast("long").alias("wifi_links"),
        )

    return pivot(decode_telemetry(env, "tasmota_state", "payload"), "arrow").unionAll(
        pivot(decode_tasmota_state_jvm(env, "payload"), "jvm")
    )


_SQL_TASMOTA_STATE_ONE = """
SELECT '{path}' AS path,
       event_id,
       strftime(ts, '%Y-%m-%dT%H:%M:%S') AS time_s,
       CAST(user_id % 40 AS BIGINT) AS vcc,
       CAST(event_id % 100 AS BIGINT) AS sleep,
       CAST(user_id % 20 AS BIGINT) AS loadavg,
       CAST(user_id % 11 + 1 AS BIGINT) AS wifi_channel,
       CAST(-(user_id % 60 + 30) AS BIGINT) AS wifi_rssi,
       CAST(event_id % 5 AS BIGINT) AS wifi_links
FROM events
"""

SQL_TASMOTA_STATE = (
    _SQL_TASMOTA_STATE_ONE.format(path="arrow")
    + " UNION ALL "
    + _SQL_TASMOTA_STATE_ONE.format(path="jvm")
)


# ---------------------------------------------------------------------------
# Multi-table fan-out: one heterogeneous stream -> N target tables
# ---------------------------------------------------------------------------
#
# One interleaved batch carries events for public.customers (insert all,
# update acct for cid%5==0 at a later seq), public.suppliers (insert all,
# delete sk%6==0), and awsdms_validation_failures rows (one per nation) that
# the router diverts to the `dms` schema (reference ``aws_dms.py:39-44``);
# a MultiTablePipeline applies the whole batch in one pass and the query
# returns the union of all three final states tagged by table.


def _fanout_workload(spark: SparkSession, sf_dir: str, work: str):
    """The EP1 workload shared by the batch and streaming fan-out queries:
    one interleaved three-table envelope batch + the registered targets."""
    from commons_codec_spark.streaming.fanout import (
        MultiTablePipeline,
        TableTarget,
    )

    cust = _t(spark, sf_dir, "customer", fan_out=False)  # lifecycle query
    sup = _t(spark, sf_dir, "supplier", fan_out=False)
    nat = _t(spark, sf_dir, "nation", fan_out=False)
    cid = F.col("c_custkey").cast("long")
    sk = F.col("s_suppkey").cast("long")
    nk = F.col("n_nationkey").cast("long")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")

    c_ins = cust.select(
        F.lit("insert").alias("op"), (cid * 2).alias("commit_seq"),
        F.lit("public").alias("schema_name"), F.lit("customers").alias("table_name"),
        F.format_string('{"cid":{"N":"%d"}}', cid).alias("keys_json"),
        F.format_string(
            '{"cid":{"N":"%d"},"name":{"S":"%s"},"acct_cents":{"N":"%d"}}',
            cid, F.col("c_name"), cents,
        ).alias("image"),
    )
    c_upd = cust.filter(cid % 5 == 0).select(
        F.lit("update").alias("op"), (F.lit(1_000_000_000) + cid).alias("commit_seq"),
        F.lit("public").alias("schema_name"), F.lit("customers").alias("table_name"),
        F.format_string('{"cid":{"N":"%d"}}', cid).alias("keys_json"),
        F.format_string(
            '{"cid":{"N":"%d"},"name":{"S":"%s"},"acct_cents":{"N":"%d"}}',
            cid, F.col("c_name"), cents + 777,
        ).alias("image"),
    )
    s_ins = sup.select(
        F.lit("insert").alias("op"), (sk * 2 + 1).alias("commit_seq"),
        F.lit("public").alias("schema_name"), F.lit("suppliers").alias("table_name"),
        F.format_string('{"sk":{"N":"%d"}}', sk).alias("keys_json"),
        F.format_string(
            '{"sk":{"N":"%d"},"name":{"S":"%s"}}', sk, F.col("s_name")
        ).alias("image"),
    )
    s_del = sup.filter(sk % 6 == 0).select(
        F.lit("delete").alias("op"), (F.lit(2_000_000_000) + sk).alias("commit_seq"),
        F.lit("public").alias("schema_name"), F.lit("suppliers").alias("table_name"),
        F.format_string('{"sk":{"N":"%d"}}', sk).alias("keys_json"),
        F.lit(None).cast("string").alias("image"),
    )
    # awsdms_* rows arrive addressed to `public` — routing must divert them
    dms_rows = nat.select(
        F.lit("insert").alias("op"), (F.lit(3_000_000_000) + nk).alias("commit_seq"),
        F.lit("public").alias("schema_name"),
        F.lit("awsdms_validation_failures").alias("table_name"),
        F.format_string('{"vid":{"N":"%d"}}', nk).alias("keys_json"),
        F.format_string(
            '{"vid":{"N":"%d"},"detail":{"S":"%s"}}', nk, F.col("n_name")
        ).alias("image"),
    )
    batch = c_ins.unionAll(c_upd).unionAll(s_ins).unionAll(s_del).unionAll(dms_rows)

    def mk(name, key, img):
        return TableTarget(
            KeyedLakeTable.create(
                spark, f"{work}/{name}", key_schema={key: "double"}, n_buckets=8
            ),
            PipelineConfig(keys=[key], image_columns=img,
                           discover_columns=False,
                           touched_hint=lifecycle_touched_hint()),
        )

    targets = {
        ("public", "customers"): mk(
            "customers", "cid", {"cid": "N", "name": "S", "acct_cents": "N"}
        ),
        ("public", "suppliers"): mk("suppliers", "sk", {"sk": "N", "name": "S"}),
        ("dms", "awsdms_validation_failures"): mk(
            "dmsval", "vid", {"vid": "N", "detail": "S"}
        ),
    }
    return batch, targets


def _fanout_state(targets) -> DataFrame:
    c_state = targets[("public", "customers")].table.read().select(
        F.lit("customers").alias("tbl"), F.col("cid").cast("long").alias("k"),
        F.col("name"), F.col("acct_cents").cast("long").alias("num"),
    )
    s_state = targets[("public", "suppliers")].table.read().select(
        F.lit("suppliers").alias("tbl"), F.col("sk").cast("long").alias("k"),
        F.col("name"), F.lit(None).cast("long").alias("num"),
    )
    d_state = targets[("dms", "awsdms_validation_failures")].table.read().select(
        F.lit("dms").alias("tbl"), F.col("vid").cast("long").alias("k"),
        F.col("detail").alias("name"), F.lit(None).cast("long").alias("num"),
    )
    return c_state.unionAll(s_state).unionAll(d_state)


def q_multi_table_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from commons_codec_spark.streaming.fanout import MultiTablePipeline

    work = workdir("ccs-fanq-")
    batch, targets = _fanout_workload(spark, sf_dir, work)
    pipe = MultiTablePipeline(spark, targets)
    pipe.apply_batch(batch, batch_id=1)
    return _materialized(_fanout_state(targets), work)


def q_fanout_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 through the REAL streaming path: the same three-table
    interleaved workload is written as parquet files and consumed by
    ``MultiTablePipeline.run_stream`` (one readStream fanning out inside
    ``foreachBatch``, offsets checkpointed, per-sink idempotent merges).
    ``maxFilesPerTrigger=2`` over 4 source files forces multiple
    micro-batches, and the query asserts ``lastProgress`` is non-null —
    proof the result flowed through Structured Streaming.  Same oracle as
    ``cdc_multi_table_routing``: the transport must not change the answer.
    """
    from commons_codec_spark.streaming.fanout import MultiTablePipeline

    import glob
    import os
    import time

    work = workdir("ccs-fansq-")
    batch, targets = _fanout_workload(spark, sf_dir, work)
    # COMMIT-ORDER transport: a real CDC stream delivers batches in commit
    # order, and the reference's update-on-absent is a no-op (SQL UPDATE of
    # a missing row — ``dynamodb.py:198-205``), so an update micro-batch
    # arriving before its key's insert micro-batch would legitimately lose
    # the update.  Range-split by seq and stamp ascending mtimes so the
    # file source (which orders by modification time) replays the ranges
    # in seq order — unlike the single-table streaming query, there is no
    # full load here to pre-create every key.
    src = f"{work}/stream-src"
    batch.repartitionByRange(4, F.col("commit_seq")).write.mode(
        "overwrite"
    ).parquet(src)
    parts = sorted(glob.glob(f"{src}/part-*"))
    base = time.time() - len(parts) - 1
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    pipe = MultiTablePipeline(spark, targets, checkpoint_dir=f"{work}/ckpt")
    # micro-batch-scale streaming without AQE — right-size the shuffle
    from commons_codec_spark.tuning import shuffle_partitions

    with shuffle_partitions(spark, 8):
        query = pipe.run_stream(
            f"{work}/stream-src",
            schema=("op string, commit_seq long, schema_name string,"
                    " table_name string, keys_json string, image string"),
            max_files_per_trigger=2,
        )
        query.awaitTermination()
    if query.lastProgress is None:  # pragma: no cover — contract guard
        raise RuntimeError("stream made no progress — result did not flow "
                           "through the streaming path")
    return _materialized(_fanout_state(targets), work)


SQL_MULTI_TABLE_ROUTING = """
SELECT 'customers' AS tbl,
       c_custkey AS k,
       c_name AS name,
       CAST(round(c_acctbal * 100)
            + CASE WHEN c_custkey % 5 = 0 THEN 777 ELSE 0 END AS BIGINT) AS num
FROM customer
UNION ALL
SELECT 'suppliers' AS tbl, s_suppkey AS k, s_name AS name,
       CAST(NULL AS BIGINT) AS num
FROM supplier WHERE s_suppkey % 6 <> 0
UNION ALL
SELECT 'dms' AS tbl, n_nationkey AS k, n_name AS name,
       CAST(NULL AS BIGINT) AS num
FROM nation
"""


ENGINE_QUERIES = {
    "cdc_full_load_then_cdc": (q_full_load_then_cdc, SQL_FULL_LOAD_THEN_CDC),
    "cdc_changelog_replica": (q_changelog_replica, SQL_FULL_LOAD_THEN_CDC),
    "cdc_streaming_replay": (q_streaming_replay, SQL_FULL_LOAD_THEN_CDC),
    "cdc_control_drop_reset": (q_control_drop_reset, SQL_CONTROL_DROP_RESET),
    "cdc_multi_table_routing": (q_multi_table_routing, SQL_MULTI_TABLE_ROUTING),
    "cdc_fanout_streaming": (q_fanout_streaming, SQL_MULTI_TABLE_ROUTING),
    "mongo_full_load": (q_mongo_full_load, SQL_MONGO_FULL_LOAD),
    "dynamodb_source_guard": (q_source_guard, SQL_SOURCE_GUARD),
    # both decode paths (Arrow kernel + JVM from_json twin) verified inside
    # the ONE entry — see q_tasmota_state
    "telemetry_tasmota_state": (q_tasmota_state, SQL_TASMOTA_STATE),
}
