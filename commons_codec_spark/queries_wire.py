"""Kafka-wire transport contract queries (SURVEY.md §2 S1, EP1).

These run the engine's REAL streaming path over the broker-wire seam: the
registered ``cdc_kafka_sim`` Python data source emits rows in the exact
Kafka wire shape (key/value/topic/partition/offset/timestamp) with REAL
composite per-partition offsets, ``unwrap_wire_envelope`` turns the wire
rows into envelope rows ON the streaming DataFrame, and the pipeline's
default decode→fold→merge path (touched-bucket prescan included) applies
each micro-batch.  Swapping in a real broker is a config change
(``source_format="kafka"`` + bootstrap servers) — the decode chain and
offset machinery are identical.

The DuckDB oracle REGENERATES the deterministic stream in SQL (the
generator is md5-derived — ``sources/kafka_shaped.py:65-118``) and folds
it with the reference's apply-in-order semantics (insert iff absent,
update iff present, delete — ``/root/reference/examples/
mongodb_cdc_cratedb.py:44-48``), so a divergence anywhere in the
transport, decode, fold, or merge hash-mismatches.
"""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from commons_codec_spark.lake.table import KeyedLakeTable
from commons_codec_spark.streaming.pipeline import CDCPipeline, PipelineConfig
from commons_codec_spark.tuning import lifecycle_touched_hint, workdir
from commons_codec_spark.tuning import shuffle_partitions as _shuffle_partitions


def _materialized(df: DataFrame, work: str) -> DataFrame:
    out = df.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def _drain(query) -> None:
    """Deterministic drain of the unbounded wire source: the reader's
    ``latestOffset`` advances per poll until the topic cap, so
    ``processAllAvailable`` returns only once every offset is committed."""
    query.processAllAvailable()
    query.stop()
    if query.lastProgress is None:  # pragma: no cover — contract guard
        raise RuntimeError("stream made no progress — result did not flow "
                           "through the streaming path")


# one topic-shape per query, fixed so the oracle regenerates bit-identically.
# rows_per_batch splits the topic into 2-3 micro-batches: enough to exercise
# offset ranges (the guard below asserts >=2), few enough that the engine's
# per-micro-batch lifecycle cost (checkpoint I/O, no AQE in streaming)
# doesn't dominate the contract query's wall time
_REPLAY = dict(seed=42, tp=3, n_events=6000, n_keys=300, rows_per_batch=3000)
# n_tables COPRIME to tp: keys are pinned to partitions (k % tp == p), so
# n_tables == tp would make the route t{k % n} identical to the topic
# partition and a route-by-partition bug would pass the oracle unnoticed
_FANOUT = dict(seed=7, tp=3, n_events=6000, n_keys=300, rows_per_batch=3000,
               n_tables=2)


def _source_options(p: dict) -> dict:
    o = {"n_events": str(p["n_events"]), "n_keys": str(p["n_keys"]),
         "seed": str(p["seed"]), "rows_per_batch": str(p["rows_per_batch"]),
         "topic_partitions": str(p["tp"])}
    if p.get("n_tables"):
        o["n_tables"] = str(p["n_tables"])
    return o


def q_kafka_wire_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 over the wire transport: multi-partition composite offsets,
    multiple micro-batches, checkpointed resume machinery — the same
    hash-exact bar as the file-transport ``cdc_streaming_replay``."""
    from commons_codec_spark.sources.kafka_shaped import (
        SIM_IMAGE_COLUMNS,
        register,
        unwrap_wire_envelope,
    )

    register(spark)
    work = workdir("ccs-kwq-")
    table = KeyedLakeTable.create(
        spark, f"{work}/tbl", key_schema={"uid": "double"}, n_buckets=8
    )
    cfg = PipelineConfig(
        keys=["uid"], image_columns=SIM_IMAGE_COLUMNS, discover_columns=False,
        touched_hint=lifecycle_touched_hint(),
    )
    pipe = CDCPipeline(spark, table, cfg, checkpoint_dir=f"{work}/ckpt")
    with _shuffle_partitions(spark, 8):
        query = pipe.run_stream(
            None, source_format="cdc_kafka_sim",
            source_options=_source_options(_REPLAY),
            available_now=False,
            stream_transform=unwrap_wire_envelope(),
        )
        _drain(query)
    applied = [m for m in pipe.metrics if not m.get("skipped")]
    if len(applied) < 2:  # pragma: no cover — contract guard
        raise RuntimeError("wire topic arrived in one micro-batch — offset "
                           "ranges were not exercised")
    state = table.read().select(
        F.col("uid").cast("long").alias("uid"),
        F.col("name"),
        F.col("val").cast("long").alias("val"),
        F.col("_seq").alias("seq"),
    )
    return _materialized(state, work)


def q_kafka_fanout_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 × S1: ONE heterogeneous wire topic (route fields inside
    ``value``) fans out through ``MultiTablePipeline.run_stream`` into
    multiple keyed lake tables — concurrent per-table merges, one set of
    composite offsets, exactly-once across all sinks.  The table count is
    coprime to the topic-partition count so routing is genuinely pinned
    to the in-value route fields, not an artifact of partition layout."""
    from commons_codec_spark.sources.kafka_shaped import (
        SIM_IMAGE_COLUMNS,
        register,
        unwrap_wire_envelope,
    )
    from commons_codec_spark.streaming.fanout import (
        MultiTablePipeline,
        TableTarget,
    )

    register(spark)
    work = workdir("ccs-kfq-")

    def mk(name):
        return TableTarget(
            KeyedLakeTable.create(
                spark, f"{work}/{name}", key_schema={"uid": "double"},
                n_buckets=8,
            ),
            PipelineConfig(keys=["uid"], image_columns=SIM_IMAGE_COLUMNS,
                           discover_columns=False,
                           touched_hint=lifecycle_touched_hint()),
        )

    targets = {
        ("public", f"t{i}"): mk(f"t{i}") for i in range(_FANOUT["n_tables"])
    }
    with MultiTablePipeline(
        spark, targets, checkpoint_dir=f"{work}/ckpt"
    ) as pipe:
        with _shuffle_partitions(spark, 8):
            query = pipe.run_stream(
                None, source_format="cdc_kafka_sim",
                source_options=_source_options(_FANOUT),
                available_now=False,
                stream_transform=unwrap_wire_envelope(routed=True),
            )
            _drain(query)
        if len(pipe.metrics) < 2:  # pragma: no cover — contract guard
            raise RuntimeError("wire topic arrived in one micro-batch — "
                               "offset ranges were not exercised")
        state = None
        for i in range(_FANOUT["n_tables"]):
            t = targets[("public", f"t{i}")].table.read().select(
                F.lit(f"t{i}").alias("tbl"),
                F.col("uid").cast("long").alias("uid"),
                F.col("name"),
                F.col("val").cast("long").alias("val"),
                F.col("_seq").alias("seq"),
            )
            state = t if state is None else state.unionAll(t)
    return _materialized(state, work)


def _sql_stream_fold(p: dict, select: str) -> str:
    """The generator + fold, as DuckDB SQL (no tables needed): regenerate
    event ``j`` of topic partition ``p`` from the same md5 derivation as
    the wire source, then fold per key with apply-in-order semantics —
    the row that survives is the first insert after the last delete,
    replaced by any later update."""
    tp, kpp = p["tp"], p["n_keys"] // p["tp"]
    return f"""
WITH ev AS (
  SELECT p, j, j*{tp} + p AS seq,
         CAST(list_sum(list_transform(range(8),
           i -> (strpos('0123456789abcdef',
                        substr(md5({p["seed"]} || ':' || p || ':' || j),
                               i+1, 1)) - 1)
                * (1::BIGINT << (4*(7-i))))) AS BIGINT) AS h
  FROM range({tp}) t(p), range({p["n_events"] // tp}) u(j)
), keyed AS (
  SELECT p + {tp} * (h % {kpp}) AS k, seq, j, h % 100000 AS val,
         CASE WHEN j%7=3 THEN 'delete' WHEN j%3=1 THEN 'update'
              ELSE 'insert' END AS op
  FROM ev
), last_del AS (
  SELECT k, max(seq) FILTER (op = 'delete') AS d FROM keyed GROUP BY k
), first_ins AS (
  SELECT keyed.k, min(seq) AS fi
  FROM keyed JOIN last_del USING (k)
  WHERE op = 'insert' AND seq > coalesce(d, -1) GROUP BY keyed.k
)
{select}
FROM keyed JOIN first_ins USING (k)
WHERE (op = 'insert' AND seq = fi) OR (op = 'update' AND seq > fi)
GROUP BY k
"""


SQL_KAFKA_WIRE_REPLAY = _sql_stream_fold(
    _REPLAY,
    """SELECT k AS uid,
       'u' || CAST(k AS VARCHAR) || '-' || CAST(arg_max(seq, seq) AS VARCHAR)
           AS name,
       arg_max(val, seq) AS val, max(seq) AS seq""",
)

SQL_KAFKA_FANOUT_WIRE = _sql_stream_fold(
    _FANOUT,
    f"""SELECT 't' || CAST(k % {_FANOUT["n_tables"]} AS VARCHAR) AS tbl,
       k AS uid,
       'u' || CAST(k AS VARCHAR) || '-' || CAST(arg_max(seq, seq) AS VARCHAR)
           AS name,
       arg_max(val, seq) AS val, max(seq) AS seq""",
)


WIRE_QUERIES = {
    "cdc_kafka_wire_replay": (q_kafka_wire_replay, SQL_KAFKA_WIRE_REPLAY),
    "cdc_kafka_fanout_wire": (q_kafka_fanout_wire, SQL_KAFKA_FANOUT_WIRE),
}
