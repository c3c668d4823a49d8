"""Driver-contract queries: each exercises one operator family from
SURVEY.md §2 over the shared testdata parquet, paired with an ANSI-SQL
oracle (DuckDB) computing the same result.

The CDC queries *derive* a deterministic change-event log from `lineitem`
inside the query (envelope encode -> descriptor decode -> per-key fold),
so the full engine path is exercised while the oracle can state the net
effect in plain SQL.  Column names and types are aligned on both sides
(bigint/string only where hashes are involved — float hashing is
representation-sensitive).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from commons_codec_spark.functions import dms
from commons_codec_spark.functions.dynamodb import (
    compile_direct_decoder,
    decode_universal,
)
from commons_codec_spark.operators.cdc_fold import SET, fold_net_changes
from commons_codec_spark.operators.lww import lww_latest
from commons_codec_spark.readers import read_table


def _t(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = True
) -> DataFrame:
    # UTC pin + scan fan-out for the single-row-group testdata files —
    # see commons_codec_spark.readers.  fan_out=False for queries whose
    # first operator is an aggregation (map-side partial agg already
    # collapses the rows; measured: the fan-out shuffle only adds cost).
    return read_table(spark, sf_dir, name, fan_out=fan_out)


# ---------------------------------------------------------------------------
# CDC envelope derivation from lineitem (deterministic, both-sides-computable)
# ---------------------------------------------------------------------------

_IMG_COLUMNS = {
    "okey": "N",
    "lineno": "N",
    "commit_sha": "S",
    "qty": "N",
    "price_cents": "N",
    "flag": "S",
}


def _derive_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> envelope stream: insert each row; update when qty > 25
    (qty += 100); delete when returnflag = 'R'.  seq = 3*rid + phase."""
    # synthetic lineitem has duplicate (orderkey, linenumber) pairs — collapse
    # to one deterministic row per key first (independent maxes, SQL-mirrorable)
    li = (
        # groupBy first: partial agg collapses map-side — fan-out measured
        # cost-neutral at best here (the groupBy shuffle dominates)
        _t(spark, sf_dir, "lineitem", fan_out=False)
        .groupBy(
            F.col("l_orderkey").cast("long").alias("okey"),
            F.col("l_linenumber").cast("long").alias("lineno"),
        )
        .agg(
            F.max(F.col("l_quantity")).cast("long").alias("qty"),
            F.max(F.round(F.col("l_extendedprice") * 100)).cast("long").alias("price_cents"),
            F.max(F.col("l_returnflag")).alias("flag"),
        )
    )
    rid = F.col("okey") * 8 + F.col("lineno")
    sha = F.md5(F.concat_ws(":", F.col("okey"), F.col("lineno")))

    def image(qty_col):
        return F.format_string(
            '{"okey":{"N":"%d"},"lineno":{"N":"%d"},"commit_sha":{"S":"%s"},'
            '"qty":{"N":"%d"},"price_cents":{"N":"%d"},"flag":{"S":"%s"}}',
            F.col("okey"), F.col("lineno"), sha, qty_col,
            F.col("price_cents"), F.col("flag"),
        )

    keys_json = F.format_string(
        '{"okey":{"N":"%d"},"lineno":{"N":"%d"}}', F.col("okey"), F.col("lineno")
    )
    # The 3-branch union.  Catalyst has no cross-branch subtree CSE, so
    # each branch re-runs the lineitem scan + groupBy — yet measured
    # faster than a single-pass array+explode form (interleaved A/B,
    # min/median: union 4.44/4.53 s vs explode 4.99/5.13): with a single-
    # row-group input the three branches triple scan parallelism on
    # otherwise-idle cores, while the explode adds a generate over
    # already-formatted wide strings.
    ins = li.select(
        F.lit("insert").alias("op"), (rid * 3).alias("commit_seq"),
        keys_json.alias("keys_json"), image(F.col("qty")).alias("image"),
    )
    upd = li.filter(F.col("qty") > 25).select(
        F.lit("update").alias("op"), (rid * 3 + 1).alias("commit_seq"),
        keys_json.alias("keys_json"), image(F.col("qty") + 100).alias("image"),
    )
    dele = li.filter(F.col("flag") == "R").select(
        F.lit("delete").alias("op"), (rid * 3 + 2).alias("commit_seq"),
        keys_json.alias("keys_json"), F.lit(None).cast("string").alias("image"),
    )
    return ins.unionAll(upd).unionAll(dele)


def q_cdc_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: envelope encode -> JVM descriptor decode -> two-branch fold
    applied to an empty target (absent branch) = final table state."""
    events = _derive_cdc_events(spark, sf_dir)
    src = events.withColumn("image", F.coalesce("image", "keys_json"))
    decoded = compile_direct_decoder(src, "image", _IMG_COLUMNS)
    net = fold_net_changes(
        decoded,
        keys=["okey", "lineno"],
        payload_cols=["commit_sha", "qty", "price_cents", "flag"],
    )
    return net.filter(F.col("aa") == SET).select(
        F.col("okey").cast("long").alias("okey"),
        F.col("lineno").cast("long").alias("lineno"),
        F.col("row.commit_sha").alias("commit_sha"),
        F.col("row.qty").cast("long").alias("qty"),
        F.col("row.price_cents").cast("long").alias("price_cents"),
        F.col("row.flag").alias("flag"),
    )


_SQL_LI_DEDUP = """
    SELECT l_orderkey AS okey,
           l_linenumber AS lineno,
           CAST(MAX(l_quantity) AS BIGINT) AS qty,
           CAST(MAX(ROUND(l_extendedprice * 100)) AS BIGINT) AS price_cents,
           MAX(l_returnflag) AS flag
    FROM lineitem GROUP BY 1, 2
"""

SQL_CDC_REPLAY = f"""
SELECT okey,
       lineno,
       md5(CAST(okey AS VARCHAR) || ':' || CAST(lineno AS VARCHAR)) AS commit_sha,
       CAST(CASE WHEN qty > 25 THEN qty + 100 ELSE qty END AS BIGINT) AS qty,
       price_cents,
       flag
FROM ({_SQL_LI_DEDUP})
WHERE flag <> 'R'
"""


def q_cdc_op_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 operation dispatch: events per op (routing predicate check)."""
    return (
        _derive_cdc_events(spark, sf_dir)
        .groupBy("op")
        .agg(F.count("*").alias("n"))
    )


SQL_CDC_OP_HISTOGRAM = f"""
SELECT 'insert' AS op, COUNT(*) AS n FROM ({_SQL_LI_DEDUP})
UNION ALL
SELECT 'update' AS op, COUNT(*) AS n FROM ({_SQL_LI_DEDUP}) WHERE qty > 25
UNION ALL
SELECT 'delete' AS op, COUNT(*) AS n FROM ({_SQL_LI_DEDUP}) WHERE flag = 'R'
"""


def q_universal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1–D3 via the Arrow pandas-UDF universal decoder: scalar, nested M,
    and SS (set -> sorted list) markers, reassembled into typed columns."""
    part = _t(spark, sf_dir, "part")
    env = part.select(
        F.lit("insert").alias("op"),
        F.format_string('{"pid":{"S":"%d"}}', F.col("p_partkey")).alias("keys_json"),
        F.format_string(
            '{"pid":{"S":"%d"},"price_cents":{"N":"%d"},'
            '"meta":{"M":{"brand":{"S":"%s"}}},"tags":{"SS":["%s","%s"]}}',
            F.col("p_partkey"),
            F.round(F.col("p_retailprice") * 100).cast("long"),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_name"),
        ).alias("image"),
    )
    dec = decode_universal(env)
    # bucket values are JSON-encoded: scalars cast directly, strings unquote
    return dec.select(
        F.translate(F.col("pk")["pid"], '"', "").cast("long").alias("pid"),
        F.col("typed")["price_cents"].cast("double").cast("long").alias("price_cents"),
        F.from_json(F.col("typed")["meta"], "map<string,string>")["brand"].alias("brand"),
        F.array_join(F.from_json(F.col("typed")["tags"], "array<string>"), ",").alias("tags"),
    )


def q_universal_decode_inferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1–D3 with NO schema given: infer the batch's descriptor schema
    (one shrinking JVM job per nesting level), compile it to a typed
    from_json decode, and read the same columns the universal query does —
    all whole-stage codegen, no Python workers.  Same oracle as
    ``universal_decode``: both paths must land on identical values."""
    from commons_codec_spark.functions.dynamodb_auto import decode_auto

    part = _t(spark, sf_dir, "part")
    env = part.select(
        F.format_string(
            '{"pid":{"S":"%d"},"price_cents":{"N":"%d"},'
            '"meta":{"M":{"brand":{"S":"%s"}}},"tags":{"SS":["%s","%s"]}}',
            F.col("p_partkey"),
            F.round(F.col("p_retailprice") * 100).cast("long"),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_name"),
        ).alias("image"),
    )
    dec, _spec = decode_auto(env)
    return dec.select(
        F.col("pid").cast("long").alias("pid"),
        F.col("price_cents").cast("long").alias("price_cents"),
        F.col("meta")["brand"].alias("brand"),
        F.array_join(F.col("tags"), ",").alias("tags"),
    )


SQL_UNIVERSAL_DECODE = """
SELECT p_partkey AS pid,
       CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
       p_brand AS brand,
       CASE WHEN p_type <= p_name THEN p_type || ',' || p_name
            ELSE p_name || ',' || p_type END AS tags
FROM part
"""


# ---------------------------------------------------------------------------
# LWW / envelope hygiene over the events table
# ---------------------------------------------------------------------------


def q_lww_latest_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's one aggregation: latest row per key via max_by."""
    # aggregation-first: max_by partial-aggregates map-side; fan-out only
    # adds a shuffle (measured 0.43s -> 0.92s)
    ev = _t(spark, sf_dir, "events", fan_out=False).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    latest = lww_latest(ev, keys=["user_id"], order_cols=["ts", "event_id"])
    return latest.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


SQL_LWW_LATEST = """
SELECT user_id,
       event_type,
       CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
       epoch_us(ts) AS ts_us
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


def q_lww_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result via the two-phase skew-salted reduce (must agree)."""
    ev = _t(spark, sf_dir, "events", fan_out=False).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    latest = lww_latest(
        ev, keys=["user_id"], order_cols=["ts", "event_id"], salted=True
    )
    return latest.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def q_json_reparse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 analog: JSON-in-string column re-parse, then aggregate."""
    ev = _t(spark, sf_dir, "events", fan_out=False)  # aggregation-first
    parsed = ev.withColumn(
        "k", F.from_json(F.col("props"), "struct<k:long>")["k"]
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
    )


SQL_JSON_REPARSE = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
"""


def q_envelope_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P5: validation split + awsdms_* routing over derived envelopes."""
    o = _t(spark, sf_dir, "orders", fan_out=False)  # aggregation-only
    env = o.select(
        F.lit("insert").alias("operation"),
        F.when(F.pmod("o_orderkey", F.lit(97)) == 0, F.lit(""))
        .otherwise(F.lit("public"))
        .alias("schema_name"),
        F.when(F.pmod("o_orderkey", F.lit(89)) == 0, F.lit("awsdms_apply_exceptions"))
        .otherwise(F.lit("source_code"))
        .alias("table_name"),
    )
    env = env.withColumn(
        "schema_name", dms.route_schema(F.col("schema_name"), F.col("table_name"))
    )
    # single aggregation pass over the validity predicate — no driver-side
    # counts, no repeated scans (the split_valid_invalid DataFrame pair is
    # for routing, not counting)
    valid = dms.is_valid_envelope(
        F.col("operation"), F.col("schema_name"), F.col("table_name")
    )
    one = F.lit(1)
    return env.agg(
        F.coalesce(F.sum(F.when(valid, one)), F.lit(0)).alias("valid_rows"),
        F.coalesce(F.sum(F.when(~valid | valid.isNull(), one)), F.lit(0)).alias("dlq_rows"),
        F.coalesce(
            F.sum(F.when(valid & (F.col("schema_name") == "dms"), one)), F.lit(0)
        ).alias("routed_dms"),
    )


SQL_ENVELOPE_VALIDATION = """
SELECT
  CAST(SUM(CASE WHEN NOT (o_orderkey % 97 = 0 AND o_orderkey % 89 <> 0) THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows,
  CAST(SUM(CASE WHEN o_orderkey % 97 = 0 AND o_orderkey % 89 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS dlq_rows,
  CAST(SUM(CASE WHEN o_orderkey % 89 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS routed_dms
FROM orders
"""


CORE_QUERIES = {
    "cdc_replay_final_state": (q_cdc_replay_final_state, SQL_CDC_REPLAY),
    "cdc_op_histogram": (q_cdc_op_histogram, SQL_CDC_OP_HISTOGRAM),
    "universal_decode": (q_universal_decode, SQL_UNIVERSAL_DECODE),
    "universal_decode_inferred": (
        q_universal_decode_inferred,
        SQL_UNIVERSAL_DECODE,
    ),
    "lww_latest_by_user": (q_lww_latest_by_user, SQL_LWW_LATEST),
    "lww_salted_two_phase": (q_lww_salted, SQL_LWW_LATEST),
    "json_reparse_props": (q_json_reparse_props, SQL_JSON_REPARSE),
    "envelope_validation_dlq": (q_envelope_validation, SQL_ENVELOPE_VALIDATION),
}
