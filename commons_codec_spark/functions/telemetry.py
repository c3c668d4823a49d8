"""Telemetry JSON decoders (SURVEY.md §2.3 D10–D14).

Pure-dict decode semantics matching the reference decoders:

* Tasmota sensor flatten — nested JSON → dotted-path keys; DS-style
  subtrees (carrying ``Type``/``Address``) contribute their measurements
  minus those two fields (``decode/tasmota.py:22-112``)
* Tasmota state — fixed projection to ``Device.*`` keys
  (``decode/tasmota.py:115-150``)
* Sensor.Community — explode ``sensordatavalues[]`` to columns, numeric
  coercion with an integer whitelist (``decode/sensor_community.py:9-94``)
* TTS/TTN uplink — merge ``decoded_payload``; derive ``bw`` (/1000),
  ``freq`` (/1e6), ``sf``, ``counter``; dynamic per-gateway
  ``gw_<id>_rssi/snr`` columns; ``gtw_count`` (``decode/tts_ttn.py:29-73``)
* ``is_number`` incl. unicode numerals (``util/data.py:11-32``)

Spark form: these produce *dynamic* key sets (device-dependent), so the
vectorized wrapper emits one ``MapType(string,string)`` column of
JSON-encoded values per reading (one Arrow batch per Python call);
:func:`readings_to_columns` then pivots a chosen key set into typed
columns JVM-side.  Fixed-shape subsets (e.g. Tasmota state) can skip
Python entirely via ``from_json`` + aliased selects.
"""

from __future__ import annotations

import json
import unicodedata
from typing import Any, Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame


def is_number(value: Any) -> bool:
    """Numeric-string test incl. unicode numerals (D14)."""
    try:
        float(value)
        return True
    except (TypeError, ValueError):
        pass
    try:
        unicodedata.numeric(value)
        return True
    except (TypeError, ValueError):
        return False


# ---------------------------------------------------------------------------
# Pure decoders (payload JSON string -> flat dict)
# ---------------------------------------------------------------------------


def decode_tasmota_sensor(payload: str) -> dict:
    message = json.loads(payload)
    data: dict = {}
    if "Time" in message:
        data["Time"] = message["Time"]
    for key, value in message.items():
        if not isinstance(value, dict):
            continue
        for dkey, dvalue in value.items():
            if isinstance(dvalue, dict):
                if "Type" in dvalue:
                    sub = {
                        k: v for k, v in dvalue.items() if k not in ("Type", "Address")
                    }
                    for dskey, dsvalue in sub.items():
                        data[f"{key}.{dkey}.{dskey}"] = dsvalue
            else:
                data[f"{key}.{dkey}"] = dvalue
    return data


def decode_tasmota_state(payload: str) -> dict:
    message = json.loads(payload)
    wifi = message.get("Wifi", {})
    return {
        "Time": message.get("Time"),
        "Device.Vcc": message.get("Vcc"),
        "Device.Sleep": message.get("Sleep"),
        "Device.LoadAvg": message.get("LoadAvg"),
        "Device.Wifi.Channel": wifi.get("Channel"),
        "Device.Wifi.RSSI": wifi.get("RSSI"),
        "Device.Wifi.LinkCount": wifi.get("LinkCount"),
    }


SENSOR_COMMUNITY_INTEGERS = ["signal", "samples", "min_micro", "max_micro"]


def decode_sensor_community(payload: str) -> dict:
    message = json.loads(payload)
    data: dict = {}
    for item in message.get("sensordatavalues", []):
        key, value = item["value_type"], item["value"]
        if is_number(value):
            value = int(value) if key in SENSOR_COMMUNITY_INTEGERS else float(value)
        data[key] = value
    return data


def decode_tts_ttn(payload: str) -> dict:
    message = json.loads(payload)
    data: dict = {}
    if "end_device_ids" in message:
        data["device_id"] = message["end_device_ids"]["device_id"]
    if "received_at" in message:
        data["timestamp"] = message["received_at"]
    uplink = message.get("uplink_message")
    if uplink:
        data.update(uplink["decoded_payload"])
        if "settings" in uplink:
            lora = uplink["settings"]["data_rate"]["lora"]
            data["bw"] = float(lora["bandwidth"]) / 1000
            data["sf"] = lora["spreading_factor"]
            data["freq"] = float(uplink["settings"]["frequency"]) / 1000000.0
        if "f_cnt" in uplink:
            data["counter"] = int(uplink["f_cnt"])
        if "rx_metadata" in uplink:
            data["gtw_count"] = len(uplink["rx_metadata"])
            for rx in uplink["rx_metadata"]:
                gw = rx["gateway_ids"]["gateway_id"]
                data[f"gw_{gw}_rssi"] = rx["rssi"]
                data[f"gw_{gw}_snr"] = rx["snr"]
    return data


DECODERS: dict[str, Callable[[str], dict]] = {
    "tasmota_sensor": decode_tasmota_sensor,
    "tasmota_state": decode_tasmota_state,
    "sensor_community": decode_sensor_community,
    "tts_ttn": decode_tts_ttn,
}


# ---------------------------------------------------------------------------
# Vectorized form
# ---------------------------------------------------------------------------


def decode_telemetry(
    df: DataFrame, decoder: str, payload_col: str = "payload"
) -> DataFrame:
    """Decode a payload column into a ``reading`` map (Arrow-batched).

    Values are JSON-encoded to keep heterogeneous types in one map;
    malformed payloads land in ``error`` instead of raising.
    """
    fn = DECODERS[decoder]
    passthrough = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        list(passthrough)
        + [
            T.StructField("reading", T.MapType(T.StringType(), T.StringType())),
            T.StructField("error", T.StringType()),
        ]
    )

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            readings, errors = [], []
            for payload in pdf[payload_col]:
                try:
                    flat = fn(payload)
                    readings.append(
                        {k: json.dumps(v, separators=(",", ":")) for k, v in flat.items()}
                    )
                    errors.append(None)
                except Exception as exc:  # noqa: BLE001
                    readings.append(None)
                    errors.append(f"{type(exc).__name__}: {exc}")
            out = pdf.drop(columns=[payload_col])
            out["reading"] = readings
            out["error"] = errors
            yield out

    return df.mapInPandas(_map, schema=out_schema)


def readings_to_columns(
    df: DataFrame, columns: dict[str, str], reading_col: str = "reading"
) -> DataFrame:
    """Pivot chosen reading keys into typed top-level columns (JVM-side).

    ``columns`` maps reading key -> spark type; values were JSON-encoded,
    so strings unquote and scalars cast directly.
    """
    out = []
    for key, dtype in columns.items():
        raw = F.col(reading_col)[key]
        col = (
            F.translate(raw, '"', "").alias(key)
            if dtype == "string"
            else raw.cast(dtype).alias(key)
        )
        out.append(col)
    return df.select("*", *out)


# ---------------------------------------------------------------------------
# JVM form of the TTS/TTN decode (D13) — dynamic gateway keys included
# ---------------------------------------------------------------------------

#: Typed envelope of a TTS/TTN uplink: everything :func:`decode_tts_ttn`
#: touches, scalars kept as strings (cast at the pivot).  decoded_payload
#: is a string catch-all map — arbitrary device fields survive.
TTS_TTN_SCHEMA = (
    "struct<"
    "end_device_ids: struct<device_id: string>,"
    "received_at: string,"
    "uplink_message: struct<"
    "  decoded_payload: map<string,string>,"
    "  settings: struct<"
    "    data_rate: struct<lora: struct<bandwidth: string,"
    "                                   spreading_factor: string>>,"
    "    frequency: string>,"
    "  f_cnt: string,"
    "  rx_metadata: array<struct<gateway_ids: struct<gateway_id: string>,"
    "                            rssi: string, snr: string>>"
    ">,"
    "_corrupt: string"  # PERMISSIVE corrupt-record capture (poison -> DLQ)
    ">"
)

_ENTRY_T = "array<struct<key:string,value:string>>"


def _opt_entry(cond, key, value):
    """[] or a single (key, value) map entry, by condition."""
    entry = F.array(F.struct(F.lit(key).alias("key"), value.alias("value")))
    return F.when(cond, entry).otherwise(F.array().cast(_ENTRY_T))


def decode_tts_ttn_jvm(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """TTS/TTN decode as pure column expressions — no Python workers.

    Produces the same ``reading``/``error`` shape as
    ``decode_telemetry(df, "tts_ttn")``: one typed ``from_json`` over
    :data:`TTS_TTN_SCHEMA`, the dynamic per-gateway ``gw_<id>_rssi/snr``
    keys assembled with ``transform`` + ``flatten`` + ``map_from_entries``
    over ``rx_metadata``.  Whole plan stays JVM-side.

    Divergences from the Arrow kernel, documented: (1) reading map values
    are the raw scalar texts (the kernel JSON-encodes, so its strings are
    quoted) — identical after :func:`readings_to_columns`' casts, which is
    the shape both feed; (2) an uplink with a *present but structurally
    broken* inner section (e.g. ``settings`` missing ``data_rate``, or a
    non-numeric ``bandwidth``/``frequency`` — try_cast keeps the decode
    total under ANSI mode) decodes as absent keys instead of the kernel's
    poison-row error — only unparseable JSON sets ``error`` here.

    Duplicate keys — a ``decoded_payload`` key colliding with a derived
    key (``device_id``/``bw``/``gw_*``/...) or a repeated ``gateway_id``
    in ``rx_metadata`` — keep the LAST entry in assembly order, exactly
    the kernel's dict-assignment semantics (``decode/tts_ttn.py:29-73``
    assigns in the same order this concat lists them).  Pinned by
    setting ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` on the session (the
    default EXCEPTION policy would throw DUPLICATED_MAP_KEY and kill the
    job on such a row; an explicit per-element dedup was measured 6×
    slower — interpreted slice+exists per entry).
    """
    df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    p = F.from_json(
        F.col(payload_col),
        TTS_TTN_SCHEMA,
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    up = p["uplink_message"]
    lora = up["settings"]["data_rate"]["lora"]

    payload_entries = F.when(
        up["decoded_payload"].isNotNull(), F.map_entries(up["decoded_payload"])
    ).otherwise(F.array().cast(_ENTRY_T))

    gw_entries = F.when(
        up["rx_metadata"].isNotNull(),
        F.flatten(
            F.transform(
                up["rx_metadata"],
                lambda rx: F.array(
                    F.struct(
                        F.concat(
                            F.lit("gw_"),
                            rx["gateway_ids"]["gateway_id"],
                            F.lit("_rssi"),
                        ).alias("key"),
                        rx["rssi"].alias("value"),
                    ),
                    F.struct(
                        F.concat(
                            F.lit("gw_"),
                            rx["gateway_ids"]["gateway_id"],
                            F.lit("_snr"),
                        ).alias("key"),
                        rx["snr"].alias("value"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast(_ENTRY_T))

    entries = F.concat(
        _opt_entry(
            p["end_device_ids"].isNotNull(),
            "device_id",
            p["end_device_ids"]["device_id"],
        ),
        _opt_entry(p["received_at"].isNotNull(), "timestamp", p["received_at"]),
        payload_entries,
        _opt_entry(
            lora["bandwidth"].try_cast("double").isNotNull(),
            "bw",
            (lora["bandwidth"].try_cast("double") / 1000).cast("string"),
        ),
        _opt_entry(
            lora["spreading_factor"].isNotNull(), "sf", lora["spreading_factor"]
        ),
        _opt_entry(
            up["settings"]["frequency"].try_cast("double").isNotNull(),
            "freq",
            (up["settings"]["frequency"].try_cast("double") / 1e6).cast("string"),
        ),
        _opt_entry(up["f_cnt"].isNotNull(), "counter", up["f_cnt"]),
        _opt_entry(
            up["rx_metadata"].isNotNull(),
            "gtw_count",
            F.size(up["rx_metadata"]).cast("string"),
        ),
        gw_entries,
    )

    # NULL payloads poison too (the kernel's json.loads(None) raises)
    bad = p.isNull() | p["_corrupt"].isNotNull()
    err = F.when(
        bad, F.lit("DecodeError: unparseable TTS/TTN payload")
    ).otherwise(F.lit(None).cast("string"))

    keep = [c for c in df.columns if c != payload_col]
    return df.select(
        *keep,
        F.when(~bad, F.map_from_entries(entries))
        .otherwise(F.lit(None).cast("map<string,string>"))
        .alias("reading"),
        err.alias("error"),
    )


# ---------------------------------------------------------------------------
# JVM forms of the fixed-shape decoders (D11 Tasmota state, D12
# Sensor.Community) — same reading/error contract as decode_telemetry;
# reading values are the raw scalar texts (identical after the pivot's
# casts).  Only the recursive Tasmota *sensor* flatten stays Arrow-only.
# ---------------------------------------------------------------------------

TASMOTA_STATE_SCHEMA = (
    "struct<Time: string, Vcc: string, Sleep: string, LoadAvg: string,"
    " Wifi: struct<Channel: string, RSSI: string, LinkCount: string>,"
    " _corrupt: string>"
)


def decode_tasmota_state_jvm(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Tasmota STATE decode as one typed ``from_json`` (fixed projection,
    ``decode/tasmota.py:115-150`` analog)."""
    p = F.from_json(
        F.col(payload_col),
        TASMOTA_STATE_SCHEMA,
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    bad = p.isNull() | p["_corrupt"].isNotNull()
    fields = {
        "Time": p["Time"],
        "Device.Vcc": p["Vcc"],
        "Device.Sleep": p["Sleep"],
        "Device.LoadAvg": p["LoadAvg"],
        "Device.Wifi.Channel": p["Wifi"]["Channel"],
        "Device.Wifi.RSSI": p["Wifi"]["RSSI"],
        "Device.Wifi.LinkCount": p["Wifi"]["LinkCount"],
    }
    reading = F.map_from_arrays(
        F.array(*[F.lit(k) for k in fields]),
        F.array(*fields.values()),
    )
    keep = [c for c in df.columns if c != payload_col]
    return df.select(
        *keep,
        F.when(~bad, reading).alias("reading"),
        F.when(bad, F.lit("DecodeError: unparseable Tasmota state"))
        .otherwise(F.lit(None).cast("string"))
        .alias("error"),
    )


SENSOR_COMMUNITY_SCHEMA = (
    "struct<sensordatavalues: array<struct<value_type: string, value: string>>,"
    " _corrupt: string>"
)


def decode_sensor_community_jvm(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Sensor.Community decode as column expressions: explode-free
    ``map_from_entries`` over ``sensordatavalues``; duplicate value_types
    keep the LAST occurrence (dict semantics of the kernel) via an
    indexed filter — lists are ~10 entries, so the per-element lookahead
    is trivial."""
    p = F.from_json(
        F.col(payload_col),
        SENSOR_COMMUNITY_SCHEMA,
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    bad = p.isNull() | p["_corrupt"].isNotNull()
    arr = F.coalesce(
        p["sensordatavalues"],
        F.array().cast("array<struct<value_type: string, value: string>>"),
    )
    from ..colutil import dedup_entries_last, let

    reading = let(
        arr,
        lambda a: F.map_from_entries(
            F.transform(
                dedup_entries_last(a, key_field="value_type"),
                lambda x: F.struct(
                    x["value_type"].alias("key"), x["value"].alias("value")
                ),
            )
        ),
    )
    keep = [c for c in df.columns if c != payload_col]
    return df.select(
        *keep,
        F.when(~bad, reading).alias("reading"),
        F.when(bad, F.lit("DecodeError: unparseable Sensor.Community payload"))
        .otherwise(F.lit(None).cast("string"))
        .alias("error"),
    )


# ---------------------------------------------------------------------------
# JVM form of the recursive Tasmota SENSOR flatten (D10) — the dynamic-key
# decoder that previously required the Arrow kernel.  The kernel's recursion
# is bounded (dotted paths go at most three levels: key.dkey.dskey, with
# typed DS-subtrees stripped of Type/Address — ``decode/tasmota.py:22-112``),
# so it unrolls into nested from_json over map<string,string>: objects at
# each level arrive as canonical JSON text and re-parse one level down.
# ---------------------------------------------------------------------------

_SMAP = "map<string,string>"


def decode_tasmota_sensor_jvm(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Tasmota sensor flatten as pure column expressions — no Python.

    Measured at sf0.1 (1M events, local[32], warm): 3.5 s vs 1.8 s for
    the Arrow kernel — the nested re-parse (1 + one per object subtree)
    costs ~2× the single json.loads pass.  The kernel stays the default;
    this form is for deployments that must keep executors free of Python
    worker processes.

    Exactly the kernel's state space: ``Time`` passes through; each
    top-level object value contributes ``key.dkey`` entries for its
    scalar members; a depth-3 object contributes ``key.dkey.dskey``
    entries for its non-``Type``/``Address`` members only when it carries
    ``Type`` (a typed DS subtree), else nothing.  Non-object payloads and
    unparseable JSON poison the row (the kernel's ``.items()`` raise).

    Documented divergences from the Arrow kernel (same class as the other
    ``*_jvm`` twins): reading values are raw scalar texts rather than
    JSON-encoded (identical after :func:`readings_to_columns`' casts);
    JSON ``null`` leaf values become absent-valued map entries rather
    than the text ``"null"``.  Dotted-path collisions keep the LAST
    entry in kernel assignment order (dict semantics, pinned by the
    session's ``mapKeyDedupPolicy=LAST_WIN`` — set here defensively for
    foreign sessions; the default EXCEPTION policy would kill the job).
    """
    df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    from ..colutil import let

    def is_obj(v: Column) -> Column:
        return v.isNotNull() & v.startswith("{")

    def entry(k: Column, v: Column) -> Column:
        return F.struct(k.alias("key"), v.alias("value"))

    def ds_entries(prefix: Column, raw_obj: Column) -> Column:
        """Depth-3 typed subtree: `prefix.dskey` for members minus
        Type/Address, only when the subtree carries Type."""
        return let(
            F.from_json(raw_obj, _SMAP),
            lambda m3: F.when(
                F.map_contains_key(m3, "Type"),
                F.transform(
                    F.filter(
                        F.map_entries(m3),
                        lambda d: ~d["key"].isin("Type", "Address"),
                    ),
                    lambda d: entry(
                        F.concat(prefix, F.lit("."), d["key"]), d["value"]
                    ),
                ),
            ).otherwise(F.array().cast(_ENTRY_T)),
        )

    def subtree_entries(e: Column) -> Column:
        """One top-level object value -> its `key.dkey[...]` entries."""
        return let(
            F.from_json(e["value"], _SMAP),
            lambda m2: F.flatten(
                F.transform(
                    F.map_entries(m2),
                    lambda d: F.when(
                        is_obj(d["value"]),
                        ds_entries(
                            F.concat(e["key"], F.lit("."), d["key"]), d["value"]
                        ),
                    ).otherwise(
                        F.array(
                            entry(
                                F.concat(e["key"], F.lit("."), d["key"]),
                                d["value"],
                            )
                        )
                    ),
                )
            ),
        )

    m1 = F.from_json(F.col(payload_col), _SMAP)
    # ONE parse decides poison too: a map-schema from_json yields NULL for
    # both unparseable JSON and valid non-object JSON (scalar/array) — and
    # the kernel errors on exactly that union (json.loads raise, or
    # message.items() raise).  No second corrupt-probe parse needed.
    bad = F.col(payload_col).isNull() | m1.isNull()

    entries = let(
        m1,
        lambda m: F.concat(
            F.when(
                F.map_contains_key(m, "Time"),
                F.array(entry(F.lit("Time"), F.try_element_at(m, F.lit("Time")))),
            ).otherwise(F.array().cast(_ENTRY_T)),
            F.flatten(
                F.transform(
                    F.filter(F.map_entries(m), lambda e: is_obj(e["value"])),
                    subtree_entries,
                )
            ),
        ),
    )
    reading = F.map_from_entries(entries)
    keep = [c for c in df.columns if c != payload_col]
    return df.select(
        *keep,
        F.when(~bad, reading)
        .otherwise(F.lit(None).cast(_SMAP))
        .alias("reading"),
        F.when(bad, F.lit("DecodeError: unparseable Tasmota sensor payload"))
        .otherwise(F.lit(None).cast("string"))
        .alias("error"),
    )
