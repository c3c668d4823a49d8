"""Correctness gates, run outside the timed phase.

* ``oracle_gate``: the engine table against ``oracle.replay_oracle`` on a
  deterministic sample of keys (every key whose ``keys_json`` hashes into
  the sample), compared by ``oracle.state_hash``.
* ``replica_gate``: a change-feed replica against its source, whole
  table, by ``state_hash``.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from commons_codec_spark.functions import dynamodb as ddb
from commons_codec_spark.oracle import replay_oracle, state_hash

KEYS = ["repo", "path"]
STATE_COLUMNS = ["repo", "path", "commit", "lang", "content", "size", "_seq"]


def sample_filter(seed: int, sample_mod: int):
    """Deterministic key sample: a fixed share of keys, all their events."""
    return F.pmod(F.xxhash64(F.lit(seed), F.col("keys_json")), sample_mod) == 0


def oracle_state(events_df, seed: int, sample_mod: int) -> dict:
    """Sequential oracle state of the sampled keys: {(repo, path): row}."""
    evs = []
    for r in events_df.filter(sample_filter(seed, sample_mod)).collect():
        image = r.image if r.image is not None else r.keys_json
        decoded = {k: ddb.deserialize(v) for k, v in json.loads(image).items()}
        evs.append({"op": r.op, "event_id": r.event_id,
                    "commit_seq": r.commit_seq, **decoded})
    state = replay_oracle(evs, KEYS)
    keys = {tuple(e[k] for k in KEYS) for e in evs}
    return {"keys": sorted(keys), "rows": state}


def table_rows(spark, table, keys) -> list[dict]:
    """Live rows of ``table`` restricted to ``keys`` (all rows if None)."""
    df = table.read()
    if keys is not None:
        kdf = spark.createDataFrame([list(k) for k in keys], "repo string, path string")
        df = df.join(F.broadcast(kdf), KEYS, "left_semi")
    return [r.asDict() for r in df.collect()]


def oracle_gate(spark, table, expected: dict) -> tuple[bool, str]:
    engine = table_rows(spark, table, expected["keys"])
    oracle_rows = []
    for key, row in expected["rows"].items():
        oracle_rows.append({**dict(zip(KEYS, key)), **row})
    got = state_hash(engine, STATE_COLUMNS)
    want = state_hash(oracle_rows, STATE_COLUMNS)
    ok = got == want and len(engine) == len(oracle_rows)
    return ok, (f"oracle sample: {len(expected['keys'])} keys, "
                f"{len(engine)} engine rows vs {len(oracle_rows)} oracle rows, "
                f"hash {'match' if ok else 'MISMATCH'}")


def replica_gate(spark, source, replica) -> tuple[bool, str]:
    src = table_rows(spark, source, None)
    rep = table_rows(spark, replica, None)
    ok = state_hash(src, STATE_COLUMNS) == state_hash(rep, STATE_COLUMNS)
    return ok, (f"replica: {len(rep)} rows vs source {len(src)} rows, "
                f"hash {'match' if ok else 'MISMATCH'}")


def lookup_matches(rows: list, expected_row: dict | None) -> bool:
    """One key lookup's result against the oracle's row for that key."""
    if expected_row is None:
        return not rows
    if len(rows) != 1:
        return False
    got = rows[0].asDict()
    return all(got.get(c) == expected_row.get(c) for c in STATE_COLUMNS)
