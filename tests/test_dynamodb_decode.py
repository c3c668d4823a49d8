"""Golden tests for the DynamoDB decode lattice (D1–D3).

Expectations mirror the reference's own golden fixtures
(`/root/reference/tests/transform/test_dynamodb_cdc.py:183-300`,
`tests/transform/test_dynamodb_full.py:8-110`): N→float, sets→sorted
lists, nested M recursion, empty/None strings preserved, varied lists
routed to the untyped bucket, REMOVE decodes Keys only.
"""

import json

import pytest

from commons_codec_spark.functions import dynamodb as ddb

PK = ["id"]


def test_number_becomes_float():
    assert ddb.decode_record({"foo": {"N": "84.84"}}) == {
        "pk": {},
        "typed": {"foo": 84.84},
        "untyped": {},
    }
    assert isinstance(ddb.deserialize({"N": "1"}), float)


def test_scalar_markers():
    assert ddb.deserialize({"S": "hello"}) == "hello"
    assert ddb.deserialize({"S": ""}) == ""
    assert ddb.deserialize({"S": None}) is None
    assert ddb.deserialize({"BOOL": True}) is True
    assert ddb.deserialize({"NULL": True}) is None
    assert ddb.deserialize({"B": "U3Vubnk="}) == "U3Vubnk="


def test_sets_become_sorted_lists():
    assert ddb.deserialize({"NS": [1, 2, 3, 0.34]}) == [0.34, 1.0, 2.0, 3.0]
    assert ddb.deserialize({"SS": ["foo", "bar"]}) == ["bar", "foo"]
    assert ddb.deserialize({"BS": ["b", "a"]}) == ["a", "b"]


def test_nested_map_recursion():
    out = ddb.deserialize(
        {"M": {"t": {"N": "42.42"}, "inner": {"M": {"s": {"S": "x"}}}}}
    )
    assert out == {"t": 42.42, "inner": {"s": "x"}}


def test_homogeneous_list_not_varied():
    out = ddb.deserialize({"L": [{"S": "foo"}, {"S": "bar"}]})
    assert out == ["foo", "bar"]
    assert out.varied is False


def test_varied_list_flagged_and_routed_to_untyped():
    rec = ddb.decode_record(
        {
            "id": {"S": "k1"},
            "list_of_varied": {"L": [{"M": {"a": {"N": 1}}}, {"N": 2}, {"S": "Three"}]},
            "plain": {"N": "7"},
        },
        PK,
    )
    assert rec["pk"] == {"id": "k1"}
    assert rec["untyped"] == {"list_of_varied": [{"a": 1.0}, 2.0, "Three"]}
    assert rec["typed"] == {"plain": 7.0}


def test_empty_list_and_map():
    assert ddb.deserialize({"L": []}) == []
    assert ddb.deserialize({"L": []}).varied is False
    assert ddb.deserialize({"M": {}}) == {}


def test_malformed_value_raises():
    with pytest.raises(ddb.DecodeError):
        ddb.deserialize({})
    with pytest.raises(ddb.DecodeError):
        ddb.deserialize({"XX": 1})


def test_decode_event_insert_and_remove():
    ins = ddb.decode_event(
        {
            "eventSource": "aws:dynamodb",
            "eventName": "INSERT",
            "dynamodb": {
                "Keys": {"id": {"S": "k1"}},
                "NewImage": {
                    "id": {"S": "k1"},
                    "humidity": {"N": "84.84"},
                    "number_set": {"NS": [1, 2, 3, 4]},
                },
            },
        }
    )
    assert ins == {
        "op": "insert",
        "pk": {"id": "k1"},
        "typed": {"humidity": 84.84, "number_set": [1.0, 2.0, 3.0, 4.0]},
        "untyped": {},
    }
    rem = ddb.decode_event(
        {
            "eventSource": "aws:dynamodb",
            "eventName": "REMOVE",
            "dynamodb": {"Keys": {"id": {"S": "k1"}}},
        }
    )
    assert rem == {"op": "delete", "pk": {"id": "k1"}, "typed": {}, "untyped": {}}


def test_decode_event_guards():
    with pytest.raises(ddb.DecodeError, match="Unknown eventSource"):
        ddb.decode_event({"eventSource": "foo:bar"})
    with pytest.raises(ddb.DecodeError, match="Unknown CDC event name"):
        ddb.decode_event({"eventSource": "aws:dynamodb", "eventName": "FOOBAR"})


# ---------------------------------------------------------------------------
# Vectorized paths
# ---------------------------------------------------------------------------


def test_decode_events_pandas_batch_and_dlq():
    import pandas as pd

    ops = pd.Series(["insert", "delete", "insert"])
    keys = pd.Series([json.dumps({"id": {"S": "a"}})] * 3)
    images = pd.Series(
        [
            json.dumps({"id": {"S": "a"}, "n": {"N": "1.5"}}),
            None,
            json.dumps({"id": {"S": "a"}, "bad": {}}),  # poison row
        ]
    )
    out = ddb.decode_events_pandas(ops, keys, images)
    assert out["error"].isna().tolist() == [True, True, False]
    assert json.loads(out["typed"][0]["n"]) == 1.5
    assert json.loads(out["pk"][1]["id"]) == "a"  # delete decodes Keys


def test_compile_direct_decoder_jvm(spark):
    rows = [
        (
            "insert",
            json.dumps(
                {
                    "repo": {"S": "r1"},
                    "path": {"S": "a.py"},
                    "commit": {"S": "c1"},
                    "lang": {"S": "py"},
                    "content": {"S": "print(1)"},
                    "size": {"N": "8"},
                    "tags": {"SS": ["b", "a"]},
                }
            ),
        )
    ]
    df = spark.createDataFrame(rows, "op string, image string")
    out = ddb.compile_direct_decoder(
        df,
        "image",
        {
            "repo": "S",
            "path": "S",
            "commit": "S",
            "lang": "S",
            "content": "S",
            "size": "N",
            "tags": "SS",
        },
    )
    row = out.collect()[0].asDict()
    assert row["repo"] == "r1" and row["size"] == 8.0 and row["tags"] == ["a", "b"]
    # the plan must be pure JVM: no Python eval nodes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sets_sorted_and_floats_formatted(spark):
    """Direct value pins on the Arrow universal decoder: sorted sets,
    N->float with Python-repr formatting of integral doubles."""
    df = spark.createDataFrame(
        [
            (
                "insert",
                json.dumps({"id": {"S": "k1"}}),
                json.dumps(
                    {
                        "id": {"S": "k1"},
                        "ns": {"NS": ["3", "1", "2.5"]},
                        "big": {"N": "123456789"},
                    }
                ),
            )
        ],
        "op string, keys_json string, image string",
    )
    row = ddb.decode_universal(df).collect()[0]
    assert row["typed"]["ns"] == "[1.0,2.5,3.0]"
    # Python float repr, not the Java-style 1.23456789E8
    assert row["typed"]["big"] == "123456789.0"
