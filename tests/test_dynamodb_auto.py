"""Schema-inferred DIRECT decode (infer -> compile -> JVM decode).

Pins decode_auto to the deserialize lattice semantics
(``/root/reference/src/commons_codec/vendor/boto3/dynamodb/types.py:82-144``
with CrateDB overrides): typed columns for inferable shapes, raw
descriptor text for varied lists / marker conflicts / beyond-depth
nesting, scalar+NULL nullability, and a Python-free physical plan.
"""

from __future__ import annotations

import json
import random

import pyspark.sql.functions as F

from commons_codec_spark.functions.dynamodb_auto import (
    FieldSpec,
    decode_auto,
    decode_inferred,
    infer_image_schema,
)


def _rand_descriptor(rng: random.Random, depth: int):
    markers = ["S", "N", "BOOL", "NULL", "B", "SS", "NS", "BS"]
    if depth > 0:
        markers += ["M", "L", "M", "L"]
    m = rng.choice(markers)
    if m == "S":
        return {"S": rng.choice(["", "plain", 'q"uote', "uni·é", "a\nb", "x" * 40])}
    if m == "N":
        return {"N": rng.choice(["0", "-7", "123456789", "84.84", "1e3", "0.25"])}
    if m == "BOOL":
        return {"BOOL": rng.random() < 0.5}
    if m == "NULL":
        return {"NULL": True}
    if m == "B":
        return {"B": "U3Vubnk="}
    if m == "SS":
        return {"SS": rng.sample(["a", "b", "c", "dd", "é"], rng.randint(1, 4))}
    if m == "NS":
        return {"NS": rng.sample([1, 2.5, -3, 400, 0.125], rng.randint(1, 4))}
    if m == "BS":
        return {"BS": rng.sample(["YQ==", "Yg==", "Yw=="], rng.randint(1, 3))}
    if m == "M":
        return {
            "M": {
                f"f{j}": _rand_descriptor(rng, depth - 1)
                for j in range(rng.randint(0, 3))
            }
        }
    return {"L": [_rand_descriptor(rng, depth - 1) for _ in range(rng.randint(0, 3))]}


def _df(spark, images):
    return spark.createDataFrame(
        [(json.dumps(i) if isinstance(i, dict) else i,) for i in images],
        "image string",
    )


def test_scalar_and_set_markers_typed(spark):
    df = _df(
        spark,
        [
            {
                "s": {"S": "hi"},
                "n": {"N": "84.84"},
                "b": {"BOOL": True},
                "bin": {"B": "U3Vubnk="},
                "ss": {"SS": ["b", "a"]},
                "ns": {"NS": ["3", "1", "2.5"]},
                "bs": {"BS": ["Yg==", "YQ=="]},
                "nul": {"NULL": True},
            }
        ],
    )
    out, spec = decode_auto(df)
    row = out.collect()[0]
    assert row["s"] == "hi" and row["n"] == 84.84 and row["b"] is True
    assert row["bin"] == "U3Vubnk="
    assert row["ss"] == ["a", "b"]  # sets decode sorted
    assert row["ns"] == [1.0, 2.5, 3.0]
    assert row["bs"] == ["YQ==", "Yg=="]
    assert row["nul"] is None
    assert all(s.kind == "scalar" for s in spec.values())


def test_nested_m_becomes_struct_and_l_becomes_array(spark):
    df = _df(
        spark,
        [
            {
                "m": {"M": {"t": {"N": "42"}, "in": {"M": {"s": {"S": "x"}}}}},
                "l": {"L": [{"S": "p"}, {"S": "q"}]},
                "lm": {"L": [{"M": {"a": {"N": "1"}}}]},
            }
        ],
    )
    out, spec = decode_auto(df)
    row = out.collect()[0]
    assert row["m"]["t"] == 42.0 and row["m"]["in"]["s"] == "x"
    assert row["l"] == ["p", "q"]
    assert row["lm"][0]["a"] == 1.0
    assert spec["m"].kind == "M" and spec["l"].kind == "L"


def test_varied_list_and_marker_conflict_opaque(spark):
    df = _df(
        spark,
        [
            {"vl": {"L": [{"N": "1"}, {"S": "x"}]}, "c": {"N": "1"}},
            {"c": {"S": "one"}},
        ],
    )
    out, spec = decode_auto(df)
    assert spec["vl"].kind == "opaque" and spec["c"].kind == "opaque"
    rows = {r["c"]: r for r in out.collect()}
    # opaque columns carry the raw descriptor text for downstream routing
    assert '{"N":"1"}' in rows or '{"N": "1"}' in rows
    vals = sorted(v for v in rows)
    assert any("S" in v for v in vals) and any("N" in v for v in vals)


def test_scalar_plus_null_decodes_nullable(spark):
    df = _df(
        spark,
        [{"maybe": {"S": "v"}}, {"maybe": {"NULL": True}}, {}],
    )
    out, spec = decode_auto(df)
    assert spec["maybe"].kind == "scalar" and spec["maybe"].marker == "S"
    assert sorted(
        (r["maybe"] for r in out.collect()), key=lambda v: (v is None, v)
    ) == ["v", None, None]


def test_depth_wall_coarsens_to_opaque(spark):
    deep = {"S": "bottom"}
    for i in range(5):
        deep = {"M": {f"l{i}": deep}}
    df = _df(spark, [{"d": deep, "flat": {"S": "x"}}])
    out, spec = decode_auto(df, max_depth=2)
    assert spec["d"].kind == "opaque" and spec["flat"].kind == "scalar"
    row = out.collect()[0]
    assert row["flat"] == "x" and row["d"].startswith('{"M":')


def test_plan_is_python_free(spark):
    df = _df(spark, [{"a": {"S": "x"}, "m": {"M": {"b": {"N": "1"}}}}])
    out, _ = decode_auto(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_spec_deterministic_column_order(spark):
    images = [{f"f{i:02d}": {"S": str(i)} for i in range(10)}] * 5
    df = _df(spark, images).repartition(4)
    out, spec = decode_auto(df)
    assert list(spec) == sorted(spec)
    assert out.columns == ["image"] + sorted(spec)


def test_sampled_inference_with_conformance_flag(spark):
    common = [{"a": {"S": "x"}, "n": {"N": "1"}}] * 200
    rare = [{"a": {"S": "y"}, "surprise": {"S": "!"}}]
    df = _df(spark, common + rare).coalesce(1)
    spec = infer_image_schema(df, sample_fraction=0.05)
    out = decode_inferred(df, spec, conformance_col="_conforms")
    bad = out.where(~F.col("_conforms"))
    if "surprise" not in spec:  # the rare row escaped the sample
        assert bad.count() == 1
        assert json.loads(bad.collect()[0]["image"])["surprise"] == {"S": "!"}
    else:  # sample caught it; everything conforms
        assert bad.count() == 0


def test_agreement_with_arrow_universal_kernel(spark):
    """Typed decode_auto values re-encoded must equal the universal
    kernel's typed-bucket JSON for a fully-inferable corpus."""
    from commons_codec_spark.functions.dynamodb import decode_record

    images = [
        {
            "s": {"S": f"v{i}"},
            "n": {"N": str(i * 1.5)},
            "m": {"M": {"k": {"S": f"kv{i}"}}},
            "ss": {"SS": [f"b{i}", f"a{i}"]},
        }
        for i in range(50)
    ]
    df = _df(spark, images)
    out, spec = decode_auto(df)
    got = {
        r["s"]: (r["n"], r["m"]["k"], r["ss"]) for r in out.collect()
    }
    for img in images:
        ref = decode_record(img)["typed"]
        assert got[ref["s"]] == (ref["n"], ref["m"]["k"], ref["ss"])


def test_pinned_spec_reuse_across_batches(spark):
    """A persisted spec (schema-registry style) decodes a later batch
    without re-inference."""
    spec = {
        "a": FieldSpec("scalar", "S"),
        "n": FieldSpec("scalar", "N"),
    }
    df = _df(spark, [{"a": {"S": "x"}, "n": {"N": "2"}}])
    row = decode_inferred(df, spec).collect()[0]
    assert row["a"] == "x" and row["n"] == 2.0


def test_auto_decoder_pipeline_matches_default_dialect(spark, tmp_path):
    """Replay the same CDC log through (a) the declared-schema DIRECT
    dialect and (b) the schema-inferring auto dialect; final lake states
    must be identical — including the additive lang column that only
    appears mid-stream."""
    from commons_codec_spark.functions.dynamodb_auto import make_auto_decoder
    from commons_codec_spark.lake.table import KeyedLakeTable
    from commons_codec_spark.sources.eventlog import (
        SOURCE_CODE_COLUMNS,
        generate_event_log,
    )
    from commons_codec_spark.streaming.pipeline import CDCPipeline, PipelineConfig

    log = generate_event_log(
        spark, n_events=3000, n_keys=300, n_repos=6, seed=11, batch_size=1000
    ).cache()
    key_schema = {"repo": "string", "path": "string"}

    def run(tag, **cfg_kw):
        tbl = KeyedLakeTable.create(
            spark, str(tmp_path / tag), key_schema=key_schema, n_buckets=4
        )
        cfg = PipelineConfig(keys=["repo", "path"], **cfg_kw)
        CDCPipeline(spark, tbl, cfg).run_replay(log)
        return tbl

    t_direct = run("direct", image_columns=SOURCE_CODE_COLUMNS)
    t_auto = run(
        "auto",
        image_columns={"repo": "S", "path": "S"},  # keys only; rest inferred
        decoder=make_auto_decoder(),
    )

    cols = sorted(set(t_direct.read().columns) & set(t_auto.read().columns))
    assert "lang" in cols and "content" in cols and "size" in cols
    a = sorted(map(tuple, t_direct.read().select(*cols).collect()))
    b = sorted(map(tuple, t_auto.read().select(*cols).collect()))
    assert a == b and len(a) > 0


def test_auto_decoder_raises_on_type_flip(spark):
    import json as _json

    from commons_codec_spark.functions.dynamodb_auto import make_auto_decoder

    dec = make_auto_decoder()
    b1 = spark.createDataFrame(
        [("insert", _json.dumps({"id": {"S": "a"}}), _json.dumps({"id": {"S": "a"}, "v": {"N": "1"}}))],
        "op string, keys_json string, image string",
    )
    dec(b1)
    assert dec.discovered["v"].marker == "N"
    b2 = b1.withColumn(
        "image", F.lit(_json.dumps({"id": {"S": "a"}, "v": {"S": "one"}}))
    )
    try:
        dec(b2)
        assert False, "type flip must raise"
    except ValueError as exc:
        assert "changed shape" in str(exc)


def test_random_corpus_agreement_with_kernel(spark):
    """Seeded random images (nested M/L, sets, conflicts impossible here
    since every doc shares the generator): decode_auto's typed output
    must agree value-for-value with the reference kernel's decode."""
    from commons_codec_spark.functions.dynamodb import decode_record

    rng = random.Random(23)
    images = []
    for i in range(60):
        img = {"id": {"S": f"k{i:03d}"}}
        for j in range(rng.randint(1, 4)):
            img[f"c{j}"] = _rand_descriptor(rng, 2)
        images.append(img)
    df = _df(spark, images)
    out, spec = decode_auto(df, max_depth=3)
    got = {r["id"]: r.asDict() for r in out.collect()}

    def norm(v):
        # Spark Rows -> dicts, lists recurse; floats already aligned
        if hasattr(v, "asDict"):
            return {k: norm(x) for k, x in v.asDict().items()}
        if isinstance(v, list):
            return [norm(x) for x in v]
        return v

    for img in images:
        ref = decode_record(img)["typed"]
        row = got[ref["id"]]
        for field, refv in ref.items():
            if field == "id":
                continue
            spec_f = spec.get(field)
            if spec_f is None or spec_f.kind == "opaque":
                # opaque fields surface raw text; kernel-decoded form not
                # comparable — covered by the opaque-specific tests
                continue
            gotv = norm(row[field])
            if isinstance(refv, dict):
                # struct decode drops nothing observed; missing keys are None
                for k, rv in refv.items():
                    assert _loose_eq(gotv.get(k), rv), (field, k, gotv, refv)
            else:
                assert _loose_eq(gotv, refv), (field, gotv, refv)


def _loose_eq(a, b):
    if isinstance(b, dict):
        return isinstance(a, dict) and all(_loose_eq(a.get(k), v) for k, v in b.items())
    if isinstance(b, list):
        return isinstance(a, list) and len(a) == len(b) and all(
            _loose_eq(x, y) for x, y in zip(a, b)
        )
    if isinstance(b, float) and a is not None:
        return abs(float(a) - b) < 1e-9
    return a == b


def test_error_col_marks_unparseable_images(spark):
    df = spark.createDataFrame(
        [(json.dumps({"a": {"S": "x"}}),), ("{broken",), (None,)],
        "image string",
    )
    spec = infer_image_schema(df)
    rows = decode_inferred(df, spec, error_col="error").collect()
    by_img = {(r["image"] or "NULL")[:4]: r for r in rows}
    assert by_img['{"a\"']["error"] is None and by_img['{"a\"']["a"] == "x"
    assert by_img["{bro"]["error"] is not None and by_img["{bro"]["a"] is None
    assert by_img["NULL"]["error"] is None  # absent image is not poison


def test_malformed_numeric_payload_is_total(spark):
    """ADVICE r2: inference sees only markers, so a malformed N payload
    must decode NULL (DLQ route), not throw CAST_INVALID_INPUT under ANSI
    mode and kill the batch."""
    rows = [
        (1, '{"pk":{"S":"a"},"n":{"N":"12.5"},"ns":{"NS":["1","2"]}}'),
        (2, '{"pk":{"S":"b"},"n":{"N":"zz"},"ns":{"NS":["3","oops"]}}'),
    ]
    df = spark.createDataFrame(rows, "id long, image string")
    spec = infer_image_schema(df, "image")
    out = {r["id"]: r for r in decode_inferred(df, spec, "image").collect()}
    assert out[1]["n"] == 12.5 and out[1]["ns"] == [1.0, 2.0]
    assert out[2]["n"] is None          # poison value -> NULL, job alive
    assert out[2]["ns"] == [3.0, None]  # element-wise try_cast
