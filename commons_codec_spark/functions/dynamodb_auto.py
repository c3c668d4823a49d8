"""Schema-inferred DIRECT decode: unknown schemas at JVM speed.

The reference's UNIVERSAL mapping strategy exists because the sink schema
is unknown at compile time (``/root/reference/src/commons_codec/transform/
aws_dms.py:419-445``); its DIRECT strategy is the fast path for known
schemas.  Spark has a native answer to "unknown at compile time":
**infer, then compile** — exactly how ``spark.read.json`` handles
schemaless input.  This module applies that to the DynamoDB descriptor
lattice:

1. :func:`infer_image_schema` — bounded-depth, level-by-level JVM
   aggregation over the batch: explode each image's top-level
   ``{field: {marker: payload}}`` map (``from_json`` string catch-all),
   collect distinct markers per field path, recurse into M/L payloads.
   One small job per nesting level, shrinking each level; optional
   ``sample_fraction`` mirrors ``spark.read.json``'s samplingRatio.
2. :func:`decode_inferred` — compile the inferred spec into ONE typed
   ``from_json`` + struct-access/cast projection
   (:func:`~.dynamodb.compile_direct_decoder` generalized to nested
   M/L), fully inside whole-stage codegen.

Decoded semantics match :func:`~.dynamodb.deserialize` (CrateDB
overrides): N -> double, SS/NS/BS -> sorted arrays, M -> struct,
homogeneous L -> array.  A scalar marker seen together with NULL decodes
as that scalar (DynamoDB's nullable-attribute idiom).  Anything the
typed path cannot represent — varied lists, marker conflicts (e.g. a
field that changed type mid-stream), nesting beyond ``max_depth`` — is
**coarsened to its top-level field**, which comes back as the raw
descriptor JSON text (an "opaque" column) for downstream routing, e.g.
to :func:`~.dynamodb.decode_universal`.  So the operator is total: every
batch decodes, and the fast typed path covers exactly the shape the
batch actually has.

Contrast measured at 2M depth-1 images, local[32], warm: Arrow universal
kernel 8.5 s; this path ~1 s inference + a DIRECT-speed decode (the same
compiled form the replay hot path uses).  Nothing here is interpreted
per row.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame

_MAP = "map<string,string>"
_ARR = "array<string>"

_SCALARS = {"S", "N", "B", "BOOL", "NULL", "SS", "NS", "BS"}

#: path separators for nested field tracking — control chars that
#: cannot appear in sane attribute names (names are not split back,
#: so even a pathological name only risks a spurious opaque)
SEP = "\x1f"
LSUF = "\x1f[]"

#: marker -> raw spark type inside the one-field descriptor struct
_RAW_TYPES: dict[str, T.DataType] = {
    "S": T.StringType(),
    "N": T.StringType(),
    "B": T.StringType(),
    "BOOL": T.BooleanType(),
    "NULL": T.BooleanType(),
    "SS": T.ArrayType(T.StringType()),
    "NS": T.ArrayType(T.StringType()),
    "BS": T.ArrayType(T.StringType()),
}


@dataclass
class FieldSpec:
    """Inferred shape of one field path.

    kind: 'scalar' (marker holds which), 'M' (children), 'L' (inner),
    or 'opaque' (not typed-representable; surfaces as raw JSON text).
    """

    kind: str
    marker: str | None = None
    children: dict[str, "FieldSpec"] = dc_field(default_factory=dict)
    inner: "FieldSpec | None" = None

    def is_opaque(self) -> bool:
        if self.kind == "opaque":
            return True
        if self.kind == "M":
            return any(c.is_opaque() for c in self.children.values())
        if self.kind == "L":
            return self.inner is None or self.inner.is_opaque()
        return False


def infer_image_schema(
    df: DataFrame,
    image_col: str = "image",
    max_depth: int = 3,
    sample_fraction: float | None = None,
) -> dict[str, FieldSpec]:
    """One shrinking JVM job per nesting level -> {top_field: FieldSpec}.

    With ``sample_fraction`` set, inference sees a row sample (faster, but
    fields absent from the sample decode as opaque/missing — same
    trade-off as ``spark.read.json(samplingRatio=...)``).
    """
    src = df.select(F.col(image_col).alias("img")).where(F.col("img").isNotNull())
    if sample_fraction is not None and sample_fraction < 1.0:
        src = src.sample(fraction=sample_fraction, seed=7)

    frontier = src.select(
        F.lit("").alias("path"),
        F.explode(
            F.coalesce(F.from_json("img", _MAP), F.from_json(F.lit("{}"), _MAP))
        ).alias("field", "desc"),
    )

    # (path, field) -> set of markers; paths are SEP/LSUF-joined
    observed: dict[tuple[str, str], set[str]] = {}
    truncated: set[str] = set()  # paths whose children passed max_depth
    persisted = []

    for level in range(max_depth + 1):
        # Persist each level's parsed frontier: the next level's explode
        # reads it instead of recomputing the whole chain from the source
        # (without this, level d costs a re-parse of levels 0..d-1).
        marker = F.get(F.map_keys(F.from_json("desc", _MAP)), 0)
        decoded = frontier.select(
            "path",
            "field",
            marker.alias("marker"),
            # only M/L payloads feed the next level; dropping scalar
            # payloads (which include full document bodies) keeps the
            # persisted frontier small
            F.when(
                marker.isin("M", "L"),
                F.get(F.map_values(F.from_json("desc", _MAP)), 0),
            ).alias("payload"),
        ).persist()
        persisted.append(decoded)
        rows = (
            decoded.groupBy("path", "field")
            .agg(F.collect_set("marker").alias("markers"))
            .collect()
        )
        if not rows:
            break
        for r in rows:
            observed.setdefault((r["path"], r["field"]), set()).update(
                m for m in r["markers"] if m is not None
            )
            # a null marker means a malformed / non-object descriptor
            if None in r["markers"] or len(r["markers"]) == 0:
                observed[(r["path"], r["field"])].add("?")

        if level == max_depth:
            # depth wall: anything still nested here decodes as opaque —
            # derivable from the already-collected marker sets, no extra job
            for r in rows:
                if "M" in r["markers"]:
                    truncated.add(r["path"] + SEP + r["field"])
                if "L" in r["markers"]:
                    truncated.add(r["path"] + SEP + r["field"] + LSUF)
            break

        nested = decoded.where(F.col("marker").isin("M", "L"))
        m_next = nested.where(F.col("marker") == "M").select(
            F.concat("path", F.lit(SEP), "field").alias("path"),
            F.explode(
                F.coalesce(
                    F.from_json("payload", _MAP), F.from_json(F.lit("{}"), _MAP)
                )
            ).alias("field", "desc"),
        )
        l_next = nested.where(F.col("marker") == "L").select(
            F.concat("path", F.lit(SEP), "field", F.lit(LSUF)).alias("path"),
            F.lit("").alias("field"),
            F.explode(
                F.coalesce(
                    F.from_json("payload", _ARR),
                    F.array().cast(_ARR),
                )
            ).alias("desc"),
        )
        frontier = m_next.unionByName(l_next)

    for p in persisted:
        p.unpersist()

    def build(path: str, fname: str) -> FieldSpec:
        markers = observed.get((path, fname), set())
        child_path = path + SEP + fname
        non_null = markers - {"NULL"}
        if markers == {"NULL"}:
            return FieldSpec("scalar", "NULL")
        if len(non_null) != 1 or "?" in markers:
            return FieldSpec("opaque")
        (m,) = non_null
        if m in _SCALARS:
            return FieldSpec("scalar", m)
        if m == "M":
            if child_path in truncated:
                return FieldSpec("opaque")
            kids = {
                f: build(p, f) for (p, f) in sorted(observed) if p == child_path
            }
            return FieldSpec("M", children=kids)
        if m == "L":
            lpath = child_path + LSUF
            if lpath in truncated:
                return FieldSpec("opaque")
            if (lpath, "") not in observed:  # only empty lists seen
                return FieldSpec("L", inner=FieldSpec("scalar", "NULL"))
            return FieldSpec("L", inner=build(lpath, ""))
        return FieldSpec("opaque")

    # sorted: `collect` order is nondeterministic, output column order
    # must not be
    spec = {f: build(p, f) for (p, f) in sorted(observed) if p == ""}
    # coarsen: a field whose subtree contains any opaque part surfaces
    # whole, as raw descriptor text (clean all-or-nothing per column)
    return {
        f: (FieldSpec("opaque") if s.is_opaque() else s)
        for f, s in spec.items()
    }


def _raw_schema(spec: FieldSpec) -> T.DataType:
    """The ``from_json`` type of one field's descriptor struct."""
    if spec.kind == "scalar":
        return T.StructType([T.StructField(spec.marker, _RAW_TYPES[spec.marker])])
    if spec.kind == "M":
        inner = T.StructType(
            [
                T.StructField(name, _raw_schema(child))
                for name, child in spec.children.items()
            ]
        )
        return T.StructType([T.StructField("M", inner)])
    if spec.kind == "L":
        return T.StructType(
            [T.StructField("L", T.ArrayType(_raw_schema(spec.inner)))]
        )
    raise ValueError(spec.kind)  # pragma: no cover — opaque handled upstream


def _decode_spec(raw: Column, spec: FieldSpec) -> Column:
    """Decoded value of one parsed descriptor struct (deserialize analog)."""
    if spec.kind == "scalar":
        m = spec.marker
        v = raw[m]
        if m in ("S", "B", "BOOL"):
            return v
        if m == "N":
            # try_cast: under ANSI mode (Spark 4 default) a malformed
            # numeric payload must decode NULL (DLQ route), not throw
            # CAST_INVALID_INPUT and kill the batch — inference inspects
            # markers only, never payload validity, so the decode itself
            # has to stay total.
            return v.try_cast("double")
        if m == "NULL":
            return F.lit(None).cast("string")
        if m in ("SS", "BS"):
            return F.array_sort(v)
        if m == "NS":
            return F.array_sort(F.transform(v, lambda x: x.try_cast("double")))
    if spec.kind == "M":
        if not spec.children:
            # typeless empty struct is unrepresentable; empty map instead
            return F.when(
                raw["M"].isNotNull(),
                F.from_json(F.lit("{}"), _MAP),
            )
        return F.when(
            raw["M"].isNotNull(),
            F.struct(
                *[
                    _decode_spec(raw["M"][name], child).alias(name)
                    for name, child in spec.children.items()
                ]
            ),
        )
    if spec.kind == "L":
        return F.transform(raw["L"], lambda x: _decode_spec(x, spec.inner))
    raise ValueError(spec.kind)  # pragma: no cover


def decode_inferred(
    df: DataFrame,
    spec: dict[str, FieldSpec],
    image_col: str = "image",
    prefix: str = "",
    conformance_col: str | None = None,
    error_col: str | None = None,
) -> DataFrame:
    """Compile ``spec`` into one typed from_json projection (JVM, codegen).

    Typed fields become real columns; opaque fields become
    ``<name>`` string columns holding the raw descriptor JSON text for
    downstream routing (e.g. the Arrow universal kernel).  ``prefix``
    namespaces the decoded columns when image fields collide with
    existing ones.

    ``conformance_col``: with *sampled* inference the spec may miss
    fields; name this column to get a cheap per-row flag — True iff the
    row's top-level field names are all covered by the spec
    (``json_object_keys``, no value materialization).  Field-NAME level
    only: a known name carrying an unseen marker still decodes null —
    full inference (the default) is exact and needs no flag.

    ``error_col``: name a column to mark rows whose image is unparseable
    JSON (PERMISSIVE corrupt-record capture) — without it such rows just
    decode all-null, which the pipeline still DLQs via null keys, but the
    explicit marker makes poison routing diagnosable.
    """
    typed = {n: s for n, s in spec.items() if s.kind != "opaque"}
    opaque = [n for n, s in spec.items() if s.kind == "opaque"]

    schema = T.StructType(
        [T.StructField(n, _raw_schema(s)) for n, s in typed.items()]
    )
    cols = list(df.columns)
    out = df
    if typed:
        out = out.withColumn("__img", F.from_json(F.col(image_col), schema))
    if opaque:
        out = out.withColumn("__raw", F.from_json(F.col(image_col), _MAP))
    proj = [
        _decode_spec(F.col("__img")[n], s).alias(prefix + n)
        for n, s in typed.items()
    ]
    proj += [F.col("__raw")[n].alias(prefix + n) for n in opaque]
    if error_col is not None:
        corrupt = F.from_json(
            F.col(image_col),
            "struct<_corrupt: string>",
            {"columnNameOfCorruptRecord": "_corrupt"},
        )["_corrupt"]
        proj.append(
            F.when(
                F.col(image_col).isNotNull() & corrupt.isNotNull(),
                F.lit("DecodeError: unparseable image JSON"),
            )
            .otherwise(F.lit(None).cast("string"))
            .alias(error_col)
        )
    if conformance_col is not None:
        known = F.array(*[F.lit(n) for n in spec]) if spec else F.array().cast(_ARR)
        proj.append(
            (
                F.col(image_col).isNull()
                | (
                    F.size(
                        F.array_except(
                            F.coalesce(
                                F.json_object_keys(image_col),
                                F.array().cast(_ARR),
                            ),
                            known,
                        )
                    )
                    == 0
                )
            ).alias(conformance_col)
        )
    return out.select(*cols, *proj).drop("__img", "__raw")


def decode_auto(
    df: DataFrame,
    image_col: str = "image",
    max_depth: int = 3,
    sample_fraction: float | None = None,
    prefix: str = "",
    conformance_col: str | None = None,
) -> tuple[DataFrame, dict[str, FieldSpec]]:
    """Infer the batch's image schema, then decode it compiled.

    Returns ``(decoded_df, spec)`` — the spec is the contract of what was
    typed vs opaque, and can be persisted (schema registry) to pin later
    batches to the same shape.
    """
    spec = infer_image_schema(
        df, image_col=image_col, max_depth=max_depth, sample_fraction=sample_fraction
    )
    return (
        decode_inferred(
            df,
            spec,
            image_col=image_col,
            prefix=prefix,
            conformance_col=conformance_col,
        ),
        spec,
    )


def make_auto_decoder(
    image_col: str = "image",
    keys_col: str = "keys_json",
    max_depth: int = 3,
    sample_fraction: float | None = None,
):
    """Pipeline decoder (``PipelineConfig.decoder``) for descriptor
    envelopes whose image schema is UNKNOWN up front.

    Each batch is inferred and decoded compiled; the spec is pinned across
    batches and extended additively (a later batch introducing a new field
    widens it — the additive schema-evolution contract), while a field
    that *changes shape* between batches raises instead of silently
    misdecoding, matching the lake's clear-error-on-type-change policy.

    The decoder exposes the running spec as ``decoder.discovered`` after
    every call — the pipeline merges those names into its payload-column
    set, so fold/merge pick up inferred columns exactly like discovered
    ones.
    """
    pinned: dict[str, FieldSpec] = {}

    def decode(batch: DataFrame) -> DataFrame:
        src = batch.withColumn(
            image_col, F.coalesce(F.col(image_col), F.col(keys_col))
        )
        fresh = infer_image_schema(
            src,
            image_col=image_col,
            max_depth=max_depth,
            sample_fraction=sample_fraction,
        )
        for name, s in fresh.items():
            if name not in pinned:
                pinned[name] = s
            elif pinned[name] != s:
                raise ValueError(
                    f"image column {name!r} changed shape across batches: "
                    f"{pinned[name]} -> {s}; a type flip would silently "
                    "misdecode — route the source through an explicit "
                    "schema instead"
                )
        decode.discovered = dict(pinned)
        return decode_inferred(src, pinned, image_col=image_col).drop(image_col)

    decode.discovered = {}
    return decode


__all__ = [
    "FieldSpec",
    "infer_image_schema",
    "decode_inferred",
    "decode_auto",
    "make_auto_decoder",
]
