"""The CDC ingest pipeline: decode → fold → merge, batch and streaming.

Engine lifecycle (SURVEY.md §3, target shape)::

    readStream(event log) → foreachBatch[
        decode (JVM-compiled descriptor decode; Arrow UDF fallback)
        → validate / DLQ split
        → per-key two-branch fold (skew-salted two-phase reduce)
        → LakeSink.merge (bucket-pruned, ordering-guarded, idempotent)
        → metrics + lineage
    ] with checkpointed offsets

Exactly-once: Structured Streaming replays a failed micro-batch with the
same batch_id; the sink's ``merge`` refuses to re-apply an applied
batch_id, so replay is a no-op (the ON-CONFLICT-DO-NOTHING analog at batch
granularity — reference motivation ``/root/reference/CHANGES.md:20-24``).

Schema evolution: before decoding, each batch's image key names are
collected JVM-side (``json_object_keys``) in the same one-row aggregation
as the keys-only prescan (touched buckets, lineage counts), so discovery
costs no pass of its own; new columns are registered + added to the decode
schema, and the lake widens on merge (north rule's ``lang`` case).  Paths
without a prescan run that aggregation with the key names alone.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from commons_codec_spark.functions.dynamodb import compile_direct_decoder
from commons_codec_spark.lake.interface import LakeSink
from commons_codec_spark.operators.cdc_fold import fold_net_changes
from commons_codec_spark.registry import SchemaRegistry


def _key_names(names: Column) -> Column:
    """Aggregate: the distinct names across a group's name arrays
    (``json_object_keys(image)`` per row, or per-key name sets)."""
    return F.array_distinct(F.flatten(F.collect_set(names)))


@dataclass
class PipelineConfig:
    keys: list[str]
    image_columns: dict[str, str]  # column -> descriptor marker (seed schema)
    seq_col: str = "commit_seq"
    schema_name: str = "public"
    table_name: str = "source_code"
    #: Skew salting for the fold: an int pins the chunk count; ``"auto"``
    #: measures per-key skew in the keys-only prescan (near-zero cost — the
    #: prescan becomes a two-level aggregation) and engages the two-phase
    #: fold only when the hottest key's event count exceeds
    #: ``max(4 × events/shuffle_partitions, auto_salt_floor)``.  Auto
    #: requires the default dialect + ``touched_hint`` (the prescan); other
    #: configurations fall back to unsalted.
    salt_chunks: int | str | None = None
    #: Minimum per-key event count for a key to be treated as hot — keys
    #: above it are collected in the prescan (hottest 64) and passed to
    #: the fold as TARGETED salt targets; everything below folds in one
    #: chunk, untaxed.  Measured on the 32-core bench (interleaved
    #: min-of-3): a 2.4M-event hot key replays ~1.4× the uniform wall
    #: unsalted, and targeted salting with the phase-1 persist recovers
    #: it to at-or-below the uniform wall (27.7 s → 17.4 s at 4M events,
    #: bit-identical state); a 300k-event hot key costs ≤1.15× unsalted —
    #: not worth the second phase.  The floor is absolute single-task
    #: work, independent of batch size to first order.
    auto_salt_floor: int = 1_000_000
    discover_columns: bool = True  # additive schema evolution from images
    dlq_dir: str | None = None
    #: Pluggable record-rewrite stage between decode and fold — the analog
    #: of the reference's Tikray ``transformation`` hook
    #: (``/root/reference/src/commons_codec/transform/mongodb.py:48,56-59,189-200``).
    #: Receives the decoded batch DataFrame, returns a DataFrame with the
    #: same key/seq/op columns (payload columns may be rewritten).  Use
    #: built-in column expressions or a pandas UDF / mapInPandas stage.
    transform: Callable[[DataFrame], DataFrame] | None = None
    #: Apply create-table / drop-table control events in arrival order
    #: (reference EP1 step 3/4: ``aws_dms.py:133-144,146-166,172-178``).
    #: Costs one extra (tiny) job per batch, so off unless the stream
    #: actually carries DDL.
    handle_control: bool = False
    #: Vacuum the lake's unreferenced snapshot versions every N applied
    #: batches (0 = never).  Keeps long replays from accumulating one full
    #: copy-on-write data dir per batch.
    vacuum_every: int = 8
    #: Envelope dialect decoder.  None = the DynamoDB/DMS descriptor-image
    #: decode (default).  Otherwise a callable(batch) -> DataFrame producing
    #: ``op`` (insert|update|delete|NULL=skip), the key columns, ``seq_col``
    #: and the payload columns — e.g. :func:`make_mongo_decoder` for
    #: MongoDB change-stream envelopes (EP3).
    decoder: Callable[[DataFrame], DataFrame] | None = None
    #: Skip DDL control events entirely (reference ``ignore_ddl`` /
    #: SkipOperation, ``aws_dms.py:172-178``): neither the registry nor the
    #: lake reacts to create-table / drop-table.
    ignore_ddl: bool = False
    #: Caller-seeded MAP/OBJECT column annotations ({column: "map"|"object"},
    #: the reference's ColumnTypeMapStore).  Annotated string columns are
    #: re-parsed from JSON after decode (D8, ``decode_data``,
    #: ``aws_dms.py:207-224``); create-table control events can extend the
    #: set at runtime (column-types in the table-def).
    column_types: dict[str, str] | None = None
    #: Spark DDL schema per re-parsed column (default ``map<string,string>``).
    json_schemas: dict[str, str] | None = None
    #: Derive the merge's touched-bucket hint from a keys-only pre-scan so
    #: the decode→fold→join→write chain runs as one lazy job.  The same
    #: one-row aggregation returns the lineage counts and, with
    #: ``discover_columns``, the image key names discovery needs.  False falls
    #: back to materializing the (compact) fold output and discovering the
    #: buckets from it — cheaper when batches are small or keys_json is
    #: expensive to re-scan.  ``"all"`` skips the pre-scan outright and
    #: hints every bucket (the full-load argument extended to steady-state
    #: micro-batches): when the caller knows each batch's key set spans
    #: (nearly) every bucket — small bucket counts, well-mixed streams —
    #: the exact pre-scan is a whole extra pass over the batch's keys_json
    #: just to learn "all of them", so the merge becomes ONE lazy job per
    #: batch.  Extra hinted buckets rewrite byte-identical (merge's pinned
    #: superset contract); untouched-and-empty buckets stay absent.  Costs
    #: the per-batch lineage metrics (events/op histogram read 0 — they
    #: rode on the pre-scan) and is incompatible with ``salt_chunks=
    #: "auto"`` (skew is measured by the same pre-scan; config error).
    #: Without the pre-scan, ``discover_columns`` runs its key-name
    #: aggregation alone.  Batches carrying control events take the exact
    #: pre-scan in every segment whatever this says, so an empty pre-DDL
    #: segment commits no schema.
    #: Large tables (thousands of buckets) with small batches should keep
    #: the exact pre-scan — the hint trades a metadata-sized scan for
    #: rewriting every bucket, which only pays when batches touch most
    #: buckets anyway.
    touched_hint: bool | str = True


class CDCPipeline:
    """Drives decode→fold→merge for one keyed target table."""

    def __init__(
        self,
        spark: SparkSession,
        table: LakeSink,
        config: PipelineConfig,
        registry: SchemaRegistry | None = None,
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.table = table
        self.cfg = config
        self.checkpoint_dir = checkpoint_dir
        if config.touched_hint == "all" and config.salt_chunks == "auto":
            # auto-salting measures per-key skew in the keys-only prescan;
            # "all" exists to SKIP that prescan — the combination would
            # silently never salt, so reject it loudly instead
            raise ValueError(
                'touched_hint="all" skips the keys-only prescan that '
                'salt_chunks="auto" needs to measure skew; pick one '
                "(explicit salt_chunks still composes with \"all\")."
            )
        if config.handle_control and config.decoder is not None:
            # handle_control scans the RAW batch for 'create-table'/
            # 'drop-table' ops; a dialect decoder's batches carry the
            # envelope column instead (no raw `op`), and its post-decode op
            # vocabulary normalizes DDL to 'control' — the raw filter would
            # either AnalysisException or silently route DDL to the DLQ.
            raise ValueError(
                "handle_control requires the default descriptor-image dialect; "
                "custom decoders must surface DDL through their own control "
                "column and apply it before fold (see SchemaRegistry)."
            )
        self.registry = (
            registry
            or (checkpoint_dir and SchemaRegistry.load(checkpoint_dir))
            or SchemaRegistry()
        )
        # seed the registry with the declared schema + caller-provided
        # control-plane knowledge (column types, ignore_ddl)
        self.registry.note_columns(
            config.schema_name, config.table_name, list(config.image_columns)
        )
        self.registry.seed(
            config.schema_name,
            config.table_name,
            column_types=config.column_types,
            ignore_ddl=config.ignore_ddl,
        )
        self._image_columns = dict(config.image_columns)
        self.metrics: list[dict] = []

    # ------------------------------------------------------------ evolution

    def _discover_columns(
        self, batch: DataFrame, image_keys: list[str] | None = None
    ) -> None:
        """Register the batch's new image columns and widen the decode schema.

        ``image_keys`` is the batch's set of image key names, as the
        keys-only prescan's one-row aggregation returns it (column
        ``image_keys``, see :func:`_key_names`) — discovery rides on that
        pass instead of scanning the batch again.  Where no prescan runs
        (``touched_hint`` ``"all"``/False, a doomed control segment) the
        same aggregation runs alone.  A new column's descriptor marker is
        sniffed from one sample value (one small job per new name, only in
        the batch where the name first appears).
        """
        if not self.cfg.discover_columns:
            return
        if image_keys is None:
            image_keys = batch.agg(
                _key_names(F.json_object_keys("image")).alias("image_keys")
            ).first()["image_keys"]
        fresh = [c for c in image_keys if c not in self._image_columns]
        if not fresh:
            return
        for col in fresh:
            sample = (
                batch.filter(F.col("image").isNotNull())
                .select(F.get_json_object("image", f"$.{col}").alias("v"))
                .filter(F.col("v").isNotNull())
                .first()
            )
            marker = "S"
            if sample and sample[0]:
                try:
                    marker = next(iter(json.loads(sample[0]).keys()))
                except Exception:  # noqa: BLE001 — default to string
                    marker = "S"
            self._image_columns[col] = marker
        self.registry.note_columns(self.cfg.schema_name, self.cfg.table_name, fresh)

    # ------------------------------------------------------------ one batch

    # --------------------------------------------------------------- control

    _CONTROL_OPS = ("create-table", "drop-table")

    def _apply_control(self, row) -> None:
        """One DDL control event against the registry + lake (E6/E7)."""
        schema = row["schema_name"] if "schema_name" in row.__fields__ else self.cfg.schema_name
        table = row["table_name"] if "table_name" in row.__fields__ else self.cfg.table_name
        if self.registry.get(schema, table).ignore_ddl:
            # the reference raises SkipOperation here (``aws_dms.py:172-178``);
            # in a stream we just don't act on the event
            return
        if row["op"] == "create-table":
            table_def = None
            if "control_json" in row.__fields__ and row["control_json"]:
                table_def = json.loads(row["control_json"]).get("table-def")
            self.registry.apply_create_table(schema, table, table_def)
        else:  # drop-table: empty the lake snapshot, reset cached schema
            self.registry.apply_drop_table(schema, table)
            self.table.drop_data()

    def apply_batch(self, batch: DataFrame, batch_id: int) -> dict:
        t0 = time.time()
        # is_applied, not `in applied_batch_ids()`: the latter materializes
        # the full applied set every micro-batch — O(stream lifetime)
        if self.table.is_applied(batch_id):
            return {"batch_id": batch_id, "skipped": True}

        if self.cfg.handle_control:
            ctrl = sorted(
                batch.filter(F.col("op").isin(*self._CONTROL_OPS)).collect(),
                key=lambda r: r[self.cfg.seq_col],
            )
            if ctrl:
                # Arrival-order semantics: fold+merge each data sub-range
                # between control events, applying the DDL at its position.
                # Re-running after a crash converges (segment merges are
                # idempotent under the ordering guard; DDL is idempotent).
                #
                # Doomed-segment elision: a segment whose merge a LATER
                # in-batch drop-table wipes contributes nothing to the
                # final state — skip the merge, keep the DDL application
                # order (registry effects still land at their position).
                # "Don't compute what you throw away" at batch scale: a
                # drop arriving mid-way through a 10M-event batch saves
                # that many rows' fold+merge.  Disabled for changelog
                # tables (their CDF feed records every merge's net rows,
                # and a tailing replica must still see the pre-drop
                # versions — drop itself emits no change version) and for
                # dlq_dir pipelines (the segment's poison rows land in
                # the dead-letter output, an audit channel the drop was
                # never meant to erase).  Elided segments still run
                # schema DISCOVERY: an additive column learned from a
                # pre-drop image survives the drop in the decode schema
                # (drop resets the snapshot, not the pipeline's evolved
                # image_columns), so the post-drop state must widen
                # identically with or without the elision.
                data = batch.filter(~F.col("op").isin(*self._CONTROL_OPS))
                seq = F.col(self.cfg.seq_col)

                def _wipes(row) -> bool:
                    if row["op"] != "drop-table":
                        return False
                    schema = (row["schema_name"] if "schema_name" in row.__fields__
                              else self.cfg.schema_name)
                    table = (row["table_name"] if "table_name" in row.__fields__
                             else self.cfg.table_name)
                    return not self.registry.get(schema, table).ignore_ddl

                elide = (
                    not getattr(self.table, "changelog", False)
                    and not self.cfg.dlq_dir
                )
                # doomed[i]: some control at position >= i wipes the table
                doomed = [False] * len(ctrl)
                wiped_later = False
                for i in range(len(ctrl) - 1, -1, -1):
                    wiped_later = wiped_later or _wipes(ctrl[i])
                    doomed[i] = wiped_later
                lo = None
                out: dict = {"batch_id": batch_id, "segments": len(ctrl) + 1}
                skipped_segments = 0
                for i, c in enumerate(ctrl):
                    hi = c[self.cfg.seq_col]
                    seg = data.filter(
                        seq < hi if lo is None else (seq >= lo) & (seq < hi)
                    )
                    if elide and doomed[i]:
                        skipped_segments += 1
                        if self.cfg.decoder is None:
                            self._discover_columns(seg)
                    else:
                        self._apply_data_batch(seg, batch_id=None, exact=True)
                    self._apply_control(c)
                    lo = hi
                tail = data.filter(seq >= lo)
                out.update(self._apply_data_batch(tail, batch_id=batch_id, exact=True))
                if skipped_segments:
                    out["skipped_doomed_segments"] = skipped_segments
                out["wall_sec"] = round(time.time() - t0, 3)
                self.metrics.append(out)
                self._emit_metrics(out)
                return out

        m = self._apply_data_batch(batch, batch_id)
        m["wall_sec"] = round(time.time() - t0, 3)
        if m.get("events"):
            m["events_per_sec"] = round(m["events"] / max(m["wall_sec"], 1e-3), 1)
        if (
            self.cfg.vacuum_every
            and m.get("version")
            and m["version"] % self.cfg.vacuum_every == 0
        ):
            self.table.vacuum(keep_last=2)
        self.metrics.append(m)
        self._emit_metrics(m)
        return m

    def _apply_data_batch(self, batch: DataFrame, batch_id, exact: bool = False) -> dict:
        """Decode → fold → merge one data batch (or one control segment).

        ``exact`` takes the exact keys-only prescan whatever
        ``touched_hint`` says.  Control segments need it: under ``"all"``
        an empty pre-DDL segment would merge with every bucket hinted and
        bake its pre-DDL decode types into the commit; with the exact hint
        it merges ``touched=[]`` and bakes nothing.
        """
        if self.cfg.decoder is not None:
            decoded = self.cfg.decoder(batch)
            # schema-inferring decoders (make_auto_decoder) surface the
            # columns they found via `.discovered`; merge the names so
            # fold/merge treat inferred columns like discovered ones
            discovered = getattr(self.cfg.decoder, "discovered", None)
            if discovered:
                fresh = [c for c in discovered if c not in self._image_columns]
                if fresh:
                    for c in fresh:
                        self._image_columns[c] = "auto"
                    self.registry.note_columns(
                        self.cfg.schema_name, self.cfg.table_name, fresh
                    )

        # Touched-bucket hint + lineage metrics + column discovery in ONE
        # tiny aggregation over a keys-only scan of `keys_json` (parquet
        # reads one small column, plus `image` for discovery; no
        # window/fold).  It runs before the decode is planned: it needs
        # only the key columns, which discovery never adds.  With the
        # hint, `net` stays LAZY and the whole decode→fold→join→write
        # chain executes as ONE job (no persist barrier; the join reuses
        # the fold's partitioning).  keys_json is authoritative on every
        # DynamoDB-stream event (the `Keys` field); a malformed envelope
        # whose image keys disagree fails loudly in merge's hint check
        # rather than dropping rows.
        #
        # Metrics ride on this pass rather than an Observation on `decoded`:
        # a CollectMetrics node below the merge join never delivers inside a
        # foreachBatch micro-batch (Observation.get deadlocks), while an
        # explicit one-row agg works everywhere.
        touched = None
        observed: dict = {}
        image_keys = None  # None: no prescan carried discovery
        salt = self.cfg.salt_chunks
        auto_salt = salt == "auto"
        hot_keys: list[tuple] | None = None
        if auto_salt:
            salt = None  # resolved below when the prescan can measure skew
        t_hint = time.time()
        all_hint_buckets = (
            getattr(self.table, "n_buckets", None)
            if self.cfg.touched_hint == "all" and not exact
            else None
        )
        if all_hint_buckets:
            # "all" mode: no prescan job at all — the merge is the batch's
            # ONE job.  Lineage metrics rode on the prescan, so they read 0
            # here (documented on the config); correctness is carried by the
            # merge's superset-hint contract, exactly as in full_load.
            touched = list(range(all_hint_buckets))
        elif self.cfg.decoder is None and (exact or self.cfg.touched_hint):
            row = self._prescan(batch, auto_salt)
            if auto_salt:
                salt = self._resolve_auto_salt(
                    int(row["events"] or 0), int(row["max_key_events"] or 0)
                )
                hot_keys = [
                    tuple(r[k] for k in self.cfg.keys) for r in row["hot_keys"]
                ] if salt else None
            touched = sorted(b for b in row["buckets"] if b is not None)
            observed = {
                k: int(row[k] or 0)
                for k in ("events", "dlq_rows", "op_insert", "op_update", "op_delete")
            }
            if self.cfg.discover_columns:
                image_keys = row["image_keys"]

        if self.cfg.decoder is None:
            self._discover_columns(batch, image_keys)
            # decode (JVM): image JSON -> typed cols; deletes decode keys_json
            src = batch.withColumn(
                "image", F.coalesce(F.col("image"), F.col("keys_json"))
            )
            decoded = compile_direct_decoder(src, "image", self._image_columns)
        # D8: re-parse MAP/OBJECT-annotated JSON-in-string columns, driven by
        # the registry (caller-seeded and/or learned from create-table
        # control events) — one from_json per annotated column, JVM-side
        column_types = self.registry.get(
            self.cfg.schema_name, self.cfg.table_name
        ).column_types
        if column_types:
            from commons_codec_spark.functions.dms import reparse_object_columns

            decoded = reparse_object_columns(
                decoded, column_types, self.cfg.json_schemas or {}
            )

        # DLQ: events whose key fields failed to decode are filtered out
        # (written to dlq_dir when configured) and counted in the lineage
        # metrics.
        key_ok = None
        for k in self.cfg.keys:
            cond = F.col(k).isNotNull()
            key_ok = cond if key_ok is None else (key_ok & cond)
        if self.cfg.dlq_dir:
            decoded.filter(~key_ok).write.mode("append").parquet(self.cfg.dlq_dir)

        obs = None
        if touched is None:
            # persist-path metrics: an Observation on the decoded batch —
            # delivered by the materializing collect inside merge().
            # count(), not sum(): over an empty batch sum() yields a NULL
            # metric row that PythonSQLUtils.toPyRow refuses to convert.
            op = F.col("op")
            self._obs_n = getattr(self, "_obs_n", 0) + 1
            obs = Observation(f"dlq-{batch_id}-{self._obs_n}")
            decoded = decoded.observe(
                obs,
                F.count(F.when(~key_ok, F.lit(1))).alias("dlq_rows"),
                F.count(F.lit(1)).alias("events"),
                F.count(F.when(op == "insert", F.lit(1))).alias("op_insert"),
                F.count(F.when(op == "update", F.lit(1))).alias("op_update"),
                F.count(F.when(op == "delete", F.lit(1))).alias("op_delete"),
            )

        good = decoded.filter(key_ok)
        if self.cfg.transform is not None:
            good = self.cfg.transform(good)
        payload_cols = [c for c in self._image_columns if c not in self.cfg.keys]
        net = fold_net_changes(
            good,
            keys=self.cfg.keys,
            payload_cols=payload_cols,
            seq_col=self.cfg.seq_col,
            salt_chunks=salt,
            hot_keys=hot_keys if auto_salt else None,
        )
        t_merge = time.time()
        merge_metrics = self.table.merge(net, batch_id=batch_id, touched=touched)
        merge_metrics["hint_sec"] = round(t_merge - t_hint, 3)
        merge_metrics["merge_sec"] = round(time.time() - t_merge, 3)
        if obs is not None:
            try:
                observed = {k: int(v or 0) for k, v in obs.get.items()}
            except Exception:  # noqa: BLE001 — observation row absent (empty plan)
                observed = {}

        if self.checkpoint_dir and batch_id is not None:
            self.registry.save(self.checkpoint_dir, batch_id)

        return {
            "batch_id": batch_id,
            "dlq_rows": observed.get("dlq_rows", 0),
            "events": observed.get("events", 0),
            "op_hist": {
                "insert": observed.get("op_insert", 0),
                "update": observed.get("op_update", 0),
                "delete": observed.get("op_delete", 0),
            },
            **({"salt_chunks": salt} if salt else {}),
            **merge_metrics,
        }

    def _prescan(self, batch: DataFrame, auto_salt: bool):
        """The keys-only prescan's one-row aggregation over the raw batch.

        Returns events, DLQ rows, the op histogram and the touched buckets;
        with ``discover_columns`` also the image key names (``image_keys``);
        with auto-salt also the skew measurement (``max_key_events``,
        ``hot_keys``).
        """
        discover = self.cfg.discover_columns
        op = F.col("op")
        key_cols = {k: self._image_columns[k] for k in self.cfg.keys}
        kd = compile_direct_decoder(
            batch.select("op", "keys_json", *(["image"] if discover else [])),
            "keys_json",
            key_cols,
        )
        kd_ok = None
        for k in self.cfg.keys:
            cond = F.col(k).isNotNull()
            kd_ok = cond if kd_ok is None else (kd_ok & cond)
        bucket = self.table.bucket_of(*[F.col(k) for k in self.cfg.keys])
        if not auto_salt:
            return kd.agg(
                F.count(F.lit(1)).alias("events"),
                F.count(F.when(~kd_ok, F.lit(1))).alias("dlq_rows"),
                F.count(F.when(op == "insert", F.lit(1))).alias("op_insert"),
                F.count(F.when(op == "update", F.lit(1))).alias("op_update"),
                F.count(F.when(op == "delete", F.lit(1))).alias("op_delete"),
                F.collect_set(F.when(kd_ok, bucket)).alias("buckets"),
                *([_key_names(F.json_object_keys("image")).alias("image_keys")]
                  if discover else []),
            ).first()
        # two-level form of the same aggregation: the per-key stage
        # shuffles one narrow (keys, counts, names) row per distinct key
        # (map-side combined), and the global stage adds max(count) — the
        # skew measurement the auto decision needs.  kd_ok / bucket depend
        # only on key columns, so they evaluate on the per-key rows.
        per_key = kd.groupBy(*self.cfg.keys).agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(F.when(op == "insert", F.lit(1))).alias("__ins"),
            F.count(F.when(op == "update", F.lit(1))).alias("__upd"),
            F.count(F.when(op == "delete", F.lit(1))).alias("__del"),
            *([_key_names(F.json_object_keys("image")).alias("__names")]
              if discover else []),
        )
        hot_struct = F.when(
            kd_ok & (F.col("__n") > int(self.cfg.auto_salt_floor)),
            F.struct(
                F.col("__n").alias("n"),
                *[F.col(k) for k in self.cfg.keys],
            ),
        )
        return per_key.agg(
            F.sum("__n").alias("events"),
            F.sum(F.when(~kd_ok, F.col("__n"))).alias("dlq_rows"),
            F.sum("__ins").alias("op_insert"),
            F.sum("__upd").alias("op_update"),
            F.sum("__del").alias("op_delete"),
            F.collect_set(F.when(kd_ok, bucket)).alias("buckets"),
            F.max(F.when(kd_ok, F.col("__n"))).alias("max_key_events"),
            # the keys above the salting floor — hottest first, top
            # 64 (a batch with more hot keys than that is uniform
            # enough that AQE handles the rest)
            F.slice(
                F.sort_array(F.collect_list(hot_struct), asc=False),
                1, 64,
            ).alias("hot_keys"),
            *([_key_names(F.col("__names")).alias("image_keys")]
              if discover else []),
        ).first()

    def _resolve_auto_salt(self, events: int, max_key_events: int) -> int | None:
        """Engage the two-phase fold only under measured skew.

        The fold's window sorts each key's events in ONE task; the hottest
        key is the straggler bound.  Salt when it exceeds 4× an average
        partition's share (and an absolute floor below which one task
        handles it comfortably), with chunk count sized so each chunk
        carries roughly an average share — capped at 32 so phase 2's
        per-key composition stays trivial.
        """
        if events <= 0 or max_key_events <= 0:
            return None
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        avg_share = max(events // max(parts, 1), 1)
        if max_key_events <= max(4 * avg_share, self.cfg.auto_salt_floor):
            return None
        return min(32, max(2, max_key_events // avg_share))

    def _emit_metrics(self, m: dict) -> None:
        if self.checkpoint_dir:
            path = os.path.join(self.checkpoint_dir, "metrics.jsonl")
            with open(path, "a") as fh:
                fh.write(json.dumps(m) + "\n")

    # ------------------------------------------------------------ full load

    def full_load(
        self,
        batch: DataFrame,
        image_col: str = "image",
        seq: int = 0,
        decoder: Callable[[DataFrame], DataFrame] | None = None,
    ) -> dict:
        """Initial-snapshot ingest (S4/S5 — the reference's FullLoad
        translators, ``dynamodb.py:141-159`` / ``mongodb.py:253-269``).

        ``batch`` carries one record per row: a DynamoDB descriptor image in
        ``image_col`` by default, or whatever ``decoder`` understands — e.g.
        :func:`functions.mongodb.make_mongo_full_load_decoder` for a batch
        of Extended-JSON documents (the MongoDB full-load dialect).  Every
        record is applied as an insert at ``seq`` through the normal
        fold+merge, so re-running a full load is idempotent (ON CONFLICT DO
        NOTHING) and a subsequent CDC stream with higher seqs wins over the
        loaded rows.  The transform hook applies here exactly as it does to
        CDC batches (the reference's full-load Tikray path,
        ``mongodb.py:56-59``).
        """
        if decoder is not None:
            decoded = decoder(batch)
        else:
            decoded = compile_direct_decoder(batch, image_col, self._image_columns)
        column_types = self.registry.get(
            self.cfg.schema_name, self.cfg.table_name
        ).column_types
        if column_types:
            from commons_codec_spark.functions.dms import reparse_object_columns

            decoded = reparse_object_columns(
                decoded, column_types, self.cfg.json_schemas or {}
            )
        if self.cfg.transform is not None:
            decoded = self.cfg.transform(decoded)
        env = decoded.withColumn("op", F.lit("insert")).withColumn(
            self.cfg.seq_col, F.lit(seq).cast("long")
        )
        # poison records decode with NULL keys — drop them (DLQ analog)
        # instead of letting them merge under a null key
        for k in self.cfg.keys:
            env = env.filter(F.col(k).isNotNull())
        payload_cols = [c for c in self._image_columns if c not in self.cfg.keys]
        net = fold_net_changes(
            env, keys=self.cfg.keys, payload_cols=payload_cols,
            seq_col=self.cfg.seq_col,
        )
        # All-buckets touched hint: a full load touches (nearly) every
        # bucket by definition, so the exact touched set the unhinted merge
        # discovers costs a persist of the ENTIRE decoded batch plus a
        # distinct-collect job just to learn "all of them".  The superset
        # hint keeps ``net`` lazy — decode→fold→join→write runs as ONE job
        # — and at 100 TB avoids materializing a full-load-sized batch
        # outright (a full load is the largest batch a pipeline ever sees).
        # Extra hinted buckets are rewritten byte-identical (merge's
        # documented superset contract); a bucket with no rows at all
        # writes nothing and stays absent.  A sink without buckets
        # discovers what it touched.
        n_buckets = getattr(self.table, "n_buckets", None)
        touched = list(range(n_buckets)) if n_buckets else None
        m = self.table.merge(net, batch_id=None, touched=touched)
        self.metrics.append({"full_load": True, **m})
        return m

    # ------------------------------------------------------------ batch replay

    def run_replay(
        self,
        events: DataFrame,
        batch_col: str = "batch_id",
        stop_after_batches: int | None = None,
    ) -> list[dict]:
        """Replay an event log micro-batch by micro-batch (batch mode).

        Equivalent to the streaming path but driven by the ``batch_id``
        column; used for deterministic tests and the bench.  Honors the
        lake's applied-batch-id bookkeeping, so re-running after a kill
        resumes where it left off (idempotent).
        """
        batch_ids = sorted(
            r[0] for r in events.select(batch_col).distinct().collect()
        )
        done = 0
        out = []
        for bid in batch_ids:
            if stop_after_batches is not None and done >= stop_after_batches:
                break
            m = self.apply_batch(
                events.filter(F.col(batch_col) == bid).drop(batch_col), int(bid)
            )
            out.append(m)
            if not m.get("skipped"):
                done += 1
        return out

    # ------------------------------------------------------------ streaming

    def run_stream(
        self,
        source_dir: str | None,
        source_format: str = "parquet",
        schema: str | None = None,
        checkpoint_dir: str | None = None,
        max_files_per_trigger: int = 4,
        source_options: dict | None = None,
        available_now: bool = True,
        stream_transform: Callable[[DataFrame], DataFrame] | None = None,
    ):
        """Tail an envelope stream with Structured Streaming.

        Each micro-batch flows through :meth:`apply_batch` inside
        ``foreachBatch``; offsets live in the checkpoint, merge idempotence
        in the lake commit log — together: exactly-once.

        ``source_dir=None`` targets path-less sources (``format("kafka")``
        with ``source_options={"kafka.bootstrap.servers": ..., "subscribe":
        ...}``, or a registered Python data source such as
        :mod:`~..sources.kafka_shaped`); ``available_now=False`` runs a
        continuous trigger — pair it with ``query.processAllAvailable()``
        + ``stop()`` for deterministic drains of unbounded sources.

        ``stream_transform`` is a pure column transform applied to the
        STREAMING DataFrame before ``foreachBatch`` — e.g.
        :func:`~..sources.kafka_shaped.unwrap_wire_envelope` turns wire
        rows into envelope rows so the default decode path (discovery,
        prescan, auto-salt) serves the wire transport unchanged.
        """
        checkpoint = checkpoint_dir or self.checkpoint_dir
        if checkpoint is None:
            raise ValueError(
                "run_stream requires a checkpoint_dir (pass it here or on "
                "the pipeline) — streaming offsets have nowhere to live"
            )
        reader = self.spark.readStream.format(source_format)
        if source_dir is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        for k, v in (source_options or {}).items():
            reader = reader.option(k, v)
        if schema:
            reader = reader.schema(schema)
        stream = reader.load(source_dir) if source_dir is not None else reader.load()
        if stream_transform is not None:
            stream = stream_transform(stream)
        writer = stream.writeStream.foreachBatch(
            lambda df, bid: self.apply_batch(
                df.drop("batch_id") if "batch_id" in df.columns else df, bid
            )
        ).option("checkpointLocation", os.path.join(checkpoint, "offsets"))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
