"""Bucket-partitioned copy-on-write keyed table with an atomic commit log.

Layout::

    root/
      _meta.json                    # keys, key schema, n_buckets
      _commits/v000000000001.json   # snapshot: bucket -> data dir,
                                    # payload schema, applied batch ids
      data/v000000000001/__bucket=NN/part-*.parquet

Semantics (the Iceberg-MERGE analog, SURVEY.md §2.4 E1/E2/E5):

* ``merge(net_changes, batch_id)`` applies a per-key net-change DataFrame
  (output of :func:`operators.cdc_fold.fold_net_changes`): only buckets
  containing changed keys are rewritten; untouched buckets are carried
  forward by reference in the new snapshot.
* exactly-once: every commit records applied ``batch_id``s; re-applying an
  already-applied batch is a no-op.  With Structured Streaming's
  checkpointed offsets this makes kill-and-resume duplicate-free.
* ordering guard: an update/delete whose ``seq`` is older than the stored
  row's ``_seq`` is skipped — the
  ``whenMatchedUpdate(condition=s.seq >= t.seq)`` analog for cross-batch
  LWW.
* delete tombstones: deletes keep a ``__deleted`` row carrying the delete's
  seq (reads filter it out).  Under at-least-once delivery a re-delivered
  old insert of a since-deleted key is then rejected by the ordering guard
  instead of resurrecting the key — the reference gets this for free from
  the sink's current row; a snapshot merge has to remember.
* additive schema evolution: a batch carrying new payload columns widens
  the snapshot schema (types recorded in the commit); prior rows read as
  NULL (``mergeSchema`` analog; the north rule's ``lang`` case).

At 100 TB: choose the bucket count at creation (e.g. 4096) so each bucket
is a few tens of GB; a merge shuffles only the already-collapsed net-change
rows and scans only touched buckets.  On a real cluster this class is
replaced 1:1 by ``MERGE INTO`` on an Iceberg table bucketed by
``bucket(N, repo, path)`` — same physical shape, same guarantees.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from commons_codec_spark.operators.cdc_fold import DELETE, KEEP, SET
from commons_codec_spark.session import core_wave

SEQ_COL = "_seq"
BUCKET_COL = "__bucket"
DELETED_COL = "__deleted"


#: Memoized merge expressions: building the when-trees costs ~0.3 s of
#: serial driver Python per micro-batch; they depend only on schema shape,
#: so one instance serves every batch (Columns are immutable).
_MERGE_EXPR_CACHE: dict = {}


# --------------------------------------------------------------- batch ids
#
# `applied_batch_ids` is interval-compressed in the commit: streaming epoch
# ids are monotonic, so a year of micro-batches (10^6-10^7 commits) stays
# ONE `[lo, hi]` interval instead of an O(n) list rewritten into every
# commit (O(n^2) metadata I/O over the table's life — a real scale-killer
# in the metadata path, invisible at test scale).  Encoding:
# {"ranges": [[lo, hi], ...] sorted+disjoint, "other": [non-int ids]};
# commits written before the change carry a plain list and are normalized
# on read.  On Delta/Iceberg the analog is txnAppId/txnVersion watermarks.


def _bid_normalize(enc) -> dict:
    if isinstance(enc, dict):
        return enc
    out: dict = {"ranges": [], "other": []}
    for b in enc:
        if isinstance(b, int) and not isinstance(b, bool):
            out["ranges"] = _bid_range_add(out["ranges"], b)
        elif b not in out["other"]:
            out["other"].append(b)
    return out


def _bid_range_add(ranges: list, b: int) -> list:
    """Insert ``b`` into sorted disjoint ``[lo, hi]`` intervals (new list)."""
    import bisect

    i = bisect.bisect_right(ranges, b, key=lambda r: r[0]) - 1
    if i >= 0 and ranges[i][0] <= b <= ranges[i][1]:
        return ranges  # already present
    out = [list(r) for r in ranges]
    joins_left = i >= 0 and out[i][1] == b - 1
    joins_right = i + 1 < len(out) and out[i + 1][0] == b + 1
    if joins_left and joins_right:
        out[i][1] = out[i + 1][1]
        del out[i + 1]
    elif joins_left:
        out[i][1] = b
    elif joins_right:
        out[i + 1][0] = b
    else:
        out.insert(i + 1, [b, b])
    return out


def _bid_contains(enc, batch_id) -> bool:
    enc = _bid_normalize(enc)
    if isinstance(batch_id, int) and not isinstance(batch_id, bool):
        import bisect

        ranges = enc["ranges"]
        # bisect with key, not over a rebuilt key list: the rebuild would
        # make the membership step O(intervals) and quietly void the
        # O(log intervals) claim this encoding exists for
        i = bisect.bisect_right(ranges, batch_id, key=lambda r: r[0]) - 1
        return i >= 0 and ranges[i][0] <= batch_id <= ranges[i][1]
    return batch_id in enc["other"]


def _bid_add(enc, batch_id) -> dict:
    enc = _bid_normalize(enc)
    if isinstance(batch_id, int) and not isinstance(batch_id, bool):
        return {
            "ranges": _bid_range_add(enc["ranges"], batch_id),
            "other": enc["other"],
        }
    if batch_id in enc["other"]:
        return enc
    return {"ranges": enc["ranges"], "other": [*enc["other"], batch_id]}


def _bid_set(enc) -> set:
    enc = _bid_normalize(enc)
    out: set = set(enc["other"])
    for lo, hi in enc["ranges"]:
        out.update(range(lo, hi + 1))
    return out


def _merge_exprs(keys, payload_items, batch_fields, current_fields, n_buckets):
    """(filter_cond, select_cols) for the merge join output.

    All expressions reference the join's ``t``/``s`` aliases only.
    """
    cache_key = (keys, payload_items, batch_fields, current_fields, n_buckets)
    hit = _MERGE_EXPR_CACHE.get(cache_key)
    if hit is not None:
        return hit

    exists = F.col(f"t.{SEQ_COL}").isNotNull()
    # a tombstoned key is ABSENT for branch selection (inserts apply),
    # but its _seq still participates in the ordering guard, so an
    # out-of-order insert older than the delete cannot resurrect it
    live = exists & ~F.coalesce(F.col(f"t.{DELETED_COL}"), F.lit(False))
    matched = F.col("s.aa").isNotNull()
    action = (
        F.when(~matched, F.lit(KEEP))
        .when(live, F.col("s.pa"))
        .otherwise(F.col("s.aa"))
    )
    # compact net encoding (cdc_fold.fold_net_changes): one `row` serves
    # both branches; `prow_extra` carries the present branch's row only in
    # the rare divergent case (insert after update within one batch)
    row = F.when(live, F.coalesce(F.col("s.prow_extra"), F.col("s.row"))).otherwise(
        F.col("s.row")
    )
    seq = F.when(live, F.col("s.pseq")).otherwise(F.col("s.aseq"))
    # ordering guard: stale changes lose to the stored row (cross-batch LWW)
    guard = F.when(~exists, F.lit(True)).otherwise(
        F.coalesce(seq >= F.col(f"t.{SEQ_COL}"), F.lit(False))
    )
    change = (action != KEEP) & guard

    def out_col(c: str, t: str):
        new_val = row[c] if c in batch_fields else F.lit(None).cast(t)
        keep_val = (
            F.col(f"t.{c}") if c in current_fields else F.lit(None).cast(t)
        )
        return (
            F.when(change & (action == DELETE), F.lit(None).cast(t))
            .when(change, new_val)
            .otherwise(keep_val)
            .alias(c)
        )

    key_cols = [F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")) for k in keys]
    select_cols = [
        *[kc.alias(k) for kc, k in zip(key_cols, keys)],
        *[out_col(c, t) for c, t in payload_items],
        F.when(change, seq).otherwise(F.col(f"t.{SEQ_COL}")).alias(SEQ_COL),
        F.when(change, action == DELETE)
        .otherwise(F.coalesce(F.col(f"t.{DELETED_COL}"), F.lit(False)))
        .alias(DELETED_COL),
        # bucket is a pure function of the keys: recomputing it here (cheap
        # hash) lets the join run on the keys ALONE, which reuses the fold's
        # existing hash-partitioning — the net side enters the join with
        # ZERO additional shuffle
        F.pmod(F.xxhash64(*key_cols), n_buckets).alias(BUCKET_COL),
    ]
    out = (exists | change, select_cols)
    _MERGE_EXPR_CACHE[cache_key] = out
    return out


class KeyedLakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        with open(os.path.join(root, "_meta.json")) as fh:
            meta = json.load(fh)
        self.keys: list[str] = meta["keys"]
        self.key_schema: dict[str, str] = meta["key_schema"]
        # creation-time layout; the CURRENT layout is the head commit's
        # `n_buckets` (rebucket changes it) — `_current_commit` keeps the
        # instance in sync, so a crash between commit and meta rewrite
        # self-heals on the next commit read
        self._meta_n_buckets: int = meta["n_buckets"]
        self.n_buckets: int = meta["n_buckets"]
        self.changelog: bool = bool(meta.get("changelog", False))
        commits_dir = os.path.join(root, "_commits")
        if os.path.isdir(commits_dir) and any(
            f.endswith(".json") for f in os.listdir(commits_dir)
        ):
            self._current_commit()  # sync n_buckets with the head commit

    # ------------------------------------------------------------------ setup

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        key_schema: dict[str, str],
        payload_schema: dict[str, str] | None = None,
        n_buckets: int = 32,
        changelog: bool = False,
    ) -> "KeyedLakeTable":
        """Create an empty table.  Schemas are ``{column: spark_ddl_type}``.

        ``changelog``: persist each merge's net-change rows under
        ``changes/v{N}`` (Iceberg change-data-feed analog) — see
        :meth:`read_changes`.  Costs one materialization of the (compact)
        net per batch, the usual CDF write amplification.
        """
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        with open(os.path.join(root, "_meta.json"), "w") as fh:
            json.dump(
                {
                    "keys": list(key_schema),
                    "key_schema": key_schema,
                    "n_buckets": n_buckets,
                    "changelog": changelog,
                },
                fh,
            )
        table = cls(spark, root)
        table._write_commit(0, None, {}, [], payload_schema or {})
        return table

    # ------------------------------------------------------------------ commits

    def _commit_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    def _current_commit(self) -> dict:
        files = sorted(f for f in os.listdir(self._commit_dir()) if f.endswith(".json"))
        with open(os.path.join(self._commit_dir(), files[-1])) as fh:
            commit = json.load(fh)
        # the head commit is the authority on the bucket layout (rebucket);
        # commits written before the field existed fall back to creation meta
        self.n_buckets = int(commit.get("n_buckets", self._meta_n_buckets))
        return commit

    def _commit_at(self, version: int) -> dict:
        path = os.path.join(self._commit_dir(), f"v{version:012d}.json")
        if not os.path.exists(path):
            raise ValueError(f"no snapshot v{version} (vacuumed or never written)")
        with open(path) as fh:
            return json.load(fh)

    def _write_commit(self, version, batch_id, buckets, applied, payload_schema):
        payload = {
            "version": version,
            "batch_id": batch_id,
            "buckets": buckets,  # bucket id (str) -> data path
            # interval-compressed ({"ranges", "other"}); legacy lists from
            # pre-compression commits converge to the new encoding here
            "applied_batch_ids": _bid_normalize(applied),
            "payload_schema": payload_schema,  # col -> spark ddl type, ordered
            "n_buckets": self.n_buckets,  # layout under which `buckets` ids hash
        }
        path = os.path.join(self._commit_dir(), f"v{version:012d}.json")
        # per-writer tmp name: with a SHARED tmp, the two-writer race this
        # guard exists to catch could link the OTHER writer's (possibly
        # torn) payload under our version and report success
        tmp = f"{path}.{os.getpid()}-{id(self):x}.tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        # atomic create-if-absent (link fails on an existing target): two
        # writers racing the same next version must CONFLICT loudly, not
        # last-writer-win — the loser's merge would silently vanish from
        # history under a plain rename.  Delta/Iceberg analog: optimistic
        # concurrency on the transaction log entry.
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise RuntimeError(
                f"commit conflict: snapshot v{version} already exists — "
                "another writer committed concurrently; re-read the head "
                "and retry (this lake is single-writer per table)"
            ) from None
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass

    def applied_batch_ids(self) -> set:
        """Materialized set of every applied batch id (diagnostics/tests).

        O(total batches) — production callers on long-lived tables should
        use :meth:`is_applied` instead, which is O(log intervals)."""
        return _bid_set(self._current_commit()["applied_batch_ids"])

    def is_applied(self, batch_id) -> bool:
        """Exactly-once check without materializing the applied set."""
        return _bid_contains(
            self._current_commit()["applied_batch_ids"], batch_id
        )

    def version(self) -> int:
        return self._current_commit()["version"]

    # ------------------------------------------------------------------ read

    def _bucket_expr(self):
        return F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]), self.n_buckets)

    def bucket_of(self, *cols) -> "F.Column":
        """Bucket id for explicit key Columns (same hash as `_bucket_expr`)."""
        return F.pmod(F.xxhash64(*cols), self.n_buckets)

    def key_ddl(self) -> str:
        return ", ".join(f"`{k}` {t}" for k, t in self.key_schema.items())

    def _full_schema(self, payload_schema: dict[str, str]) -> str:
        cols = {
            **self.key_schema,
            **payload_schema,
            SEQ_COL: "long",
            DELETED_COL: "boolean",
        }
        return ", ".join(f"`{c}` {t}" for c, t in cols.items())

    def read(
        self,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read (optionally pruned to a bucket subset).

        ``version`` time-travels to an earlier snapshot (the Iceberg
        ``VERSION AS OF`` analog): commits are immutable, so any version
        whose data dirs ``vacuum`` hasn't reclaimed reads consistently.

        Deleted keys persist as tombstone rows (`__deleted`, payload NULL,
        `_seq` = delete position) so a late out-of-order insert with an
        older seq cannot resurrect them; reads exclude tombstones unless
        asked (the merge asks).
        """
        commit = (
            self._current_commit() if version is None else self._commit_at(version)
        )
        payload_schema = commit["payload_schema"]
        cols = self.keys + list(payload_schema) + [SEQ_COL, DELETED_COL]
        paths = [
            p
            for b, p in commit["buckets"].items()
            if buckets is None or int(b) in buckets
        ]
        if not paths:
            df = self.spark.createDataFrame(
                [], T._parse_datatype_string(self._full_schema(payload_schema))
            )
        else:
            # The commit IS the schema authority (evolution is additive-only
            # and types are pinned at first write), so read with the exact
            # schema instead of mergeSchema: no footer-merge planning job,
            # O(1) in file count where inference is O(files) — at 100 TB the
            # difference between a metadata op and a cluster job.  Buckets
            # written before an additive evolution simply null-fill the new
            # columns (by-name parquet resolution).
            df = self.spark.read.schema(
                T._parse_datatype_string(self._full_schema(payload_schema))
            ).parquet(*paths)
            df = df.select(*cols)
        if include_tombstones:
            return df
        return df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(
            DELETED_COL
        )

    # ------------------------------------------------------------------ merge

    def merge(self, net: DataFrame, batch_id=None, touched: list[int] | None = None) -> dict:
        """Apply per-key net changes; returns merge metrics.

        ``net`` columns: keys + aa/aseq/pa/pseq/row/prow_extra (see
        cdc_fold).  New payload columns inside ``row`` widen the table
        schema.

        ``touched``: bucket ids the batch may modify.  When the caller can
        compute it cheaply upstream (the pipeline derives it from a keys-only
        decode of the raw envelopes), ``net`` stays **lazy** and the whole
        decode→fold→join→write chain runs as one job — no materialization of
        the folded batch.  A superset is safe (extra buckets are rewritten
        byte-identical); when omitted, ``net`` is materialized here to avoid
        computing the fold twice.

        The write runs one core wave of tasks, not one task per touched
        bucket (:meth:`_write_buckets`); each bucket dir still gets exactly
        one file.
        """
        commit = self._current_commit()
        if batch_id is not None and _bid_contains(
            commit["applied_batch_ids"], batch_id
        ):
            return {"skipped": True, "batch_id": batch_id, "version": commit["version"]}

        # --- additive schema evolution (applied only if the batch actually
        # carries rows — see below; an empty merge must not bake its decode
        # schema into the commit, e.g. an empty pre-DDL segment whose column
        # types a create-table event is about to change)
        payload_schema = dict(commit["payload_schema"])
        batch_fields = {
            f.name: f.dataType.simpleString()
            for f in net.schema["row"].dataType.fields
        }

        # --- prune to touched buckets
        net = net.withColumn(BUCKET_COL, self._bucket_expr())
        materialized = False
        hinted = touched is not None and bool(touched)
        if not hinted:
            # persist + the touched-discovery collect doubles as the
            # materializing action: ONE job where checkpoint+distinct was two.
            # An EMPTY hint also lands here: trusting it would skip the write
            # job entirely and silently drop any net rows it was wrong about.
            net = net.persist()
            materialized = True
            touched = sorted(r[0] for r in net.select(BUCKET_COL).distinct().collect())
        else:
            touched = sorted(set(int(b) for b in touched))
            # The caller promised a superset.  Net rows are NOT filtered to
            # the hint: a violating row writes its (un-hinted) bucket dir,
            # which the post-write check below turns into an error BEFORE
            # the commit — a wrong hint must FAIL, never silently drop.
            # (A filter+Observation guard would be one pass, but
            # Observation.get deadlocks inside foreachBatch micro-batches;
            # the filesystem check is free and works everywhere.)
        if touched:
            for c, t in batch_fields.items():
                prior = payload_schema.setdefault(c, t)
                if prior != t:
                    # evolution is ADDITIVE-only (the north rule's `lang`
                    # case); a type change would otherwise surface as an
                    # obscure DATATYPE_MISMATCH deep in the merge projection
                    raise ValueError(
                        f"column {c!r} changed type {prior!r} -> {t!r}; the "
                        "lake supports additive evolution only — annotate "
                        "or cast the column consistently from the first "
                        "batch that writes it"
                    )
        # --- change-data-feed: persist this version's net rows (the
        # engine's own replayable merge input — a downstream replica
        # applying each version's changes via merge() converges to this
        # table's state).  STAGED before the commit (``.staged-v{N}`` —
        # invisible to read_changes/stream_changes, whose listings only
        # match ``v*``) and renamed into ``changes/v{N}`` only after the
        # commit lands: a streaming consumer can therefore never ingest a
        # version's rows before that version commits (a merge that fails
        # and retries would otherwise overwrite pre-commit files a
        # consumer already applied).  A crash in the instant between
        # commit and rename leaves a staged dir that the next merge heals
        # into place (``_heal_staged_changes``).
        staged_changes: str | None = None
        if self.changelog:
            self._heal_staged_changes()
        if self.changelog and touched:
            if not materialized:
                # the CDF write is a second consumer of `net`; persist so
                # the merge's data write reuses it instead of re-running
                # decode→fold (documented CDF cost: one materialization)
                net = net.persist()
                materialized = True
            staged_changes = self._staged_changes_dir(commit["version"] + 1)
            net.drop(BUCKET_COL).write.mode("overwrite").parquet(staged_changes)

        current = self.read(buckets=touched, include_tombstones=True)

        # --- merge join on the keys alone (bucket is derived from them, so
        # including it adds no selectivity but forces the net side to
        # re-shuffle; on keys only, Catalyst reuses the fold's window
        # partitioning and only the `current` scan exchanges).  AQE handles
        # skew split.
        joined = current.alias("t").join(
            net.drop(BUCKET_COL).alias("s"), on=self.keys, how="full_outer"
        )
        filter_cond, select_cols = _merge_exprs(
            tuple(self.keys),
            tuple(payload_schema.items()),
            frozenset(batch_fields),
            frozenset(commit["payload_schema"]),
            self.n_buckets,
        )
        # deletes become tombstone rows (payload NULL, _seq = delete seq)
        result = joined.filter(filter_cond).select(*select_cols)

        # --- copy-on-write: write only touched buckets
        version = commit["version"] + 1
        out_dir = os.path.join(self.root, "data", f"v{version:012d}")
        rows_written = None
        written: set[int] = set()
        if touched:
            from pyspark.sql import Observation

            # above the join, so it is delivered inside foreachBatch too
            obs = Observation(f"merge-v{version}")
            self._write_buckets(
                result.observe(obs, F.count(F.lit(1)).alias("rows_written")),
                len(touched),
                out_dir,
            )
            written = {
                int(d.split("=", 1)[1])
                for d in os.listdir(out_dir)
                if d.startswith(f"{BUCKET_COL}=")
            }
            # An empty result writes no bucket dir, and AQE drops the
            # Observation together with a plan it finds empty at run time
            # (no metrics row is ever delivered): the files are the count.
            # Rows written means the Observation ran; a missing row then
            # raises instead of reading as a lost metric.
            rows_written = int(obs.get["rows_written"]) if written else 0
        if hinted and touched:
            extra = written - set(touched)
            if extra:
                # raise BEFORE committing: the orphan data dir is vacuumed,
                # the snapshot never references the partial write.  These
                # buckets hold net rows the hint missed — their current rows
                # were never read, so committing would clobber them.
                raise ValueError(
                    f"merge(touched=...) hint missed buckets {sorted(extra)}: "
                    "the hint must be a superset of the batch's actual buckets"
                )
        buckets = dict(commit["buckets"])
        for b in touched:
            bpath = os.path.join(out_dir, f"{BUCKET_COL}={b}")
            if os.path.exists(bpath):
                buckets[str(b)] = bpath
            else:
                buckets.pop(str(b), None)  # bucket emptied by deletes
        applied = (
            _bid_add(commit["applied_batch_ids"], batch_id)
            if batch_id is not None
            else commit["applied_batch_ids"]
        )
        self._write_commit(version, batch_id, buckets, applied, payload_schema)
        if staged_changes is not None and os.path.isdir(staged_changes):
            # publish the CDF version only now that its commit exists.  A
            # concurrent reader's heal-on-read can win the rename between
            # our isdir check and the replace — that outcome IS the publish,
            # so losing the race is success, not an error.
            try:
                os.replace(staged_changes, self._changes_dir(version))
            except FileNotFoundError:
                pass
        if materialized:
            net.unpersist()
        return {
            "batch_id": batch_id,
            "version": version,
            "touched_buckets": len(touched),
            "rows_written": rows_written,
            "skipped": False,
        }

    def _write_buckets(self, df: DataFrame, n_buckets: int, out_dir: str) -> None:
        """Write ``df`` as one ``__bucket=NN`` dir per bucket under ``out_dir``.

        One core wave of tasks, at most one per bucket: hash partitioning on
        the bucket column sends each bucket to exactly one task, so each
        bucket dir holds exactly one parquet file however many buckets a
        task writes.  One task per bucket instead paid per-task launch and
        commit overhead dozens of times on a small micro-batch; a single
        task serialized the whole write.
        """
        (
            df.repartition(min(n_buckets, core_wave(self.spark)), F.col(BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(out_dir)
        )

    # ------------------------------------------------------------------ CDF

    def _changes_dir(self, version: int) -> str:
        return os.path.join(self.root, "changes", f"v{version:012d}")

    def _staged_changes_dir(self, version: int) -> str:
        """Pre-commit staging dir for a version's CDF files.  Starts with a
        dot so no feed listing (``v*`` globs, ``startswith("v")`` filters)
        can observe it before the commit publishes it via rename."""
        return os.path.join(self.root, "changes", f".staged-v{version:012d}")

    def _clear_staged_changes(self, version: int) -> None:
        """Discard a crashed, UNCOMMITTED merge's staged CDF dir at
        ``version``.  Every non-merge writer that claims a version number
        WITHOUT publishing changes (``rebucket``, ``drop_data``,
        ``compact_tombstones``) must call this before committing:
        otherwise the leftover ``.staged-v{version}`` would satisfy
        ``_heal_staged_changes``'s ``v <= head`` test once the claimed
        commit lands, and the feed would publish net rows the table never
        applied (a tailing replica then diverges permanently).  The
        crashed batch itself is safe to discard — exactly-once means its
        source re-delivers it, and the retry restages at a later version.
        """
        if self.changelog:
            shutil.rmtree(self._staged_changes_dir(version), ignore_errors=True)

    def _heal_staged_changes(self) -> None:
        """Complete a crashed publish: a staged CDF dir whose version is
        already committed but whose final dir is missing is renamed into
        place (the crash window is between ``_write_commit`` and the
        rename in :meth:`merge`).  Staged dirs at versions ABOVE the head
        belong to a failed (uncommitted) merge — left alone; a retry of
        that version overwrites them, and they are never visible to
        consumers."""
        changes_root = os.path.join(self.root, "changes")
        if not os.path.isdir(changes_root):
            return
        head = self._current_commit()["version"]
        for d in os.listdir(changes_root):
            if not d.startswith(".staged-v"):
                continue
            v = int(d.split("-v", 1)[1])
            final = self._changes_dir(v)
            if v <= head and not os.path.isdir(final):
                # heal now runs from READERS too (read_changes /
                # stream_changes), so several actors can race the same
                # rename; whoever loses finds the source gone — the dir is
                # published either way, so swallow the loss
                try:
                    os.replace(os.path.join(changes_root, d), final)
                except FileNotFoundError:
                    pass

    def read_changes(
        self, since_version: int = 1, to_version: int | None = None
    ) -> DataFrame:
        """Change-data-feed: net-change rows of versions in
        ``[since_version, to_version]``, each tagged ``_version``.

        Rows are in the fold's net encoding (keys + aa/aseq/pa/pseq/row/
        prow_extra) — exactly what :meth:`merge` consumes, so a downstream
        replica tails this feed with ``for v: replica.merge(changes_at(v))``
        and converges to this table's state (incl. deletes/tombstones and
        additive schema evolution; later versions' new ``row`` fields are
        merged across versions with allowMissingColumns).  Requires the
        table to have been created with ``changelog=True``.
        """
        if not self.changelog:
            raise ValueError(
                "table was not created with changelog=True — no change feed"
            )
        # Heal on read, not just on the next merge: after a crash between
        # _write_commit and the publish rename, a reader tailing
        # read_changes(last+1, head) before any further merge would
        # otherwise `continue` past the committed-but-unpublished version
        # and permanently miss its changes.  Cheap and idempotent.
        self._heal_staged_changes()
        to_version = (
            self._current_commit()["version"] if to_version is None else to_version
        )
        out = None
        for v in range(int(since_version), int(to_version) + 1):
            d = self._changes_dir(v)
            if not os.path.isdir(d):
                continue  # version without data changes (e.g. drop_data)
            df = self.spark.read.parquet(d).withColumn("_version", F.lit(v))
            out = (
                df
                if out is None
                else out.unionByName(df, allowMissingColumns=True)
            )
        if out is None:
            raise ValueError(
                f"no change versions in [{since_version}, {to_version}]"
            )
        return out

    def stream_changes(self) -> DataFrame:
        """Structured-Streaming form of the feed: ``readStream`` over
        ``changes/``, picking up each new version's files as its merge
        lands.  Schema is the newest version's (evolution is additive, so
        it is a superset; older files null-fill missing ``row`` fields).
        The version of a row is derivable from ``input_file_name()``;
        at-least-once per file, so downstream sinks should be idempotent
        on (keys, aseq/pseq) — e.g. another KeyedLakeTable.merge.
        """
        if not self.changelog:
            raise ValueError(
                "table was not created with changelog=True — no change feed"
            )
        self._heal_staged_changes()  # same crash window as read_changes
        changes_root = os.path.join(self.root, "changes")
        dirs = sorted(
            d for d in os.listdir(changes_root) if d.startswith("v")
        ) if os.path.isdir(changes_root) else []
        if not dirs:
            raise ValueError("change feed is empty — nothing to infer a schema from")
        schema = self.spark.read.parquet(
            os.path.join(changes_root, dirs[-1])
        ).schema
        return self.spark.readStream.schema(schema).parquet(
            os.path.join(changes_root, "v*")
        )

    # ------------------------------------------------------------------ misc

    def drop_data(self) -> None:
        """DROP TABLE analog (E7): next snapshot is empty; history retained."""
        commit = self._current_commit()
        self._clear_staged_changes(commit["version"] + 1)
        self._write_commit(
            commit["version"] + 1, None, {}, commit["applied_batch_ids"],
            commit["payload_schema"],
        )

    def rebucket(self, n_buckets: int) -> dict:
        """Change the table's bucket count — ONE full-table rewrite job.

        The 100-TB growth path: the bucket count is chosen at creation for
        the table's then-current size, and a table that grows 10× ends up
        with buckets too large for a single merge task (or, shrunk, too
        many tiny files).  Rebucketing rewrites every live row (tombstones
        included — the out-of-order ordering guard survives the move) under
        the new ``pmod(xxhash64(keys), n)`` layout as one new snapshot
        version: an embarrassingly parallel job with exactly one shuffle
        (the repartition to the new buckets), no fold, no join.  On Iceberg
        this maps 1:1 to rewriting with a new ``bucket(n, keys)`` partition
        transform.

        Everything else carries forward unchanged: ``applied_batch_ids``
        (idempotent replay still skips), payload schema, version history
        (time-travel reads of pre-rebucket versions list their own data
        dirs), and the change feed (a rebucket emits NO change version —
        the state is identical, and feed readers already skip gap
        versions).  Crash-safe: the new layout becomes visible only with
        the commit write; the head commit carries ``n_buckets``, so every
        reader/writer — including one constructed from stale ``_meta.json``
        — syncs to the committed layout on its next commit read.

        Single-writer, like ``merge``: do not rebucket concurrently with
        an active merge on another driver.
        """
        commit = self._current_commit()
        n_buckets = int(n_buckets)
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        if n_buckets == self.n_buckets:
            return {
                "version": commit["version"],
                "n_buckets": n_buckets,
                "skipped": True,
            }
        version = commit["version"] + 1
        self._clear_staged_changes(version)
        out_dir = os.path.join(self.root, "data", f"v{version:012d}")
        self._write_buckets(
            self.read(include_tombstones=True).withColumn(
                BUCKET_COL,
                F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]), n_buckets),
            ),
            n_buckets,
            out_dir,
        )
        buckets = {
            d.split("=", 1)[1]: os.path.join(out_dir, d)
            for d in os.listdir(out_dir)
            if d.startswith(f"{BUCKET_COL}=")
        }
        self.n_buckets = n_buckets
        self._write_commit(
            version, None, buckets, commit["applied_batch_ids"],
            commit["payload_schema"],
        )
        # refresh creation meta (best-effort: the commit is the authority;
        # a crash before this rewrite self-heals on the next commit read)
        meta_path = os.path.join(self.root, "_meta.json")
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta["n_buckets"] = n_buckets
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, meta_path)
        self._meta_n_buckets = n_buckets
        return {
            "version": version,
            "n_buckets": n_buckets,
            "buckets_written": len(buckets),
            "skipped": False,
        }

    def compact_tombstones(self, older_than_seq: int) -> dict:
        """Drop tombstones whose delete seq predates the out-of-order horizon.

        Deletes of never-stored keys still materialize tombstone rows (see
        ``operators.cdc_fold._step``) so a late out-of-order insert cannot
        resurrect them; without compaction a stream carrying deletes for
        unknown/foreign keys grows the table without bound.  Once the source
        can no longer deliver events with ``seq < older_than_seq`` (e.g. the
        CDC log's retention horizon), those tombstones' ordering guards can
        never fire again and they are safe to drop.  Rewrites only buckets
        that actually hold stale tombstones.
        """
        commit = self._current_commit()
        stale = F.col(DELETED_COL) & (F.col(SEQ_COL) < int(older_than_seq))
        full = self.read(include_tombstones=True).withColumn(
            BUCKET_COL, self._bucket_expr()
        )
        hit = sorted(
            r[0] for r in full.filter(stale).select(BUCKET_COL).distinct().collect()
        )
        if not hit:
            return {"compacted_buckets": 0, "version": commit["version"]}
        version = commit["version"] + 1
        self._clear_staged_changes(version)
        out_dir = os.path.join(self.root, "data", f"v{version:012d}")
        kept = (
            self.read(buckets=hit, include_tombstones=True)
            .withColumn(BUCKET_COL, self._bucket_expr())
            .filter(~stale)
        )
        self._write_buckets(kept, len(hit), out_dir)
        buckets = dict(commit["buckets"])
        for b in hit:
            bpath = os.path.join(out_dir, f"{BUCKET_COL}={b}")
            if os.path.exists(bpath):
                buckets[str(b)] = bpath
            else:
                buckets.pop(str(b), None)  # bucket held only stale tombstones
        self._write_commit(
            version, None, buckets, commit["applied_batch_ids"],
            commit["payload_schema"],
        )
        return {"compacted_buckets": len(hit), "version": version}

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop data version dirs AND commit files unreferenced by the
        last N snapshots.

        Commit retention is the metadata half of the story: without it
        ``_commits/`` grows one file per version forever, and the head
        lookup (``listdir`` per micro-batch) degrades linearly with stream
        lifetime.  Retiring old commit JSONs bounds both; the time-travel
        window becomes the last ``keep_last`` versions (reads of vacuumed
        versions already raise "no snapshot ... vacuumed").  The head
        commit carries everything cumulative (applied batch ids, schema,
        layout), so retiring history loses no bookkeeping.  Delta/Iceberg
        analog: log cleanup past ``delta.logRetentionDuration`` /
        ``expire_snapshots``.
        """
        commits = sorted(
            f for f in os.listdir(self._commit_dir()) if f.endswith(".json")
        )
        data_dir = os.path.join(self.root, "data")
        live: set[str] = set()
        for name in commits[-keep_last:]:
            with open(os.path.join(self._commit_dir(), name)) as fh:
                for p in json.load(fh)["buckets"].values():
                    # relative to the table's own data dir: the root path
                    # may itself contain a "data" component
                    live.add(os.path.relpath(p, data_dir).split(os.sep)[0])
        for version_dir in os.listdir(data_dir):
            if version_dir not in live:
                shutil.rmtree(os.path.join(data_dir, version_dir), ignore_errors=True)
        for name in commits[:-keep_last]:
            try:
                os.remove(os.path.join(self._commit_dir(), name))
            except FileNotFoundError:
                pass

    def vacuum_changes(self, keep_since_version: int) -> int:
        """CDF retention: drop change dirs of versions < keep_since_version.

        Vacuum never touches the feed (consumers may lag arbitrarily);
        retention is an explicit caller decision — expire versions every
        consumer has acknowledged.  Returns the number of dirs reclaimed.
        """
        changes_root = os.path.join(self.root, "changes")
        if not os.path.isdir(changes_root):
            return 0
        dropped = 0
        for d in os.listdir(changes_root):
            if d.startswith("v") and int(d[1:]) < int(keep_since_version):
                shutil.rmtree(os.path.join(changes_root, d), ignore_errors=True)
                dropped += 1
        return dropped
