"""The sink seam: what the CDC pipeline requires of a keyed table.

The engine's own :class:`~.table.KeyedLakeTable` is a faithful
table-format analog (bucketed parquet + versioned JSON commits + CDF),
but reference users deploy onto real catalogs — the reference's sink
boundary is a database client handed translated statements
(``/root/reference/examples/mongodb_cdc_cratedb.py:40-48``).  This
protocol captures the exact surface :class:`~..streaming.pipeline.
CDCPipeline` and :class:`~..streaming.fanout.MultiTablePipeline` consume,
so a Delta/Iceberg-backed implementation drops in without touching the
decode/fold/merge logic.

Mapping to real table formats (the project does not depend on the
Delta/Iceberg packages, so the mapping is documented here).  The fold's
compact net encoding (keys + aa/aseq/pa/pseq/row/prow_extra) is already
the ideal MERGE source: one row per key, both presence branches
precomputed, ordering guards as plain column predicates.

===================  =====================================================
Seam method          Delta / Iceberg equivalent
===================  =====================================================
``merge(net, ...)``  ``MERGE INTO t USING net ON <keys equal>`` with the
                     two-branch WHEN clauses: MATCHED + ``pa=SET`` AND
                     ``pseq > t._seq`` → UPDATE SET row; MATCHED +
                     ``pa=DELETE`` AND ``pseq > t._seq`` → DELETE; NOT
                     MATCHED + ``aa=SET`` → INSERT.  Idempotence: wrap in
                     ``IF NOT EXISTS (SELECT 1 FROM _applied WHERE
                     batch_id = ...)`` or use Delta's
                     ``txnAppId``/``txnVersion`` idempotent writes.
``read()``           ``spark.read.format("delta").load(path)`` /
                     ``spark.table(iceberg_name)``.
``read_changes``     Delta Change Data Feed (``readChangeFeed`` +
                     ``startingVersion``/``endingVersion``); Iceberg
                     ``changes`` metadata table / incremental scan.
``applied_batch_     Delta commit metadata (``DESCRIBE HISTORY`` custom
ids`` / ``version``  ``userMetadata``) or a tiny sidecar table.
``drop_data``        ``DELETE FROM t`` (new snapshot, history retained).
``vacuum``           ``VACUUM t`` / Iceberg ``expire_snapshots``.
schema evolution     ``spark.databricks.delta.schema.autoMerge`` /
                     Iceberg ``UpdateSchema`` — additive, like the lake.
===================  =====================================================

Per-method remarks for a Delta implementation (``delta.tables.DeltaTable``):

- ``merge``: join keys null-safe (``t.k <=> s.k``); the UPDATE sets each
  payload column to ``coalesce(s.prow_extra.c, s.row.c)`` and ``_seq`` to
  ``s.pseq``; the INSERT takes ``s.row.c`` and ``s.aseq``.  Idempotent
  writes use ``txnAppId`` = pipeline id and ``txnVersion`` = ``batch_id``,
  so a replayed micro-batch no-ops, and ``is_applied`` is one comparison
  against the stored ``txnVersion`` (streaming epoch ids are monotonic).
  ``touched`` is ignored: Delta prunes files from the MERGE condition's
  min/max stats.
- Tombstones: Delta MERGE keeps none, so a source that can reorder a
  delete past a later insert needs tombstone ROWS (a ``_deleted`` column
  filtered in ``read``) — the same semantics as the lake's.
- ``read_changes`` needs ``delta.enableChangeDataFeed=true`` on the table.
- ``vacuum`` keeps a time window (``VACUUM t RETAIN <hours>``), not a
  version count.

The pipeline also derives bucket hints via :meth:`bucket_of`; formats
with their own clustering (Delta OPTIMIZE ZORDER, Iceberg bucket
partition transforms) may implement it as that transform or return a
constant (the hint is a superset-safe optimization, not a correctness
requirement — ``merge`` may ignore ``touched``).
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import Column, DataFrame


@runtime_checkable
class LakeSink(Protocol):
    """Keyed, versioned, idempotently-mergeable table — the pipeline's
    entire sink surface."""

    #: ordered key column names
    keys: list[str]

    def merge(
        self, net: DataFrame, batch_id=None, touched: list[int] | None = None
    ) -> dict:
        """Apply per-key net changes (the fold's compact encoding);
        MUST be idempotent per ``batch_id`` and refuse re-application."""
        ...

    def read(self, **kwargs) -> DataFrame:
        """Current snapshot (tombstones excluded by default)."""
        ...

    def applied_batch_ids(self) -> set:
        """Batch ids already merged (exactly-once bookkeeping).

        Materializes the FULL set — diagnostics only; hot paths use
        :meth:`is_applied`."""
        ...

    def is_applied(self, batch_id) -> bool:
        """O(log n) exactly-once membership check (the per-micro-batch
        guard).  Delta/Iceberg analog: compare against the stored
        ``txnVersion`` watermark for this ``txnAppId``."""
        ...

    def version(self) -> int:
        """Current committed snapshot version."""
        ...

    def drop_data(self) -> None:
        """DROP TABLE analog: next snapshot empty, history retained."""
        ...

    def bucket_of(self, *key_cols: Column) -> Column:
        """Bucket id expression for key columns (for touched hints)."""
        ...

    def vacuum(self, keep_last: int = 2) -> None:
        """Reclaim snapshots unreferenced by the last N versions."""
        ...


__all__ = ["LakeSink"]
