"""The three workloads and the traced run's staged probe.

Each workload drives the engine only through its public API:
``sources.eventlog.generate_event_log``, ``streaming.pipeline.CDCPipeline``
with the default ``PipelineConfig`` (as ``scripts/run_replay_job.py``
builds it), ``lake.table.KeyedLakeTable`` and ``oracle``.  See README.md
for why each workload exists and which layer metric should move which
end-to-end metric.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
from dataclasses import dataclass

import pyspark.sql.functions as F

from commons_codec_spark.functions.dynamodb import compile_direct_decoder
from commons_codec_spark.lake.table import KeyedLakeTable
from commons_codec_spark.operators.cdc_fold import fold_net_changes
from commons_codec_spark.sources.eventlog import SOURCE_CODE_COLUMNS, generate_event_log
from commons_codec_spark.streaming.pipeline import CDCPipeline, PipelineConfig

from perfbench import checks
from perfbench.harness import dir_bytes, gc_seconds, median, uri_path

KEYS = checks.KEYS
#: Batch ids of set-up batches, far above any streaming epoch id.
SETUP_BID = 1_000_000_000
#: stream_upsert's load: a 50-event file every 0.2 s (250 events/s).
STREAM_FILE_EVENTS = 50
STREAM_INTERVAL_S = 0.2
#: Every stream batch takes all files waiting (the file source batches
#: itself); ``run_stream``'s default of 4 would cap batches below this rate.
STREAM_MAX_FILES_PER_TRIGGER = 1000
#: About this many events (all events of a key sample) go through the
#: sequential oracle for the correctness gate.
ORACLE_EVENTS = 8_000
DRAIN_TIMEOUT_S = 60.0


@dataclass(frozen=True)
class Sizes:
    bulk_events: int = 500_000
    bulk_batch: int = 250_000
    stream_preload: int = 20_000
    replica_batch: int = 10_000
    replica_warm_batches: int = 2
    replica_min_batches: int = 3
    lookups: int = 32


SCALES = {
    "full": Sizes(),
    # seconds-long runs for the benchmark's own tests
    "toy": Sizes(bulk_events=4_000, bulk_batch=2_000, stream_preload=2_000,
                 replica_batch=500, replica_warm_batches=1, replica_min_batches=2,
                 lookups=4),
}


def new_table(spark, root: str, changelog: bool = False) -> KeyedLakeTable:
    """A keyed table with the lake's default layout (bucket count)."""
    return KeyedLakeTable.create(
        spark, root, key_schema={k: "string" for k in KEYS}, changelog=changelog,
    )


def new_pipeline(spark, table, checkpoint: str) -> CDCPipeline:
    """The program's default pipeline config, as run_replay_job.py builds it."""
    return CDCPipeline(
        spark, table,
        PipelineConfig(keys=KEYS, image_columns=dict(SOURCE_CODE_COLUMNS)),
        checkpoint_dir=checkpoint,
    )


class Workload:
    """One run of one workload.  ``run`` is the harness context
    (spark, tracer, job groups, sample and metric sinks)."""

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.sz: Sizes = run.sizes
        self.seed = run.seed
        self.work = run.work
        self.batch_info: list[dict] = []  # program metrics of timed batches
        self.lookup_keys: list[tuple] = []
        self.lookup_buckets: list[int] = []

    def close(self) -> None:
        """Stop anything the workload left running."""

    # ---------------------------------------------------------- shared steps

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def apply(self, apply_batch, batch_df, bid, n_events: int, instrument: bool):
        """One ``CDCPipeline.apply_batch`` call, timed, counted and checked
        (events applied must equal events given)."""
        t0 = time.perf_counter()
        m, sp = self.run.op(
            "pipeline.apply_batch", lambda: apply_batch(batch_df, bid),
            instrument=instrument, bid=bid,
        )
        t1 = time.perf_counter()
        if m.get("skipped") or m.get("events") != n_events:
            self.run.fail(f"batch {bid}: applied {m.get('events')} events, "
                          f"given {n_events} (skipped={m.get('skipped')})")
        return m, sp, t0, t1

    @property
    def batch_walls(self) -> list[float]:
        return [b["wall"] for b in self.batch_info]

    def record_batch(self, m: dict, sp: dict, t0: float, t1: float,
                     n_files: int, slot=None) -> None:
        """One timed batch.  ``slot`` names batches that do the same work
        (a replay's n-th batch), so instrumented and plain ones pair up."""
        self.batch_info.append({
            "wall": t1 - t0, "traced": "jobs" in sp, "files": n_files, "slot": slot,
            "jobs": sp.get("jobs"), "stages": sp.get("stages"),
            "tasks": sp.get("tasks"),
            "prescan_s": m.get("hint_sec"), "merge_job_s": m.get("merge_sec"),
        })

    def oracle_sample(self, events_df, n_events: int) -> dict:
        """Oracle state of a key sample holding ~``oracle_events`` events."""
        return checks.oracle_state(events_df, self.seed,
                                   max(1, n_events // ORACLE_EVENTS))

    def choose_lookups(self, table, expected: dict) -> None:
        """A fixed set of keys from the oracle sample, with their buckets."""
        keys = expected["keys"][: self.sz.lookups]
        if len(keys) < self.sz.lookups:
            raise ValueError(f"oracle sample has {len(keys)} keys, "
                             f"{self.sz.lookups} lookups need as many")
        kdf = self.spark.createDataFrame([list(k) for k in keys], "repo string, path string")
        rows = kdf.select("repo", "path", table.bucket_of(F.col("repo"), F.col("path")).alias("b")).collect()
        self.lookup_keys = [(r.repo, r.path) for r in rows]
        self.lookup_buckets = [int(r.b) for r in rows]

    def lookups(self, table, expected_rows: dict | None, n: int | None = None) -> None:
        """Key lookups through ``KeyedLakeTable.read`` (bucket-pruned, as a
        user reading one key would), timed one by one."""
        keys = list(zip(self.lookup_keys, self.lookup_buckets))[:n]
        for (repo, path), b in keys:
            df = table.read(buckets=[b]).filter(
                (F.col("repo") == repo) & (F.col("path") == path)
            )
            t0 = time.perf_counter()
            rows, _ = self.run.op("lake.read", df.collect)
            self.run.sample("read_s", time.perf_counter() - t0)
            if self.run.trace:
                self.run.sample("files_per_lookup", len(df.inputFiles()))
            if expected_rows is not None and not checks.lookup_matches(
                rows, expected_rows.get((repo, path))
            ):
                self.run.fail(f"lookup {repo}/{path} disagrees with the oracle")

    def warm_lookups(self, table, n: int = 8) -> None:
        """An untimed pass over a few lookups, so the timed ones run warm."""
        self.lookups(table, None, n)
        self.run.samples["read_s"].clear()
        self.run.samples["files_per_lookup"].clear()

    def final_lookups(self, table) -> None:
        """The lookups after the write phase, checked against the oracle.
        They start from a collected heap, so garbage the writes left is not
        charged to the reads, and after an untimed pass over the same keys:
        the first pass after the writes runs slower by a varying amount
        (p50 up to 1.6x the next pass's), which made read_p50_s spread
        across runs."""
        self.spark.sparkContext._jvm.java.lang.System.gc()
        self.warm_lookups(table, len(self.lookup_keys))
        self.lookups(table, self.expected["rows"])

    def finish_metrics(self, events_per_s: float, freshness: list[float],
                       queue_wait: list[float], lag_end: float,
                       gap_max: float) -> None:
        run = self.run
        run.e2e("events_per_s", events_per_s, "1/s")
        run.e2e_tail("freshness", freshness, "s")
        run.e2e_tail("read", run.samples["read_s"], "s")
        run.layer("sources.queue_wait_p50_s", median(queue_wait), "s")
        run.layer("sources.lag_end_s", lag_end, "s")
        run.layer("harness.generator_late_max_s", gap_max, "s")
        run.layer("pipeline.batch_p50_s", median(self.batch_walls), "s")
        files = [b["files"] for b in self.batch_info]
        run.layer("sources.files_per_batch", median(files), "count")
        for key, name in (("prescan_s", "pipeline.prescan_s"),
                          ("merge_job_s", "pipeline.merge_job_s")):
            vals = [b[key] for b in self.batch_info if b[key] is not None]
            run.layer(name, median(vals) if vals else 0.0, "s")
        if run.trace:
            traced = [b for b in self.batch_info if b["traced"]]
            plain = [b for b in self.batch_info if not b["traced"]]
            for key, name in (("jobs", "pipeline.jobs_per_batch"),
                              ("stages", "pipeline.stages_per_batch"),
                              ("tasks", "pipeline.tasks_per_batch")):
                run.layer(name, median([b[key] for b in traced]), "count")
            # instrumented minus plain batch wall, slot by slot when the
            # batches differ by slot (bulk), else over all batches (stream)
            diffs = []
            for slot in {b["slot"] for b in self.batch_info}:
                on = [b["wall"] for b in traced if b["slot"] == slot]
                off = [b["wall"] for b in plain if b["slot"] == slot]
                if on and off:
                    diffs.append(median(on) - median(off))
            run.layer("trace.overhead_batch_s",
                      median(diffs) if diffs else float("nan"), "s")

    # ---------------------------------------------------------- staged probe

    def staged_probe(self, batch_df, n_events: int, base_root: str | None,
                     feed: bool) -> None:
        """Time decode, fold and merge in stages on one batch, beside the
        fused ``apply_batch`` of the same batch into the same base state.

        * decode: ``compile_direct_decoder`` into a ``noop`` sink;
        * fold: decode plus ``fold_net_changes``, minus decode;
        * merge: ``merge`` fed the persisted net with the touched hint;
        * feed (``feed=True``): the same net through a change-feed table,
          ``read_changes`` and a replica ``merge``.
        """
        run, spark = self.run, self.spark

        def base(name: str, changelog: bool = False):
            root = self.path("probe", name)
            if base_root is None or changelog:
                return new_table(spark, root, changelog=changelog)
            shutil.copytree(base_root, root)
            return KeyedLakeTable(spark, root)

        fused_table = base("fused")
        pipe = new_pipeline(spark, fused_table, self.path("probe", "fused-ckpt"))
        t0 = time.perf_counter()
        m, _ = run.op("probe.fused_apply_batch",
                      lambda: pipe.apply_batch(batch_df, SETUP_BID + 99))
        fused = time.perf_counter() - t0

        src = batch_df.withColumn("image", F.coalesce(F.col("image"), F.col("keys_json")))
        decoded = compile_direct_decoder(src, "image", dict(SOURCE_CODE_COLUMNS))
        key_ok = F.col("repo").isNotNull() & F.col("path").isNotNull()
        payload = [c for c in SOURCE_CODE_COLUMNS if c not in KEYS]

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        t0 = time.perf_counter()
        run.op("probe.decode", lambda: noop(decoded), instrument=True)
        decode_s = time.perf_counter() - t0
        net_df = fold_net_changes(decoded.filter(key_ok), keys=KEYS, payload_cols=payload)
        t0 = time.perf_counter()
        _, fold_sp = run.op("probe.fold", lambda: noop(net_df), instrument=True)
        fold_s = time.perf_counter() - t0 - decode_s

        net = net_df.persist()
        net_rows = net.count()
        table = base("staged")
        touched = sorted(r[0] for r in net.select(
            table.bucket_of(F.col("repo"), F.col("path"))).distinct().collect())
        t0 = time.perf_counter()
        mm, _ = run.op("probe.merge", lambda: table.merge(net, touched=touched),
                       instrument=True)
        merge_s = time.perf_counter() - t0
        written = dir_bytes(os.path.join(table.root, "data", f"v{mm['version']:012d}"))

        run.layer("decode.s", decode_s, "s")
        run.layer("decode.rows", float(n_events), "rows")
        run.layer("fold.s", fold_s, "s")
        run.layer("fold.net_rows_per_event", net_rows / n_events, "rows/event")
        run.pending_shuffle["fold.shuffle_bytes_per_event"] = (fold_sp["group"], n_events)
        run.layer("merge.s", merge_s, "s")
        run.layer("merge.rows_written_per_event",
                  (mm.get("rows_written") or 0) / n_events, "rows/event")
        run.layer("merge.bytes_written_per_event", written / n_events, "bytes/event")
        run.layer("merge.touched_buckets", float(mm["touched_buckets"]), "count")
        staged = decode_s + fold_s + merge_s
        prescan = m.get("hint_sec") or 0.0
        run.layer("pipeline.fused_s", fused, "s")
        run.layer("pipeline.staged_sum_s", staged, "s")
        run.layer("pipeline.unattributed_s", fused - prescan - staged, "s")

        if feed:
            src_t = base("feed-src", changelog=True)
            rep_t = base("feed-rep")
            src_t.merge(net, touched=touched)
            # as in changelog_replica: the feed read is lazy, the replica
            # merge reads the feed's files
            t0 = time.perf_counter()
            ch, _ = run.op("probe.read_changes",
                           lambda: src_t.read_changes(1, 1).drop("_version"))
            read_changes_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            run.op("probe.replica_merge", lambda: rep_t.merge(ch))
            run.layer("lake.read_changes_s", read_changes_s, "s")
            run.layer("lake.replica_merge_s", time.perf_counter() - t0, "s")
            run.layer("lake.cdf_bytes_per_event",
                      dir_bytes(os.path.join(src_t.root, "changes")) / n_events,
                      "bytes/event")
        net.unpersist()

    def live_bytes_per_row(self, table) -> None:
        df = table.read()
        files = [uri_path(u) for u in df.inputFiles()]
        rows = df.count()
        size = sum(os.path.getsize(f) for f in files)
        self.run.layer("lake.live_bytes_per_row", size / max(rows, 1), "bytes/row")
        self.run.layer("lake.files_per_lookup",
                       median(self.run.samples.get("files_per_lookup") or [0]), "count")

    def write_log(self, df, root: str) -> dict[int, int]:
        """Write an envelope log partitioned by ``batch_id``; rows per batch."""
        df.write.partitionBy("batch_id").parquet(root)
        counts = (self.spark.read.parquet(root).groupBy("batch_id").count().collect())
        return {int(r[0]): int(r[1]) for r in counts}


def batch_of(events, bid: int):
    return events.filter(F.col("batch_id") == bid).drop("batch_id")


def files_in_batch_dir(root: str, bid: int) -> int:
    d = os.path.join(root, f"batch_id={bid}")
    return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))


# ====================================================================== bulk


class BulkReplay(Workload):
    """Closed-loop catch-up: a few large batches replay into a fresh table,
    again and again for the run's seconds; each replay is one sample."""

    def setup(self):
        sz, spark, run = self.sz, self.spark, self.run
        with run.tracer.span("sources.generate") as sp:
            log = generate_event_log(spark, n_events=sz.bulk_events, seed=self.seed,
                                     batch_size=sz.bulk_batch)
            self.counts = self.write_log(log, self.path("events"))
        run.layer("sources.generate_s", sp["end"] - sp["start"], "s")
        self.events = spark.read.parquet(self.path("events"))
        self.bids = sorted(self.counts)
        with run.tracer.span("check.oracle_state"):
            self.expected = self.oracle_sample(self.events, sz.bulk_events)
        with run.tracer.span("sources.warmup") as sp:
            # the first replay in a fresh JVM runs partly cold (class
            # loading, code generation, JIT): replay a quarter of every
            # batch (same keys, same plans) once, untimed
            part = self.events.filter(F.pmod(F.col("commit_seq"), 4) == 0)
            part_counts = {int(r[0]): int(r[1])
                           for r in part.groupBy("batch_id").count().collect()}
            table, *_ = self.replay("warmup", 0, part, part_counts)
            self.choose_lookups(table, self.expected)
            self.warm_lookups(table)
            shutil.rmtree(self.path("warmup"), ignore_errors=True)
        run.layer("sources.warmup_s", sp["end"] - sp["start"], "s")

    def replay(self, name: str, instrument_from: int, events=None, counts=None):
        events = self.events if events is None else events
        counts = self.counts if counts is None else counts
        root = self.path(name)
        table = new_table(self.spark, os.path.join(root, "table"))
        pipe = new_pipeline(self.spark, table, os.path.join(root, "ckpt"))
        start = time.perf_counter()
        out = []
        for i, bid in enumerate(self.bids):
            traced = self.run.trace and (instrument_from + i) % 2 == 1
            m, sp, t0, t1 = self.apply(pipe.apply_batch, batch_of(events, bid), bid,
                                       counts[bid], instrument=traced)
            out.append((m, sp, t0, t1))
        return table, start, time.perf_counter(), out

    def timed(self):
        run = self.run
        total = sum(self.counts.values())
        rates, fresh, wait, gaps = [], [], [], []
        gc0 = gc_seconds(self.spark)
        t_start = time.perf_counter()
        prev_end, n, table = None, 0, None
        while True:
            if table is not None:
                shutil.rmtree(self.path(f"replay{n - 1}"), ignore_errors=True)
            table, start, end, out = self.replay(f"replay{n}", instrument_from=n)
            if prev_end is not None:
                gaps.append(start - prev_end)
            prev_end = end
            for bid, (m, sp, t0, t1) in zip(self.bids, out):
                self.record_batch(m, sp, t0, t1,
                                  files_in_batch_dir(self.path("events"), bid), slot=bid)
                fresh.append(t1 - start)
                wait.append(t0 - start)
            gaps.extend(b[2] - a[3] for a, b in zip(out, out[1:]))
            rates.append(total / (end - start))
            n += 1
            # traced, every batch of the replay needs an instrumented and a
            # plain run (the pairing alternates by replay)
            if time.perf_counter() - t_start >= run.seconds and n >= 1 + run.trace:
                break
        run.layer("jvm.gc_s", gc_seconds(self.spark) - gc0, "s")
        self.table = table
        self.final_lookups(table)
        self.finish_metrics(median(rates), fresh, wait, fresh[-1], max(gaps))
        run.note(f"bulk_replay: {n} replays of {total} events "
                 f"({len(self.bids)} batches), events_per_s samples "
                 + ", ".join(f"{r:.0f}" for r in rates)
                 + "; batch walls " + ", ".join(f"{w:.2f}" for w in self.batch_walls))

    def check(self):
        ok, detail = checks.oracle_gate(self.spark, self.table, self.expected)
        self.run.gate(ok, detail)

    def probe(self):
        bid = self.bids[0]
        self.staged_probe(batch_of(self.events, bid), self.counts[bid], None, feed=True)
        self.live_bytes_per_row(self.table)


# ==================================================================== stream


class StreamUpsert(Workload):
    """Open loop: a generator thread publishes pre-written parquet files
    into the watched dir at a fixed rate, by rename, and never slows when
    the engine does; ``CDCPipeline.run_stream`` (continuous trigger)
    applies them to a table preloaded in set-up from the same log."""

    def setup(self):
        sz, spark, run = self.sz, self.spark, self.run
        self.n_files = max(2, math.ceil(run.seconds / STREAM_INTERVAL_S))
        n_stream = self.n_files * STREAM_FILE_EVENTS
        with run.tracer.span("sources.generate") as sp:
            total = sz.stream_preload + n_stream
            log = generate_event_log(spark, n_events=total, seed=self.seed,
                                     batch_size=total).drop("batch_id")
            seq, split, per_file = F.col("commit_seq"), sz.stream_preload, STREAM_FILE_EVENTS
            # one parquet file per publication: 0 = the preload, 1 = a
            # warm-up file of verbatim re-deliveries of the preload's tail
            # (at-least-once duplicates; they change no state), then the
            # stream files in commit_seq order
            files = log.withColumn("file_no", F.when(seq < split, F.lit(0)).otherwise(
                F.floor((seq - split) / per_file) + 2))
            warm = log.filter((seq >= split - per_file) & (seq < split)).withColumn(
                "file_no", F.lit(1))
            staging = self.path("staging")
            (files.unionByName(warm).repartition("file_no").write
             .partitionBy("file_no").parquet(staging))
            counts = {int(r[0]): int(r[1]) for r in spark.read.parquet(staging)
                      .groupBy("file_no").count().collect()}
            for d in ("pending", "watch", "preload"):
                os.makedirs(self.path(d))
            self.file_rows: dict[str, int] = {}
            names: list[str] = []
            for k in sorted(counts):
                d = os.path.join(staging, f"file_no={k}")
                (part,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
                name = f"f{k:06d}.parquet"
                dest = self.path("preload" if k == 0 else "pending", name)
                os.rename(os.path.join(d, part), dest)
                self.file_rows[name] = counts[k]
                names.append(name)
            shutil.rmtree(staging)
        run.layer("sources.generate_s", sp["end"] - sp["start"], "s")
        preload_name, self.warm_files, self.files = names[0], names[1:2], names[2:]
        preload = spark.read.parquet(self.path("preload", preload_name))
        self.schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in preload.schema)

        with run.tracer.span("sources.warmup") as sp:
            self.table = new_table(spark, self.path("table"))
            self.pipe = new_pipeline(spark, self.table, self.path("ckpt"))
            self.apply(self.pipe.apply_batch, preload, SETUP_BID, self.file_rows[preload_name],
                       instrument=False)
            self.batches: list[dict] = []
            self._lock = threading.Lock()
            self.start_stream()
            for name in self.warm_files:
                self.publish(name)
                if not self.wait_applied({name}, DRAIN_TIMEOUT_S):
                    raise RuntimeError(f"warm-up file {name} was not applied")
        run.layer("sources.warmup_s", sp["end"] - sp["start"], "s")
        with run.tracer.span("check.oracle_state"):
            full = spark.read.schema(preload.schema).parquet(
                self.path("preload", preload_name),
                *[self.path("pending", f) for f in self.files])
            self.expected = self.oracle_sample(full, sz.stream_preload + n_stream)
        self.choose_lookups(self.table, self.expected)
        self.warm_lookups(self.table)

    def start_stream(self):
        orig = self.pipe.apply_batch
        run = self.run

        def traced_apply(df, bid):
            names = self.batch_files(bid)
            n_events = sum(self.file_rows[n] for n in names)
            timed = self.timed_phase
            instrument = run.trace and timed and len(self.batches) % 2 == 1
            m, sp, t0, t1 = self.apply(orig, df, bid, n_events, instrument)
            with self._lock:
                self.batches.append({"files": names, "t0": t0, "t1": t1, "m": m,
                                     "sp": sp, "timed": timed})
            return m

        self.timed_phase = False
        self.pipe.apply_batch = traced_apply
        self.query = self.pipe.run_stream(
            self.path("watch"), schema=self.schema, available_now=False,
            max_files_per_trigger=STREAM_MAX_FILES_PER_TRIGGER)

    def batch_files(self, bid: int) -> list[str]:
        """The files of streaming batch ``bid``, from the file source's log
        in the checkpoint (one JSON line per file, compacted every few
        batches into ``<bid>.compact``)."""
        d = self.path("ckpt", "offsets", "sources", "0")
        for name in (str(bid), f"{bid}.compact"):
            p = os.path.join(d, name)
            if os.path.exists(p):
                with open(p) as fh:
                    entries = [json.loads(line) for line in fh.read().splitlines()[1:]]
                return sorted(os.path.basename(uri_path(e["path"]))
                              for e in entries if e["batchId"] == bid)
        raise FileNotFoundError(f"no file-source log entry for batch {bid} in {d}")

    def publish(self, name: str) -> float:
        os.rename(self.path("pending", name), self.path("watch", name))
        return time.perf_counter()

    def applied_files(self) -> set:
        with self._lock:
            return {f for b in self.batches for f in b["files"]}

    def wait_applied(self, names: set, timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if names <= self.applied_files():
                return True
            if self.query.exception() is not None or not self.query.isActive:
                break
            time.sleep(0.02)
        return False

    def timed(self):
        run = self.run
        n_warm = len(self.batches)
        self.timed_phase = True
        gc0 = gc_seconds(self.spark)
        t0 = time.perf_counter() + 0.2
        due = {name: t0 + i * STREAM_INTERVAL_S for i, name in enumerate(self.files)}
        published: dict[str, float] = {}

        def generator():
            for name in self.files:
                delay = due[name] - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                published[name] = self.publish(name)

        gen = threading.Thread(target=generator, name="perfbench-generator", daemon=True)
        gen.start()
        gen.join(timeout=len(self.files) * STREAM_INTERVAL_S + DRAIN_TIMEOUT_S)
        drained = self.wait_applied(set(self.files), DRAIN_TIMEOUT_S)
        self.query.stop()
        err = self.query.exception()
        run.layer("jvm.gc_s", gc_seconds(self.spark) - gc0, "s")
        if gen.is_alive() or not drained or err is not None:
            run.fail(f"stream did not drain: published {len(published)}/"
                     f"{len(self.files)} files, error={err}")
            return
        timed_batches = self.batches[n_warm:]
        commit, start = {}, {}
        seen: list[str] = []
        for b in timed_batches:
            self.record_batch(b["m"], b["sp"], b["t0"], b["t1"], len(b["files"]))
            for f in b["files"]:
                commit[f], start[f] = b["t1"], b["t0"]
                seen.append(f)
        if sorted(seen) != sorted(self.files):
            run.fail(f"stream applied {len(seen)} file deliveries for "
                     f"{len(self.files)} files (lost or duplicated)")
            return
        fresh = [commit[f] - due[f] for f in self.files]
        wait = [start[f] - due[f] for f in self.files]
        late = [published[f] - due[f] for f in self.files]
        events = sum(self.file_rows[f] for f in self.files)
        last = self.files[-1]
        rate = events / (max(commit.values()) - t0)
        self.final_lookups(self.table)
        self.finish_metrics(rate, fresh, wait, fresh[-1], max(late))
        run.note(f"stream_upsert: {len(self.files)} files x {STREAM_FILE_EVENTS} "
                 f"events every {STREAM_INTERVAL_S} s "
                 f"(offered {STREAM_FILE_EVENTS / STREAM_INTERVAL_S:.0f} events/s) "
                 f"in {len(timed_batches)} batches (walls "
                 + ", ".join(f"{w:.2f}" for w in self.batch_walls)
                 + f"); last file {last} committed {fresh[-1]:.3f} s after due")

    def check(self):
        ok, detail = checks.oracle_gate(self.spark, self.table, self.expected)
        self.run.gate(ok, detail)

    def probe(self):
        sizes = sorted(len(b["files"]) for b in self.batches if b["timed"]) or [1]
        k = sizes[len(sizes) // 2]
        names = self.files[:k]
        df = self.spark.read.schema(self.schema).parquet(
            *[self.path("watch", n) for n in names])
        self.staged_probe(df, sum(self.file_rows[n] for n in names),
                          self.table.root, feed=True)
        self.live_bytes_per_row(self.table)

    def close(self):
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()


# =================================================================== replica


class ChangelogReplica(Workload):
    """Closed loop of writes beside reads: each micro-batch goes into a
    ``changelog=True`` source; a replica applies that version's feed
    (``read_changes(v, v)`` into ``merge``); then a fixed set of key
    lookups reads the replica."""

    def setup(self):
        sz, spark, run = self.sz, self.spark, self.run
        n_batches = sz.replica_warm_batches + max(sz.replica_min_batches, run.seconds)
        with run.tracer.span("sources.generate") as sp:
            log = generate_event_log(spark, n_events=n_batches * sz.replica_batch,
                                     seed=self.seed, batch_size=sz.replica_batch)
            self.counts = self.write_log(log, self.path("events"))
        run.layer("sources.generate_s", sp["end"] - sp["start"], "s")
        self.events = spark.read.parquet(self.path("events"))
        self.bids = sorted(self.counts)
        self.source = new_table(spark, self.path("source"), changelog=True)
        self.replica = new_table(spark, self.path("replica"))
        self.pipe = new_pipeline(spark, self.source, self.path("ckpt"))
        with run.tracer.span("sources.warmup") as sp:
            expected = self.oracle_sample(self.events, n_batches * sz.replica_batch)
            self.choose_lookups(self.replica, expected)
            for bid in self.bids[: sz.replica_warm_batches]:
                self.step(bid, instrument=False)
        run.layer("sources.warmup_s", sp["end"] - sp["start"], "s")

    def step(self, bid: int, instrument: bool):
        run = self.run
        m, sp, t0, t1 = self.apply(self.pipe.apply_batch, batch_of(self.events, bid), bid,
                                   self.counts[bid], instrument)
        v = self.source.version()
        tc = time.perf_counter()
        changes, _ = run.op("lake.read_changes",
                            lambda: self.source.read_changes(v, v).drop("_version"))
        tm = time.perf_counter()
        run.op("lake.merge", lambda: self.replica.merge(changes))
        t_rep = time.perf_counter()
        self.lookups(self.replica, None)
        return m, sp, t0, t1, t_rep, tm - tc, t_rep - tm

    def timed(self):
        run, sz = self.run, self.sz
        run.samples["read_s"].clear()
        run.samples["files_per_lookup"].clear()
        fresh, wait, gaps, rc, rm = [], [], [], [], []
        events = 0
        gc0 = gc_seconds(self.spark)
        t_start = time.perf_counter()
        prev = t_start
        n = 0
        for bid in self.bids[sz.replica_warm_batches:]:
            ready = time.perf_counter()
            m, sp, t0, t1, t_rep, read_changes_s, merge_s = self.step(
                bid, instrument=run.trace and n % 2 == 1)
            self.record_batch(m, sp, t0, t1, files_in_batch_dir(self.path("events"), bid))
            gaps.append(ready - prev)
            prev = time.perf_counter()
            fresh.append(t_rep - t0)
            wait.append(t0 - ready)
            rc.append(read_changes_s)
            rm.append(merge_s)
            events += self.counts[bid]
            n += 1
            if n >= sz.replica_min_batches and time.perf_counter() - t_start >= run.seconds:
                break
        wall = time.perf_counter() - t_start
        run.layer("jvm.gc_s", gc_seconds(self.spark) - gc0, "s")
        self.finish_metrics(events / wall, fresh, wait, fresh[-1], max(gaps))
        run.layer("lake.read_changes_s", median(rc), "s")
        run.layer("lake.replica_merge_s", median(rm), "s")
        v = self.source.version()
        run.layer("lake.cdf_bytes_per_event",
                  dir_bytes(os.path.join(self.source.root, "changes")) / max(
                      sum(self.counts[b] for b in self.bids[: sz.replica_warm_batches + n]), 1),
                  "bytes/event")
        self.next_bid = self.bids[sz.replica_warm_batches + n] if (
            sz.replica_warm_batches + n < len(self.bids)) else None
        run.note(f"changelog_replica: {n} timed batches of {sz.replica_batch} events "
                 f"to source v{v}, {len(run.samples['read_s'])} lookups")

    def check(self):
        ok, detail = checks.replica_gate(self.spark, self.source, self.replica)
        self.run.gate(ok, detail)

    def probe(self):
        bid = self.next_bid if self.next_bid is not None else self.bids[-1]
        self.staged_probe(batch_of(self.events, bid), self.counts[bid],
                          self.source.root, feed=False)
        self.live_bytes_per_row(self.replica)


WORKLOADS = {
    "bulk_replay": BulkReplay,
    "stream_upsert": StreamUpsert,
    "changelog_replica": ChangelogReplica,
}
