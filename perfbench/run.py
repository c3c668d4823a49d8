"""CDC ingest benchmark: run one workload, check it, print its metrics.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` is a separate, instrumented run that prints the
per-layer metrics instead (its end-to-end numbers are not the reported
ones).  The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  A correctness
mismatch exits non-zero.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# The engine under test.  In a directory without it this import fails,
# the run exits non-zero and prints no result.
from commons_codec_spark.session import get_spark  # noqa: E402

from perfbench import harness  # noqa: E402
from perfbench.harness import Tracer, quantile, tail_q  # noqa: E402
from perfbench.workloads import SCALES, WORKLOADS  # noqa: E402

END_TO_END = {
    "events_per_s": "1/s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "read_p50_s": "s",
    "read_p90_s": "s",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "sources.warmup_s": "s",
    "sources.queue_wait_p50_s": "s",
    "sources.lag_end_s": "s",
    "sources.files_per_batch": "count",
    "harness.generator_late_max_s": "s",
    "decode.s": "s",
    "decode.rows": "rows",
    "fold.s": "s",
    "fold.net_rows_per_event": "rows/event",
    "fold.shuffle_bytes_per_event": "bytes/event",
    "merge.s": "s",
    "merge.rows_written_per_event": "rows/event",
    "merge.bytes_written_per_event": "bytes/event",
    "merge.touched_buckets": "count",
    "lake.cdf_bytes_per_event": "bytes/event",
    "lake.read_changes_s": "s",
    "lake.replica_merge_s": "s",
    "lake.files_per_lookup": "count",
    "lake.live_bytes_per_row": "bytes/row",
    "pipeline.batch_p50_s": "s",
    "pipeline.jobs_per_batch": "count",
    "pipeline.stages_per_batch": "count",
    "pipeline.tasks_per_batch": "count",
    "pipeline.prescan_s": "s",
    "pipeline.merge_job_s": "s",
    "pipeline.fused_s": "s",
    "pipeline.staged_sum_s": "s",
    "pipeline.unattributed_s": "s",
    "jvm.gc_s": "s",
    "jvm.executor_gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "peak_rss_mb": "MB",
    "trace.overhead_batch_s": "s",
    "self.harness_s": "s",
    "self.session_s": "s",
    "self.sources_s": "s",
    "self.pipeline_s": "s",
    "self.lake_s": "s",
    "self.check_s": "s",
    "self.probe_s": "s",
}

#: Every workload pins Spark's shuffle/spill dirs inside its own work dir.
SHUFFLE_DIR_MODE = "work-dir"


class Run:
    """One benchmark run: the context every workload step reports into."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 scale: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.sizes = trace, SCALES[scale]
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-p{os.getpid()}")
        self.tracer = Tracer()
        self.samples: dict[str, list] = defaultdict(list)
        self.metrics: dict[str, dict] = {}
        self.layers: dict[str, float] = {}
        self.pending_shuffle: dict[str, tuple] = {}
        self.notes: list[str] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.op_failures = 0
        self.spark = None
        self.jobs = None
        self.wl = None

    # ------------------------------------------------------------ reporting

    def op(self, name: str, fn, instrument: bool = False, **attrs):
        """One counted operation (batch, read, feed step) inside a span;
        ``instrument`` also tags its Spark jobs with a job group."""
        self.attempted += 1
        with self.tracer.span(name, **attrs) as sp:
            try:
                if instrument and self.jobs is not None:
                    with self.jobs.group(name) as g:
                        res = fn()
                    sp.update(g)
                else:
                    res = fn()
            except Exception:
                self.op_failures += 1
                raise
        return res, sp

    def fail(self, msg: str) -> None:
        self.errors.append(msg)

    def gate(self, ok: bool, detail: str) -> None:
        self.note("gate " + detail)
        if not ok:
            self.fail("correctness gate failed: " + detail)

    def note(self, msg: str) -> None:
        self.notes.append(msg)

    def sample(self, name: str, value: float) -> None:
        self.samples[name].append(value)

    def e2e(self, name: str, value: float, unit: str, n: int = 1, how: str = "") -> None:
        self.metrics[name] = {"value": value, "unit": unit, "n": n, "how": how}

    def e2e_tail(self, stem: str, values: list, unit: str) -> None:
        """``<stem>_p50_s`` and ``<stem>_p90_s``; the latter is the highest
        quantile up to p90 with at least ten samples beyond it."""
        n = len(values)
        q = tail_q(n)
        self.e2e(f"{stem}_p50_s", quantile(values, 0.5), unit, n, "p50")
        self.e2e(f"{stem}_p90_s", quantile(values, q), unit, n,
                 "p90" if q == 0.9 else f"p{100 * q:.0f} (p90 lacks 10 samples beyond)")

    def layer(self, name: str, value: float, unit: str) -> None:
        if PER_LAYER.get(name) != unit:
            raise KeyError(f"per-layer metric {name!r} [{unit}] is not declared")
        self.layers[name] = float(value)

    # ------------------------------------------------------------ the run

    def execute(self) -> int:
        host = harness.host_record()
        harness.become_subreaper()
        self.steal0 = host["cpu_steal_s"]
        os.makedirs(os.path.join(self.work, "spark-local"))
        os.makedirs(os.path.join(self.work, "tmp"))
        # Spark, the JVM and Python write only inside the work dir; the
        # env var wins over any spark.local.dir the session sets.
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_TMPFS"] = "0"
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        cwd = os.getcwd()
        t_run = time.perf_counter()
        crashed = False
        try:
            os.chdir(self.work)
            with self.tracer.span("harness.run") as root:
                self.tracer.default_parent = root["id"]
                self._run_workload(host)
            self._shutdown()
            if self.trace:
                self._event_log_metrics()
        except Exception:  # the run's boundary: report, then exit non-zero
            traceback.print_exc()
            crashed = True
        finally:
            try:
                self._shutdown()
            except Exception:  # e.g. the JVM got the same signal and is gone
                traceback.print_exc()
                crashed = True
            killed = harness.end_processes()
            if killed:
                self.note(f"signalled {len(killed)} processes still running "
                          f"after stop: {killed}")
            os.chdir(cwd)
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))
            except OSError:
                pass
        return self._report(t_run, crashed)

    def _shutdown(self) -> None:
        """Stop the workload's streams, then the session (idempotent)."""
        wl, self.wl = self.wl, None
        spark, self.spark = self.spark, None
        try:
            if wl is not None:
                wl.close()
        finally:
            if spark is not None:
                spark.stop()

    def _run_workload(self, host: dict) -> None:
        with self.tracer.span("harness.setup") as setup:
            with self.tracer.span("session.get_spark") as sp:
                extra = {"spark.driver.extraJavaOptions":
                         f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"}
                if self.trace:
                    log_dir = os.path.join(self.work, "eventlog")
                    os.makedirs(log_dir)
                    extra.update({"spark.eventLog.enabled": "true",
                                  "spark.eventLog.dir": "file://" + log_dir,
                                  "spark.eventLog.compress": "false",
                                  "spark.eventLog.rolling.enabled": "false"})
                self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                       cpus=host["nproc"], extra_conf=extra)
                self.spark.sparkContext.setLogLevel("ERROR")
            self.layer("session.start_s", sp["end"] - sp["start"], "s")
            local_dirs = harness.effective_local_dirs(self.spark)
            mode = ("work-dir" if all(os.path.realpath(d).startswith(
                os.path.realpath(self.work)) for d in local_dirs) else "other")
            env = {**host, "spark_local_dirs": local_dirs, "shuffle_dir_mode": mode,
                   "jvm_max_heap_mb": round(harness.heap_max_mb(self.spark)),
                   "spark_master": self.spark.sparkContext.master}
            print("env " + json.dumps(env, sort_keys=True), flush=True)
            if mode != SHUFFLE_DIR_MODE:
                raise RuntimeError(
                    f"shuffle dirs {local_dirs} are not in the work dir: this run's "
                    f"shuffle-dir mode {mode!r} differs from {SHUFFLE_DIR_MODE!r}")
            if self.trace:
                self.jobs = harness.JobGroups(self.spark)
            wl = self.wl = WORKLOADS[self.workload](self)
            wl.setup()
        self.e2e("setup_s", setup["end"] - setup["start"], "s")
        with self.tracer.span("harness.timed") as timed:
            self.tracer.default_parent = timed["id"]
            wl.timed()
        self.tracer.default_parent = None
        if not self.errors:
            with self.tracer.span("check.gate"):
                wl.check()
        if self.trace and not self.errors:
            with self.tracer.span("probe.staged"):
                wl.probe()
        self.layer("peak_rss_mb", harness.peak_rss_mb(self.spark), "MB")
        self.layer("jvm.heap_peak_mb", harness.heap_peak_mb(self.spark), "MB")

    def _event_log_metrics(self) -> None:
        per_stage = harness.event_log_totals(os.path.join(self.work, "eventlog"))
        self.layer("jvm.executor_gc_s", sum(s["gc_s"] for s in per_stage.values()), "s")
        for name, (group, n_events) in self.pending_shuffle.items():
            stages = self.jobs.stages.get(group, [])
            total = sum(per_stage.get(s, {}).get("shuffle_bytes", 0) for s in stages)
            self.layer(name, total / n_events, "bytes/event")

    # ------------------------------------------------------------ output

    def _report(self, t_run: float, crashed: bool) -> int:
        print(f"host at end: loadavg {os.getloadavg()}, cpu steal during run "
              f"{harness.cpu_steal_s() - self.steal0:.2f} s, calibration "
              f"{harness.calibration_s():.4f} s")
        for line in self.notes:
            print(line)
        if self.trace and not crashed:
            for layer, v in sorted(self.tracer.self_times().items()):
                name = f"self.{layer}_s"
                if name in PER_LAYER:
                    self.layer(name, v, "s")
            print("spans " + json.dumps(self.tracer.dump(t_run)))
        correct = not crashed and not self.errors
        for e in self.errors:
            print("ERROR " + e)
        failed = self.op_failures if correct else self.attempted
        attempted = max(self.attempted, 1)
        print(f"error_rate = {failed / attempted:.6g} ratio (n={attempted} batches "
              f"and reads, {failed} failed)")
        for name, m in self.metrics.items():
            print(f"{name} = {m['value']:.6g} {m['unit']} (n={m['n']}"
                  f"{', ' + m['how'] if m['how'] else ''})")
        if self.trace:
            for name in PER_LAYER:
                if name in self.layers:
                    print(f"{name} = {self.layers[name]:.6g} {PER_LAYER[name]}")
            chosen = {n: (self.layers.get(n), u) for n, u in PER_LAYER.items()}
        else:
            chosen = {n: (self.metrics.get(n, {}).get("value"), u)
                      for n, u in END_TO_END.items()}
        missing = [n for n, (v, _) in chosen.items()
                   if v is None or not math.isfinite(v)]
        if missing and correct:
            print("ERROR metrics not measured: " + ", ".join(missing))
            correct, failed = False, attempted
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in chosen.items()
                        if v is not None and math.isfinite(v)},
        }
        print(json.dumps(result), flush=True)
        return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full",
                   help="input sizes; 'toy' is for the benchmark's own tests")
    a = p.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    return Run(a.workload, a.seed, a.seconds, bool(a.trace), a.scale).execute()


if __name__ == "__main__":
    sys.exit(main())
