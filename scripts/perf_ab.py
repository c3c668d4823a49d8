"""Interleaved A/B of two trees on one perfbench workload.

Runs ``perfbench/run.py`` from a base revision and from this checkout's
working tree, alternating in ABBA order on the same seeds: pair ``i`` runs
seed ``S + i`` on both trees, the base first on even pairs and the change
first on odd ones, so a drift of the host's speed over the session falls
on both sides alike.  The base revision is checked out with
``git worktree`` into ``.perf_ab/`` inside this checkout and removed on
every way out.

Per run it keeps perfbench's last JSON line (``correct``, ``attempted``,
``failed``, the metrics) plus the host readings perfbench prints: the
calibration loop's time at start and end (``calibration_s``) and the CPU
time the hypervisor took during the run (``cpu_steal_s``).  Per metric it
prints each side's min and median with the interquartile range, the
change's median against the base's, the pairs the change won (by the
metric's direction in ``BENCHMARK.json``) with each pair's sign, and
whether the gain is clear: won on at least nine pairs in ten, and the
medians differ by more than the base's interquartile range.  The raw
samples go to ``plans/r07/ab/<workload>.json`` (``--out`` overrides).

Usage, from the root of the checkout::

    python3 scripts/perf_ab.py --base HEAD --workload stream_upsert --pairs 10 --seed 7001

``--trace 1`` compares the per-layer metrics of traced runs instead.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 1200


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout.strip()


def directions() -> dict[str, str]:
    """Metric name -> "higher"/"lower" is better, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def parse_run(stdout: str) -> dict:
    """perfbench's result JSON (its last JSON line) and host readings."""
    out: dict = {"result": None}
    for line in stdout.splitlines():
        if line.startswith("env {"):
            env = json.loads(line[len("env "):])
            out["calibration_s"] = env.get("calibration_s")
        elif line.startswith("host at end:"):
            m = re.search(r"cpu steal during run ([\d.]+) s, calibration ([\d.]+) s", line)
            if m:
                out["cpu_steal_s"] = float(m.group(1))
                out["calibration_end_s"] = float(m.group(2))
        elif line.startswith("{"):
            try:
                out["result"] = json.loads(line)
            except json.JSONDecodeError:
                pass
    return out


def run_once(tree: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    # each tree's perfbench imports the engine beside it; an inherited
    # PYTHONPATH could hand both sides the same engine
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=tree, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        stdout, stderr = proc.communicate(timeout=RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:  # timed out or interrupted: perfbench cleans up on SIGTERM
            proc.terminate()
            try:
                proc.wait(60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    parsed = parse_run(stdout)
    result = parsed.pop("result") or {}
    return {
        "seed": seed,
        "rc": proc.returncode,
        "run_wall_s": round(time.time() - t0, 2),
        "correct": bool(result.get("correct")),
        "attempted": result.get("attempted"),
        "failed": result.get("failed"),
        "metrics": {n: m["value"] for n, m in result.get("metrics", {}).items()},
        **parsed,
        **({} if result else {"stderr_tail": stderr[-2000:]}),
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], better: dict[str, str]) -> dict:
    pairs: dict[int, dict] = {}
    for r in runs:
        pairs.setdefault(r["pair"], {})[r["tree"]] = r
    names = sorted({n for r in runs for n in r["metrics"]})
    out = {}
    for name in names:
        direction = better.get(name, "lower")
        signs = []
        base_v, change_v = [], []
        for _, pr in sorted(pairs.items()):
            b = pr.get("base", {}).get("metrics", {}).get(name)
            c = pr.get("change", {}).get("metrics", {}).get(name)
            if b is None or c is None:
                signs.append("?")
                continue
            base_v.append(b)
            change_v.append(c)
            won = c > b if direction == "higher" else c < b
            signs.append("+" if won else ("=" if c == b else "-"))
        if not base_v:
            continue
        bq, cq = quartiles(base_v), quartiles(change_v)
        base_iqr = bq[2] - bq[0]
        wins = signs.count("+")
        gain = cq[1] > bq[1] if direction == "higher" else cq[1] < bq[1]
        out[name] = {
            "better": direction,
            "n_pairs": len(base_v),
            "base": {"min": min(base_v), "q1": bq[0], "median": bq[1], "q3": bq[2]},
            "change": {"min": min(change_v), "q1": cq[0], "median": cq[1], "q3": cq[2]},
            "median_ratio": cq[1] / bq[1] if bq[1] else None,
            "base_iqr": base_iqr,
            "change_wins": wins,
            "signs": "".join(signs),
            "clear_gain": (gain and wins * 10 >= 9 * len(base_v)
                           and abs(cq[1] - bq[1]) > base_iqr),
        }
    return out


def print_summary(summary: dict) -> None:
    print(f"{'metric':<34} {'base med [q1-q3] min':>34} {'change med [q1-q3] min':>34}"
          f" {'ratio':>6} {'wins':>6}  signs (+ = change better)")
    for name, s in summary.items():
        b, c = s["base"], s["change"]
        ratio = f"{s['median_ratio']:.3f}" if s["median_ratio"] is not None else "-"
        print(f"{name:<34} {b['median']:>10.4g} [{b['q1']:.4g}-{b['q3']:.4g}] {b['min']:<8.4g}"
              f" {c['median']:>10.4g} [{c['q1']:.4g}-{c['q3']:.4g}] {c['min']:<8.4g}"
              f" {ratio:>6} {s['change_wins']:>2}/{s['n_pairs']:<3}  {s['signs']}"
              f"{'  CLEAR GAIN' if s['clear_gain'] else ''}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--base", required=True, help="git revision of the base tree")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seed", type=int, required=True, help="first seed; pair i runs seed + i")
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="raw samples JSON (default plans/r07/ab/<workload>.json)")
    a = p.parse_args(argv)
    out_path = a.out or os.path.join(ROOT, "plans", "r07", "ab", f"{a.workload}.json")
    # a terminated A/B still removes its worktree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    base_sha = git("rev-parse", a.base)
    head_sha = git("rev-parse", "HEAD")
    dirty = bool(git("status", "--porcelain", "--untracked-files=no"))
    worktree = os.path.join(ROOT, ".perf_ab", f"base-{base_sha[:12]}")
    better = directions()
    runs: list[dict] = []
    record = {
        "workload": a.workload,
        "base": {"rev": a.base, "sha": base_sha},
        "change": {"tree": "working tree", "head_sha": head_sha, "dirty": dirty},
        "pairs": a.pairs,
        "seeds": [a.seed + i for i in range(a.pairs)],
        "seconds": a.seconds,
        "trace": a.trace,
        "order": "ABBA: base first on even pairs, change first on odd pairs",
        "nproc": len(os.sched_getaffinity(0)),
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "runs": runs,
    }
    try:
        git("worktree", "add", "--detach", worktree, base_sha)
        trees = {"base": worktree, "change": ROOT}
        for i in range(a.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for pos, side in enumerate(order):
                r = run_once(trees[side], a.workload, a.seed + i, a.seconds, a.trace)
                runs.append({"pair": i, "tree": side, "position": pos, **r})
                print(f"pair {i} {side:<6} seed {a.seed + i}: correct={r['correct']} "
                      f"failed={r['failed']} calibration={r.get('calibration_s')} "
                      f"steal={r.get('cpu_steal_s')} wall={r['run_wall_s']}s", flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", worktree], cwd=ROOT,
                       capture_output=True)
        shutil.rmtree(worktree, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(worktree))
        except OSError:
            pass
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
        record["finished"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        record["summary"] = summarize(runs, better)
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as fh:
            json.dump(record, fh, indent=1)
    print_summary(record["summary"])
    print(f"raw samples: {os.path.relpath(out_path, ROOT)}")
    bad = [r for r in runs if not r["correct"] or r["failed"]]
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
