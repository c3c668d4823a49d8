"""Interleaved A/B harness for optimization decisions (one session, noisy box).

Usage:
    python ab_test.py --queries cdc_full_load_then_cdc,cdc_streaming_replay \
        --env SPARK_GRAFT_STREAM_HINT_ALL=1::0 --rounds 3
    python ab_test.py --queries q1,q2 \
        --conf spark.sql.join.preferSortMergeJoin=true::false --rounds 3

``--env NAME=a::b[::c]`` or ``--conf key=a::b[::c]`` defines the
variants; each round runs every query once per variant, interleaved
(A,B,A,B,...), and the report shows min and median per variant.  Env
values are read at query-BUILD time (driver side) and runtime SQL confs
are read at planning time, so toggling either between calls inside one
session is safe.  The lever's prior value is restored afterwards (unset
when it had none).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    lever = ap.add_mutually_exclusive_group(required=True)
    lever.add_argument("--env", help="NAME=v1::v2[::v3]")
    lever.add_argument("--conf", help="key=v1::v2[::v3]")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    name, _, vals = (args.env or args.conf).partition("=")
    variants = vals.split("::")
    if len(set(variants)) != len(variants):
        raise SystemExit("duplicate variant values would pool their samples")

    import __spark_entry__ as entrymod
    from commons_codec_spark.session import get_spark

    spark = get_spark(
        app_name=f"ab-{CPUS}", cpus=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    if args.env:
        get, put = os.environ.get, os.environ.__setitem__

        def unset(n):
            os.environ.pop(n, None)
    else:
        get, put, unset = spark.conf.get, spark.conf.set, spark.conf.unset
    # restore, don't clear: the caller may have set a value beforehand
    prior = get(name, None)

    qs = entrymod.queries()
    names = args.queries.split(",")
    walls: dict = {q: {v: [] for v in variants} for q in names}
    # warmup pass per (query, variant) is the first recorded round; min
    # strips it anyway
    try:
        for r in range(args.rounds):
            for q in names:
                for v in variants:
                    put(name, v)
                    spark.sparkContext.setJobDescription(f"ab:{q}:{name}={v}:r{r}")
                    t0 = time.time()
                    qs[q](spark, SF_DIR).write.mode("overwrite").format("noop").save()
                    walls[q][v].append(round(time.time() - t0, 3))
    finally:
        if prior is None:
            unset(name)
        else:
            put(name, prior)
    report = {}
    for q in names:
        report[q] = {
            v: {"samples": s, "min": min(s), "median": statistics.median(s)}
            for v, s in walls[q].items()
        }
        print(q, json.dumps(report[q]), flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
