"""Quiet, same-session, instrumented q03 triple (r15 VERDICT "what's
wrong" #1 / r16 queue #4): measure q03_shipping_priority ALONE at three
rungs with same-pass ratio arithmetic only, plus the evidence the naked
wall-clock ratios were missing:

- stage-level metric DELTAS around every timed pass (executor run time,
  input bytes, shuffle read/write bytes, memory/disk spill, task count)
  from the UI REST API — so "n log n sort + spill onset" is a number,
  not a guess;
- the AQE-final executed plan per rung (join strategies + sort nodes),
  so a broadcast→SMJ or SMJ→SHJ regime change between rungs is visible
  the way q_dup_spans' was;
- per-pass loadavg, so quietness is recorded, not asserted.

Protocol per rung: 1 untimed warm pass, then 2 timed passes (min
reported, spread recorded). One Spark session for all rungs (tiered JIT
stays warm — the bench.py lesson). Ratios in the JSON are computed only
between values of THIS run.

Usage::

    python scripts/q03_triple.py /tmp/sf10 /tmp/sf30 /tmp/sf100 \
        --json q03_triple.json [--query NAME] [--conf k=v]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_STAGE_KEYS = (
    "executorRunTime",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numTasks",
)


def _stage_totals(app_base: str) -> dict[str, int]:
    """Cumulative per-app stage metric totals (completed stages only).

    The session is dedicated and passes run serially, so before/after
    deltas attribute exactly one pass's stages.
    """
    with urllib.request.urlopen(app_base + "/stages?status=complete") as r:
        stages = json.load(r)
    out = {k: 0 for k in _STAGE_KEYS}
    for st in stages:
        for k in _STAGE_KEYS:
            out[k] += int(st.get(k, 0) or 0)
    return out


def _plan_summary(df) -> dict[str, object]:
    """AQE-final executed plan: join/sort/aggregate node census + the
    join lines verbatim (strategy + keys), after an action has run."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [ln.strip(" +-*:|") for ln in plan.splitlines()]
    joins = [ln for ln in lines if "Join" in ln.split("(")[0]]
    census = {}
    for node in (
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastHashJoin",
        "Sort",
        "HashAggregate",
        "Exchange",
    ):
        census[node] = sum(
            1 for ln in lines if ln.split("(")[0].strip().startswith(node)
        )
    return {"joins": joins, "census": census}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dirs", nargs="+")
    ap.add_argument("--json", dest="json_out")
    ap.add_argument("--query", default="q03_shipping_priority")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        help="extra k=v session conf (recorded in the JSON)",
    )
    args = ap.parse_args()

    from hadoop_gpu_spark import get_spark
    from hadoop_gpu_spark.queries import QUERIES

    extra = {"spark.ui.enabled": "true", "spark.ui.retainedStages": "5000"}
    for kv in args.conf:
        k, _, v = kv.partition("=")
        extra[k] = v
    spark = get_spark(app_name="q03-triple", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    fn = QUERIES[args.query]
    app_base = (
        "http://localhost:4040/api/v1/applications/"
        + spark.sparkContext.applicationId
    )

    rec: dict[str, object] = {
        "query": args.query,
        "protocol": (
            "one session; per rung: 1 warm + 2 timed noop-sink passes, min "
            "reported; stage metrics are REST deltas around each timed pass; "
            "ratios same-run only"
        ),
        "extra_conf": extra,
        "loadavg_start": os.getloadavg(),
        "rungs": {},
    }
    for d in args.sf_dirs:
        fn(spark, d).write.format("noop").mode("overwrite").save()  # warm
        passes = []
        for _ in range(2):
            load1 = os.getloadavg()[0]
            before = _stage_totals(app_base)
            t0 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            after = _stage_totals(app_base)
            passes.append(
                {
                    "wall_s": round(wall, 3),
                    "load1_before": round(load1, 2),
                    "metrics": {k: after[k] - before[k] for k in _STAGE_KEYS},
                }
            )
        res = fn(spark, d)
        res.collect()
        rung = {
            "passes": passes,
            "min_wall_s": round(min(p["wall_s"] for p in passes), 3),
            "spread": round(
                max(p["wall_s"] for p in passes)
                / min(p["wall_s"] for p in passes),
                2,
            ),
            "plan": _plan_summary(res),
        }
        rec["rungs"][d] = rung
        print(d, json.dumps({k: rung[k] for k in ("min_wall_s", "spread")}))
        print("  plan census:", rung["plan"]["census"])
        for p in passes:
            print("  pass", p["wall_s"], "s", p["metrics"])
    rec["loadavg_end"] = os.getloadavg()

    dirs = list(rec["rungs"])
    mins = [rec["rungs"][d]["min_wall_s"] for d in dirs]
    rec["same_run_ratios"] = {
        f"{dirs[i + 1]}/{dirs[i]}": round(mins[i + 1] / mins[i], 2)
        for i in range(len(dirs) - 1)
    }
    print("same-run ratios:", rec["same_run_ratios"])
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(rec, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
