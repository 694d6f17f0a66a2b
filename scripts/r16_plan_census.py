"""Round-16 optimization census: construct EVERY registered query at the
given sf dir, dump its formatted plan to a directory, and record per-query
plan-shape stats (Exchange / BroadcastExchange counts, Python-boundary
nodes, parquet scan count, join strategies, codegen spans) into one JSON.

This is guide §1 ("measure first") applied to the whole surface at once:
the stats file ranks where plan-shape work could still pay, and the dumped
plans are the before/after evidence base for OPTIMIZATION_r16.md.

Usage::

    python scripts/r16_plan_census.py <out_dir> [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def stats_from_plan(plan: str) -> dict:
    def n(pat: str) -> int:
        return len(re.findall(pat, plan))

    return {
        "exchange": n(r"\(\d+\) Exchange\b"),
        "broadcast_exchange": n(r"\(\d+\) BroadcastExchange\b"),
        "batch_eval_python": n(r"BatchEvalPython"),
        "arrow_eval_python": n(r"ArrowEvalPython"),
        "map_in_arrow_pandas": n(r"MapInArrow|MapInPandas|PythonMapInArrow"),
        "flatmap_groups": n(r"FlatMapGroupsInPandas|FlatMapGroupsInArrow"),
        "scans": n(r"Scan parquet|Scan ExistingRDD|Scan JDBCRelation|Scan text"),
        "parquet_scans": n(r"Scan parquet"),
        "smj": n(r"SortMergeJoin"),
        "shj": n(r"ShuffledHashJoin"),
        "bhj": n(r"BroadcastHashJoin"),
        "bnlj": n(r"BroadcastNestedLoopJoin"),
        "cartesian": n(r"CartesianProduct"),
        "sorts": n(r"\(\d+\) Sort\b"),
        "in_memory_scan": n(r"InMemoryTableScan|Scan In-memory"),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "lines": plan.count("\n"),
    }


def main(out_dir: str, sf_dir: str) -> int:
    from hadoop_gpu_spark import get_spark, release
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.plans import formatted_plan

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="r16-plan-census")
    spark.sparkContext.setLogLevel("ERROR")

    census: dict[str, dict] = {}
    bad: list[str] = []
    for name in q.QUERIES:
        t0 = time.time()
        try:
            df = q.QUERIES[name](spark, sf_dir)
            plan = formatted_plan(df)
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
            census[name] = stats_from_plan(plan)
            census[name]["construct_s"] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001 - census must finish
            census[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            bad.append(name)
        print(f"{name}: {census[name]}", flush=True)
        release(spark)

    out = {"sf_dir": sf_dir, "bad": bad, "census": census}
    with open(os.path.join(out_dir, "census.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {out_dir}/census.json ({len(census)} queries, {len(bad)} failed)")
    return 0 if not bad else 1


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "artifacts/plans_r16_before"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    raise SystemExit(main(out, sf))
