"""Time EVERY registered query with the noop sink at the given sf dir —
the whole-surface companion to bench.py (guide §1.4): 1 warm pass + 2
timed passes per query, min + spread, one JSON file.

bench.py remains the official record (21 headline queries, 3 passes,
contention-adjudicated); this sweep exists to RANK the other ~130
registered queries for optimization triage, where relative cost matters
more than absolute precision.

Usage::

    python scripts/r16_time_all.py <out_json> [sf_dir] [name_filter_regex]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(out_json: str, sf_dir: str, name_re: str | None) -> int:
    from hadoop_gpu_spark import get_spark, release
    from hadoop_gpu_spark.queries import QUERIES

    spark = get_spark(app_name="r16-time-all")
    spark.sparkContext.setLogLevel("ERROR")
    names = [n for n in QUERIES if name_re is None or re.search(name_re, n)]

    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    errs: dict[str, str] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"time_all: {name}")
        try:
            passes = []
            for i in range(3):
                release(spark)
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                if i:  # pass 0 is warmup
                    passes.append(dt)
            times[name] = round(min(passes), 3)
            spread[name] = round(max(passes) / min(passes), 2)
        except Exception as e:  # noqa: BLE001 - sweep must finish
            errs[name] = f"{type(e).__name__}: {e}"[:200]
        print(
            f"{name}: {times.get(name, errs.get(name))}",
            file=sys.stderr,
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    out = {
        "sf_dir": sf_dir,
        "total_min_sum": round(sum(times.values()), 3),
        "times": times,
        "spread": spread,
        "errs": errs,
    }
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {out_json}: {len(times)} timed, {len(errs)} errors")
    return 0 if not errs else 1


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "artifacts/time_all_r16opt.json"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    flt = sys.argv[3] if len(sys.argv) > 3 else None
    raise SystemExit(main(out, sf, flt))
