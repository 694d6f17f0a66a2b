"""Macro-scale soak: run the bench HEADLINE set plus the (former) staged
gates at one or more scaled fixture dirs and print a per-query table.

The reference ships gridmix (H/src/benchmarks/gridmix/README:20-45) as
its macro rung; this is ours. Fixtures come from
``make_scaled_fixtures.py`` (key-shifted replication of sf0.1, 64k-row
parquet groups). Protocol = the r13 soak's: one untimed warm pass per
scale, then min of 2 timed passes per query, full materialization via
count(); one Spark session for everything (tiered JIT stays warm), with
persisted frames and bloom broadcasts released between queries so one
query's cache never subsidizes — or poisons — the next.

Usage::

    python scripts/scale_soak.py /tmp/sf10 /tmp/sf30 [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _run_once(fn, spark, sf_dir: str) -> float:
    from hadoop_gpu_spark import release

    t0 = time.time()
    fn(spark, sf_dir).count()
    dt = time.time() - t0
    release(spark)
    return dt


def main(sf_dirs: list[str], json_out: str | None, only: list[str] | None = None) -> int:
    from bench import HEADLINE

    from hadoop_gpu_spark import get_spark
    from hadoop_gpu_spark.queries import QUERIES, SCALE_SOAK_GATES

    spark = get_spark(app_name="scale-soak")
    names = [*HEADLINE, *SCALE_SOAK_GATES]
    if only:
        missing = [n for n in only if n not in QUERIES]
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        names = only
    load0 = os.getloadavg()
    print(f"loadavg at start: {load0}", flush=True)
    results: dict[str, dict[str, float]] = {d: {} for d in sf_dirs}
    loads: dict[str, dict[str, float]] = {d: {} for d in sf_dirs}
    failures: dict[str, dict[str, str]] = {d: {} for d in sf_dirs}
    for sf_dir in sf_dirs:
        for name in names:  # untimed warm pass (whole set, JIT + codegen)
            try:
                _run_once(QUERIES[name], spark, sf_dir)
            except Exception as e:  # record, keep soaking — a per-query
                # failure (OOM at a new rung) IS the rung's finding, not
                # a reason to lose the rest of the table (r15 lesson:
                # the first sf100 attempt died whole-run on one OOM)
                failures[sf_dir][name] = type(e).__name__
                print(f"{sf_dir} {name} WARM-FAIL {type(e).__name__}", flush=True)
        for name in names:
            if name in failures[sf_dir]:
                continue
            # loadavg BEFORE each timed pass: a minimum drawn under
            # ambient contention is self-describing in the JSON (the
            # r14 minima-table lesson — cross-pass minima under mixed
            # load made six ratios unintelligible).
            passes = []
            try:
                for _ in range(2):
                    l1 = os.getloadavg()[0]
                    passes.append((_run_once(QUERIES[name], spark, sf_dir), l1))
            except Exception as e:
                failures[sf_dir][name] = type(e).__name__
                print(f"{sf_dir} {name} FAIL {type(e).__name__}", flush=True)
                continue
            t, load_at = min(passes)
            results[sf_dir][name] = round(t, 3)
            loads[sf_dir][name] = round(load_at, 2)
            print(f"{sf_dir} {name} {t:.3f}s (load1 {load_at:.1f})", flush=True)
            if json_out:  # incremental flush (r16): a rung that outlives
                # the session budget keeps every completed row
                with open(json_out + ".partial", "w") as f:
                    json.dump(
                        {"results": results, "loads": loads,
                         "failures": failures, "partial": True}, f, indent=1)

    print(f"\n| query | {' | '.join(sf_dirs)} | ratio |")
    print("|---|" + "---|" * (len(sf_dirs) + 1))
    for name in names:
        row = [results[d].get(name) for d in sf_dirs]
        cells = [
            f"{v:.2f}" if v is not None else failures[d].get(name, "-")
            for v, d in zip(row, sf_dirs)
        ]
        if row[0] and row[-1]:
            cells.append(f"{row[-1] / row[0]:.1f}x")
        else:
            cells.append("-")
        print(f"| {name} | {' | '.join(cells)} |")
    totals = {d: round(sum(results[d].values()), 2) for d in sf_dirs}
    ratio = (
        f"{totals[sf_dirs[-1]] / totals[sf_dirs[0]]:.2f}x"
        if len(sf_dirs) > 1 and totals[sf_dirs[0]]
        else "-"
    )
    print(f"| TOTAL | {' | '.join(str(totals[d]) for d in sf_dirs)} | {ratio} |")
    load1 = os.getloadavg()
    print(f"loadavg at end: {load1}", flush=True)
    if json_out:
        from bench import _machine_calib  # VM drift normalizer (r16 lesson:
        # cross-round absolute comparisons need a per-run speed stamp)

        with open(json_out, "w") as f:
            json.dump(
                {"results": results, "totals": totals, "loads": loads,
                 "failures": failures, "driver_mem":
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
                 "loadavg_start": load0, "loadavg_end": load1,
                 "machine_calib": _machine_calib()},
                f, indent=1,
            )
            f.write("\n")
    return 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dirs", nargs="+", help="scaled fixture dirs, small to large")
    ap.add_argument("--json", dest="json_out", default=None, metavar="OUT")
    ap.add_argument(
        "--only", default=None, metavar="Q1,Q2",
        help="comma-separated query subset (default: bench HEADLINE + SCALE_SOAK_GATES)",
    )
    ns = ap.parse_args()
    raise SystemExit(
        main(ns.sf_dirs, ns.json_out, ns.only.split(",") if ns.only else None)
    )
