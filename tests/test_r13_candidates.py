"""r13 candidate gate, oracle-pinned while STAGED: q_interval_overlap —
the bucketed interval overlap join's query surface (operator falsifiers
live in tests/test_interval.py). Same staging pattern as the r09/r11/r12
cohorts: the driver-identical oracle comparison runs here every session
at BOTH scales, so registration is a one-line @query move with the
evidence already standing.
"""

from __future__ import annotations

import pytest

from tests.oracle import check_query, driver_unsafe_columns

R13_CANDIDATES = ["q_interval_overlap"]

_BOTH_SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.mark.parametrize("name", R13_CANDIDATES)
@pytest.mark.parametrize("scale_dir", _BOTH_SCALES)
def test_r13_candidate_gate_oracle(spark, name, scale_dir):
    errs = check_query(spark, name, scale_dir, nonempty=True)
    assert not errs, f"{name}@{scale_dir}: " + "; ".join(errs[:3])


def test_r13_candidate_oracles_emit_driver_safe_types(sf_dir):
    offenders = driver_unsafe_columns(sf_dir, R13_CANDIDATES)
    assert not offenders, offenders


def test_interval_gate_has_matches_and_zero_count_rows(spark, sf_dir):
    # The gate must exercise BOTH semantics: real overlaps (a purchase
    # with same-user clicks inside its hour) and the left-total zero
    # rows (a purchase with none) — a corpus where either side is empty
    # proves half the operator.
    from hadoop_gpu_spark import queries as q

    counts = [r["n_overlaps"] for r in q.q_interval_overlap(spark, sf_dir).collect()]
    assert any(c > 0 for c in counts), "no overlapping pair in the gate corpus"
    assert any(c == 0 for c in counts), "no zero-count left row in the gate corpus"


def test_interval_gate_plans_no_nested_loop_single_event_scan_amplification(spark, sf_dir):
    # Scale shape: the gate must plan hash joins only (the operator's
    # reason to exist) and read events a bounded number of times — the
    # purchase side, the click side, and the left-total base (3 scans of
    # one filtered projection each, all pushed).
    import re

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    df = q.q_interval_overlap(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"^\s*\(\d+\) Scan parquet\b", plan, re.M)) <= 3, plan
    assert "PushedFilters" in plan
