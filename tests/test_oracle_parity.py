"""Every query with an oracle must hash-match it — the driver's t2 gate,
replicated locally at sf0.001 (fast) so failures surface before the round
verify at sf0.01.
"""

from __future__ import annotations

import pytest

from hadoop_gpu_spark.queries import ORACLES, QUERIES

from .oracle import check_query, driver_unsafe_columns


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    errs = check_query(spark, name, sf_dir)
    assert not errs, f"{name}: " + "; ".join(errs)


def test_all_oracle_queries_registered():
    # Every registered query has an oracle and every oracle a query, so
    # test_oracle_parity covers the whole registry; every benched query
    # is registered, so no bench time rests on an unproven query.
    from bench import HEADLINE

    assert set(ORACLES) == set(QUERIES), (
        f"oracle without query: {sorted(set(ORACLES) - set(QUERIES))}; "
        f"query without oracle: {sorted(set(QUERIES) - set(ORACLES))}"
    )
    missing = [q for q in HEADLINE if q not in QUERIES]
    assert not missing, f"HEADLINE not registered: {missing}"


# ---------------------------------------------------------------------------
# The same gate at sf0.01. The default suite replicates the oracle at
# sf0.001 only, which can mask scale-dependent failures (the stream-join
# row explosion was 13,124-vs-83 at sf0.01). Deselected by default
# (pytest.ini); run with:
#   python -m pytest tests/ -m sf01_full -q
# ---------------------------------------------------------------------------
@pytest.mark.sf01_full
@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity_sf01_full(spark, name):
    errs = check_query(spark, name, "/root/testdata/sf0.01")
    assert not errs, f"{name}: " + "; ".join(errs)


def test_no_oracle_emits_driver_unsafe_types(sf_dir):
    # Root cause of the two-round q_sequence_pack driver red (found r05):
    # DuckDB's SUM(BIGINT) returns HUGEINT, and a HUGEINT output column
    # reaches pandas as float64 — a dtype-strict comparator then hashes
    # oracle "98.0" against Spark's "98" and fails, while rows and schema
    # stay green and every dtype-normalizing local comparator says the
    # values match. Guard: every oracle's OUTPUT columns must bind to
    # driver-safe types (no HUGEINT/UHUGEINT/UBIGINT). Binding only — no
    # execution — so this covers all oracles in milliseconds.
    offenders = driver_unsafe_columns(sf_dir, sorted(ORACLES))
    assert not offenders, offenders
