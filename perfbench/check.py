"""Output check: every workload query against its DuckDB oracle.

Uses the repository's own comparison (``tests/oracle.py``) unchanged. A
query fails when it raised in any pass or its output mismatches the
oracle; ``fail_frac`` is failures over queries attempted.
"""

from __future__ import annotations


def check_outputs(frames: dict, fixture: str, raised: dict[str, str]) -> dict[str, list[str]]:
    """Return ``{query: [problems]}`` for every query that failed.

    ``frames`` maps each query to the DataFrame its last pass built (the
    check collects it, outside the timed passes); ``raised`` maps queries
    that raised in any pass to the error text.
    """
    from hadoop_gpu_spark.queries import ORACLES
    from tests.oracle import duckdb_con

    con = duckdb_con(fixture)
    try:
        return {
            name: errs
            for name in frames
            if (errs := check_one(name, frames.get(name), raised.get(name), con, ORACLES))
        }
    finally:
        con.close()


def check_one(name: str, frame, error: str | None, con, oracles: dict[str, str]) -> list[str]:
    from tests.oracle import compare_frames

    if error is not None:
        return [f"raised: {error}"]
    if name not in oracles:
        return ["no oracle"]
    try:
        out = frame.toPandas() if hasattr(frame, "toPandas") else frame
        return compare_frames(out, con.sql(oracles[name]).df())
    except Exception as e:  # a query that fails at collect time counts as failed
        return [f"raised at check: {type(e).__name__}: {e}"]
