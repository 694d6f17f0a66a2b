"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL side-by-side, normalizes both result
frames (columns sorted by name, rows sorted by all columns), and compares
values — exact for non-floats, tight tolerance for floats (so any real
engine drift is caught before the driver sees it).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        elif pdf[c].dtype == object:
            # decimal.Decimal or similar — compare as float via string-safe path
            pass
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True, na_position="last")
    return pdf


def compare_frames(s: pd.DataFrame, o: pd.DataFrame, float_rtol: float = 1e-9) -> list[str]:
    errs: list[str] = []
    if len(s) != len(o):
        errs.append(f"row count: spark={len(s)} oracle={len(o)}")
        return errs
    if sorted(s.columns) != sorted(o.columns):
        errs.append(f"columns: spark={sorted(s.columns)} oracle={sorted(o.columns)}")
        return errs
    s, o = normalize(s), normalize(o)
    for c in s.columns:
        sv, ov = s[c], o[c]
        # Dtype-KIND mismatch (int on one side, float on the other) is a
        # driver-visible formatting hazard even when values are equal
        # after normalization: a dtype-strict comparator hashes "98" vs
        # "98.0" and fails. This silently hid the q_sequence_pack HUGEINT
        # defect for two rounds — flag it, don't normalize it away.
        if pd.api.types.is_integer_dtype(sv) != pd.api.types.is_integer_dtype(ov) and (
            pd.api.types.is_numeric_dtype(sv) and pd.api.types.is_numeric_dtype(ov)
        ):
            errs.append(
                f"col {c}: dtype-kind mismatch spark={sv.dtype} oracle={ov.dtype} "
                f"(int-vs-float formats differently under a strict hasher)"
            )
            continue
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sv = sv.astype(float)
            ov = ov.astype(float)
            both_nan = sv.isna() & ov.isna()
            close = both_nan | (
                (sv - ov).abs() <= (float_rtol * ov.abs().clip(lower=1.0) + 1e-12)
            )
            nbad = int((~close).sum())
            if nbad:
                idx = (~close).idxmax()
                maxdiff = (sv - ov).abs().max()
                errs.append(
                    f"col {c}: {nbad} mismatches, e.g. row {idx}: "
                    f"spark={sv[idx]!r} oracle={ov[idx]!r} maxdiff={maxdiff}"
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            nbad = int((~eq).sum())
            if nbad:
                idx = (~eq).idxmax()
                errs.append(
                    f"col {c}: {nbad} mismatches, e.g. row {idx}: "
                    f"spark={sv[idx]!r} oracle={ov[idx]!r}"
                )
    return errs


def check_query(
    spark, name: str, sf_dir: str, float_rtol: float = 1e-9, nonempty: bool = False
) -> list[str]:
    from hadoop_gpu_spark.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    s = sdf.toPandas()
    con = duckdb_con(sf_dir)
    o = con.sql(ORACLES[name]).df()
    con.close()
    errs = compare_frames(s, o, float_rtol)
    if nonempty and not errs and s.empty:
        errs.append("empty result proves nothing")
    return errs


def driver_unsafe_columns(sf_dir: str, names) -> list[str]:
    """``name.col: TYPE`` for every output column of ``ORACLES[name]``
    that binds to a type a dtype-strict comparator mis-hashes: DuckDB's
    SUM(BIGINT) returns HUGEINT, which reaches pandas as float64, so the
    oracle's "98.0" meets Spark's "98". Binding only, no execution."""
    from hadoop_gpu_spark.queries import ORACLES

    offenders = []
    con = duckdb_con(sf_dir)
    try:
        for name in names:
            rel = con.sql(ORACLES[name])
            for col, typ in zip(rel.columns, [str(t) for t in rel.types]):
                if typ in ("HUGEINT", "UHUGEINT", "UBIGINT"):
                    offenders.append(f"{name}.{col}: {typ}")
    finally:
        con.close()
    return offenders
