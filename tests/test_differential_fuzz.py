"""Randomized differential testing: generated relational queries, Spark
DataFrame plan vs DuckDB SQL, exact comparison.

The fixed gate queries pin known shapes; this harness samples the
COMPOSITIONAL space around them — random filter/group/aggregate/join
combinations over the TPC-H-ish tables — and requires the DataFrame API
plan and an independently-written SQL text to agree row-for-row. Any
Catalyst rewrite bug, pushdown misfire, or semantics drift between the
engine and ANSI SQL shows up as a concrete falsifying spec that
hypothesis shrinks to a minimal query.

Determinism rules (same as the gate queries, queries.py module
docstring): money/ratio aggregates compare as floor(x*100) BIGINTs so no
float accumulation order can flip a hash; min/max/count are exact
already.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadoop_gpu_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

# Column universe: ints (filter by modulo, group by mod-5, min/max),
# numerics (threshold filters, exact cent-sums), low-cardinality strings
# (equality filters, group keys).
TABLES = {
    "lineitem": {
        "ints": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "nums": {
            "l_quantity": [10.0, 25.0, 40.0],
            "l_extendedprice": [1000.0, 5000.0, 50000.0],
            "l_discount": [0.02, 0.05, 0.08],
        },
        "strs": {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]},
    },
    "orders": {
        "ints": ["o_orderkey", "o_custkey"],
        "nums": {"o_totalprice": [50000.0, 150000.0, 300000.0]},
        "strs": {
            "o_orderstatus": ["F", "O", "P"],
            "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        },
    },
    "customer": {
        "ints": ["c_custkey", "c_nationkey"],
        "nums": {"c_acctbal": [0.0, 3000.0, 7000.0]},
        "strs": {"c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]},
    },
}

JOIN = {"tables": ("lineitem", "orders"), "on": ("l_orderkey", "o_orderkey")}
JOIN3 = {"tables": ("customer", "orders", "lineitem")}


@st.composite
def query_spec(draw):
    joined = draw(st.sampled_from(["none", "two", "three"]))
    # outer joins on the two-table case: null-producing semantics (WHERE
    # over null columns, aggregates ignoring nulls) must agree engine-wise
    jtype = draw(st.sampled_from(["inner", "left", "full"])) if joined == "two" else "inner"
    if joined == "two":
        tabs = list(JOIN["tables"])
    elif joined == "three":
        tabs = list(JOIN3["tables"])
    else:
        tabs = [draw(st.sampled_from(sorted(TABLES)))]
    cols = {
        "ints": [c for t in tabs for c in TABLES[t]["ints"]],
        "nums": {c: v for t in tabs for c, v in TABLES[t]["nums"].items()},
        "strs": {c: v for t in tabs for c, v in TABLES[t]["strs"].items()},
    }
    filters = []
    for _ in range(draw(st.integers(0, 2))):
        kind = draw(st.sampled_from(["int_mod", "num_le", "num_gt", "str_eq"]))
        if kind == "int_mod":
            c = draw(st.sampled_from(cols["ints"]))
            k = draw(st.integers(2, 7))
            r = draw(st.integers(0, 1))
            filters.append(("int_mod", c, k, r))
        elif kind in ("num_le", "num_gt"):
            c = draw(st.sampled_from(sorted(cols["nums"])))
            v = draw(st.sampled_from(cols["nums"][c]))
            filters.append((kind, c, v, None))
        else:
            c = draw(st.sampled_from(sorted(cols["strs"])))
            v = draw(st.sampled_from(cols["strs"][c]))
            filters.append(("str_eq", c, v, None))
    group = []
    for _ in range(draw(st.integers(0, 2))):
        if draw(st.booleans()) and cols["strs"]:
            c = draw(st.sampled_from(sorted(cols["strs"])))
            if ("s", c) not in group:
                group.append(("s", c))
        else:
            c = draw(st.sampled_from(cols["ints"]))
            if ("m", c) not in group:
                group.append(("m", c))
    aggs = [("count", None)]
    for _ in range(draw(st.integers(0, 2))):
        kind = draw(st.sampled_from(
            ["sum_cents", "min_cents", "max_cents", "max_int", "min_int", "cnt_distinct"]
        ))
        c = draw(
            st.sampled_from(
                sorted(cols["nums"]) if kind.endswith("cents") else cols["ints"]
            )
        )
        if (kind, c) not in aggs:
            aggs.append((kind, c))
    having = draw(st.sampled_from([None, 1, 5])) if group else None
    return {"joined": joined, "tables": tabs, "filters": filters, "group": group,
            "aggs": aggs, "having": having, "jtype": jtype}


def _spark_query(spark, spec):
    if spec["joined"] == "two":
        li = load_table(spark, "lineitem", SF_DIR)
        o = load_table(spark, "orders", SF_DIR)
        df = li.join(o, li[JOIN["on"][0]] == o[JOIN["on"][1]], spec.get("jtype", "inner"))
    elif spec["joined"] == "three":
        c = load_table(spark, "customer", SF_DIR)
        o = load_table(spark, "orders", SF_DIR)
        li = load_table(spark, "lineitem", SF_DIR)
        df = (
            c.join(o, c["c_custkey"] == o["o_custkey"])
            .join(li, o["o_orderkey"] == li["l_orderkey"])
        )
    else:
        df = load_table(spark, spec["tables"][0], SF_DIR)
    for kind, c, a, b in spec["filters"]:
        if kind == "int_mod":
            df = df.filter(F.col(c) % a == b)
        elif kind == "num_le":
            df = df.filter(F.col(c) <= F.lit(a))
        elif kind == "num_gt":
            df = df.filter(F.col(c) > F.lit(a))
        else:
            df = df.filter(F.col(c) == a)
    keys = []
    for g, c in spec["group"]:
        keys.append(
            F.col(c).alias(f"k_{c}") if g == "s" else (F.col(c) % 5).alias(f"k_{c}")
        )
    aggs = []
    for kind, c in spec["aggs"]:
        if kind == "count":
            aggs.append(F.count(F.lit(1)).alias("cnt"))
        elif kind == "sum_cents":
            aggs.append(F.sum(F.floor(F.col(c) * 100).cast("long")).alias(f"sum_{c}"))
        elif kind == "min_cents":
            aggs.append(F.min(F.floor(F.col(c) * 100).cast("long")).alias(f"min_{c}"))
        elif kind == "max_cents":
            aggs.append(F.max(F.floor(F.col(c) * 100).cast("long")).alias(f"max_{c}"))
        elif kind == "max_int":
            aggs.append(F.max(c).alias(f"maxi_{c}"))
        elif kind == "cnt_distinct":
            aggs.append(F.countDistinct(c).alias(f"cd_{c}"))
        else:
            aggs.append(F.min(c).alias(f"mini_{c}"))
    out = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    if spec.get("having"):
        out = out.filter(F.col("cnt") > spec["having"])
    return out.toPandas()


def _sql_query(spec):
    if spec["joined"] == "two":
        kw = {"inner": "JOIN", "left": "LEFT JOIN", "full": "FULL JOIN"}[
            spec.get("jtype", "inner")
        ]
        src = f"lineitem {kw} orders ON l_orderkey = o_orderkey"
    elif spec["joined"] == "three":
        src = ("customer JOIN orders ON c_custkey = o_custkey "
               "JOIN lineitem ON o_orderkey = l_orderkey")
    else:
        src = spec["tables"][0]
    where = []
    for kind, c, a, b in spec["filters"]:
        if kind == "int_mod":
            where.append(f"{c} % {a} = {b}")
        elif kind == "num_le":
            where.append(f"{c} <= {a!r}")
        elif kind == "num_gt":
            where.append(f"{c} > {a!r}")
        else:
            where.append(f"{c} = '{a}'")
    keys = [
        (f"{c} AS k_{c}" if g == "s" else f"{c} % 5 AS k_{c}") for g, c in spec["group"]
    ]
    aggs = []
    for kind, c in spec["aggs"]:
        if kind == "count":
            aggs.append("CAST(COUNT(*) AS BIGINT) AS cnt")
        elif kind == "sum_cents":
            aggs.append(f"CAST(SUM(CAST(floor({c} * 100) AS BIGINT)) AS BIGINT) AS sum_{c}")
        elif kind == "min_cents":
            aggs.append(f"CAST(MIN(CAST(floor({c} * 100) AS BIGINT)) AS BIGINT) AS min_{c}")
        elif kind == "max_cents":
            aggs.append(f"CAST(MAX(CAST(floor({c} * 100) AS BIGINT)) AS BIGINT) AS max_{c}")
        elif kind == "max_int":
            aggs.append(f"MAX({c}) AS maxi_{c}")
        elif kind == "cnt_distinct":
            aggs.append(f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS cd_{c}")
        else:
            aggs.append(f"MIN({c}) AS mini_{c}")
    sql = f"SELECT {', '.join(keys + aggs)} FROM {src}"
    if where:
        sql += " WHERE " + " AND ".join(where)
    if keys:
        sql += " GROUP BY " + ", ".join(f"k_{c}" for _, c in spec["group"])
    if spec.get("having"):
        sql += f" HAVING COUNT(*) > {spec['having']}"
    return sql


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False):
        out.append(tuple(None if pd.isna(v) else int(v) if isinstance(v, float) and v == int(v) else v for v in row))
    return sorted(out, key=repr)


@given(spec=query_spec())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_relational_queries_match_duckdb(spark, duck, spec):
    s = _spark_query(spark, spec)
    d = duck.sql(_sql_query(spec)).df()
    assert sorted(s.columns) == sorted(d.columns), (s.columns, d.columns)
    assert _canon(s) == _canon(d), spec


# ---------------------------------------------------------------------------
# r06 additions: differential fuzz for the r07 pending operators.
# ---------------------------------------------------------------------------
_norm_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",),  # no lone surrogates (invalid UTF-8)
        max_codepoint=0x2FFF,
    ),
    max_size=80,
)


@given(texts=st.lists(_norm_text, min_size=1, max_size=12))
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_normalize_text_fuzz_matches_duckdb(spark, texts):
    # Engine-parity fuzz for the canonicalization pipeline: arbitrary
    # unicode (controls, \x0b/\x0c, CJK, combining marks) must normalize
    # byte-identically under Java regex (Spark) and RE2 (DuckDB) — the
    # claim the explicit-whitespace-class discipline exists to guarantee.
    from hadoop_gpu_spark.functions.text import NORMALIZE_TEXT_SQL_TMPL, normalize_text

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "i long, s string"
    )
    got = {r["i"]: r["n"] for r in df.select("i", normalize_text("s").alias("n")).collect()}
    con = duckdb.connect()
    expr = NORMALIZE_TEXT_SQL_TMPL.format(col="s")
    for i, s in enumerate(texts):
        want = con.sql(f"SELECT {expr} AS n FROM (SELECT ? AS s)", params=[s]).fetchone()[0]
        assert got[i] == want, (repr(s), repr(got[i]), repr(want))
    con.close()


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["tok%d" % i for i in range(9)]), max_size=30),
        min_size=1,
        max_size=8,
    ),
    window=st.integers(1, 8),
    stride=st.integers(1, 8),
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunk_documents_fuzz_matches_python_model(spark, docs, window, stride):
    # Independent-implementation differential: chunk_documents (Spark
    # expressions) vs a five-line Python reference over arbitrary token
    # counts (including 0) and window/stride combinations (including
    # stride > window, i.e. gaps).
    from hadoop_gpu_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)], "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["start_token"], r["n_tokens"])
        for r in chunk_documents(df, "doc_id", "text", window, stride).collect()
    )
    want = []
    for i, toks in enumerate(docs):
        for ci, start in enumerate(range(0, len(toks), stride)):
            want.append((i, ci, start, len(toks[start : start + window])))
    assert got == sorted(want), (window, stride, docs)


# ---------------------------------------------------------------------------
# r06 continuation: window-function and set-operation fuzz legs — the two
# operator families the relational grammar above doesn't reach, and the
# substrate of a large query cohort (secondary sort, moving window, top-k,
# sessionization; union/intersect/except gates).
# ---------------------------------------------------------------------------
# Tables with a VERIFIED-unique key (total order available). The synthetic
# lineitem is NOT here for positional functions: a 150-example soak of this
# leg found 1161 duplicate (l_orderkey, l_linenumber) groups at sf0.001 —
# unlike real TPC-H — so no small column set totally orders it, and
# row_number/lag/lead over a non-total order are legitimately
# engine-divergent (not a bug in either engine).
_TOTAL_ORDER_KEYS = {
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
}
# Row tags for the rank legs: rank/dense_rank per row are pure functions of
# the row's sort-key VALUE (1 + count of strictly-smaller / distinct-smaller
# keys), so ties — even duplicate tag pairs — cannot make the output
# multiset nondeterministic; lineitem is safe here.
_ROW_TAGS = {"lineitem": ["l_orderkey", "l_linenumber"], **_TOTAL_ORDER_KEYS}


@st.composite
def window_spec(draw):
    fn = draw(
        st.sampled_from(
            [
                "row_number", "rank", "dense_rank", "lag", "lead",
                "running_sum", "ntile4", "first_value", "last_value",
                "range_sum",
            ]
        )
    )
    # rank/dense_rank and range_sum are pure functions of the sort-key
    # VALUE (peers share results/frames), so tied keys stay deterministic
    pool = _ROW_TAGS if fn in ("rank", "dense_rank", "range_sum") else _TOTAL_ORDER_KEYS
    table = draw(st.sampled_from(sorted(pool)))
    cols = TABLES[table]
    part = draw(
        st.sampled_from(
            [None]
            + [("s", c) for c in sorted(cols["strs"])]
            + [("m", c) for c in cols["ints"]]
        )
    )
    ordcol = draw(st.sampled_from(cols["ints"]))
    desc = draw(st.booleans())
    valcol = draw(st.sampled_from(cols["ints"]))
    topk = draw(st.sampled_from([None, 3])) if fn == "row_number" else None
    return {
        "table": table, "part": part, "ordcol": ordcol, "desc": desc,
        "fn": fn, "valcol": valcol, "topk": topk,
    }


def _window_frames(spark, spec):
    """Build (spark_df, duckdb_sql) for one window spec.

    Determinism: rank/dense_rank order by the (possibly tied) sort key
    alone — their VALUES are functions of key equality, not row order.
    Everything positional (row_number, lag, lead, running sum) gets the
    table's unique key appended so the order is total.
    """
    from pyspark.sql.window import Window

    t, fn = spec["table"], spec["fn"]
    uniq = _ROW_TAGS[t]
    d = " DESC" if spec["desc"] else ""
    order_cols = [spec["ordcol"]] if fn in ("rank", "dense_rank", "range_sum") else [
        spec["ordcol"], *[u for u in uniq if u != spec["ordcol"]]
    ]
    sql_order = ", ".join(f"{c}{d}" for c in order_cols)
    spark_order = [F.col(c).desc() if spec["desc"] else F.col(c).asc() for c in order_cols]

    if spec["part"] is None:
        w = Window.orderBy(*spark_order)
        sql_part = ""
        part_sel_spark, part_sel_sql = [], []
    else:
        kind, c = spec["part"]
        pexpr_spark = F.col(c) if kind == "s" else (F.col(c) % 5)
        pexpr_sql = c if kind == "s" else f"{c} % 5"
        w = Window.partitionBy(pexpr_spark).orderBy(*spark_order)
        sql_part = f"PARTITION BY {pexpr_sql} "
        part_sel_spark = [pexpr_spark.alias("pk")]
        part_sel_sql = [f"{pexpr_sql} AS pk"]

    v = spec["valcol"]
    if fn == "row_number":
        col, sqlf = F.row_number().over(w), "ROW_NUMBER()"
    elif fn == "rank":
        col, sqlf = F.rank().over(w), "RANK()"
    elif fn == "dense_rank":
        col, sqlf = F.dense_rank().over(w), "DENSE_RANK()"
    elif fn == "lag":
        col, sqlf = F.lag(v, 1).over(w), f"LAG({v}, 1)"
    elif fn == "lead":
        col, sqlf = F.lead(v, 1).over(w), f"LEAD({v}, 1)"
    elif fn == "ntile4":
        col, sqlf = F.ntile(4).over(w), "NTILE(4)"
    elif fn == "first_value":
        col, sqlf = F.first(v).over(w), f"FIRST_VALUE({v})"
    elif fn == "last_value":
        # last over the FULL partition needs an explicit unbounded frame
        # on both engines (the default frame stops at CURRENT ROW)
        w = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        col, sqlf = F.last(v).over(w), f"LAST_VALUE({v})"
    elif fn == "range_sum":
        # RANGE frame: peers (tied sort keys) share one frame, so the
        # result is a pure function of the key value — no tiebreak cols
        w = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        col, sqlf = F.sum(v).over(w), f"SUM({v})"
    else:  # running_sum — frame must be ROWS (total order makes it exact)
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        col = F.sum(v).over(w)
        sqlf = (
            f"SUM({v})"  # OVER clause appended below with the ROWS frame
        )
    frame = {
        "running_sum": " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        "last_value": " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
        "range_sum": " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    }.get(fn, "")
    over = f"OVER ({sql_part}ORDER BY {sql_order}{frame})"
    wv_sql = f"CAST({sqlf} {over} AS BIGINT) AS wv"

    df = load_table(spark, t, SF_DIR).select(
        *uniq, *part_sel_spark, col.cast("long").alias("wv")
    )
    sql = f"SELECT {', '.join([*uniq, *part_sel_sql, wv_sql])} FROM {t}"
    if spec["topk"]:
        df = df.filter(F.col("wv") <= spec["topk"])
        sql = f"SELECT * FROM ({sql}) WHERE wv <= {spec['topk']}"
    return df, sql


@given(spec=window_spec())
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_window_queries_match_duckdb(spark, duck, spec):
    df, sql = _window_frames(spark, spec)
    s, d = df.toPandas(), duck.sql(sql).df()
    assert sorted(s.columns) == sorted(d.columns), (s.columns, d.columns)
    assert _canon(s) == _canon(d), (spec, sql)


@st.composite
def setop_spec(draw):
    # set semantics are order-free — every table qualifies
    table = draw(st.sampled_from(sorted(_ROW_TAGS)))
    cols = TABLES[table]
    proj = [draw(st.sampled_from(cols["ints"])), draw(st.sampled_from(sorted(cols["strs"])))]
    op = draw(st.sampled_from(
        ["union_all", "union", "intersect", "intersect_all", "except", "except_all"]
    ))

    def one_filter():
        kind = draw(st.sampled_from(["int_mod", "num_le", "str_eq", "none"]))
        if kind == "int_mod":
            c = draw(st.sampled_from(cols["ints"]))
            return ("int_mod", c, draw(st.integers(2, 5)), draw(st.integers(0, 1)))
        if kind == "num_le":
            c = draw(st.sampled_from(sorted(cols["nums"])))
            return ("num_le", c, draw(st.sampled_from(cols["nums"][c])), None)
        if kind == "str_eq":
            c = draw(st.sampled_from(sorted(cols["strs"])))
            return ("str_eq", c, draw(st.sampled_from(cols["strs"][c])), None)
        return None

    return {"table": table, "proj": proj, "op": op,
            "f1": one_filter(), "f2": one_filter()}


def _setop_side(spark, table, proj, filt):
    df = load_table(spark, table, SF_DIR)
    sql_where = ""
    if filt is not None:
        kind, c, a, b = filt
        if kind == "int_mod":
            df, sql_where = df.filter(F.col(c) % a == b), f" WHERE {c} % {a} = {b}"
        elif kind == "num_le":
            df, sql_where = df.filter(F.col(c) <= F.lit(a)), f" WHERE {c} <= {a!r}"
        else:
            df, sql_where = df.filter(F.col(c) == a), f" WHERE {c} = '{a}'"
    return df.select(*proj), f"SELECT {', '.join(proj)} FROM {table}{sql_where}"


@given(spec=setop_spec())
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_set_operations_match_duckdb(spark, duck, spec):
    a, sql_a = _setop_side(spark, spec["table"], spec["proj"], spec["f1"])
    b, sql_b = _setop_side(spark, spec["table"], spec["proj"], spec["f2"])
    op = spec["op"]
    if op == "union_all":
        df, kw = a.unionAll(b), "UNION ALL"
    elif op == "union":
        df, kw = a.union(b).distinct(), "UNION"
    elif op == "intersect":
        df, kw = a.intersect(b), "INTERSECT"
    elif op == "intersect_all":
        df, kw = a.intersectAll(b), "INTERSECT ALL"
    elif op == "except":
        df, kw = a.subtract(b), "EXCEPT"
    else:
        df, kw = a.exceptAll(b), "EXCEPT ALL"
    sql = f"({sql_a}) {kw} ({sql_b})"
    s, d = df.toPandas(), duck.sql(sql).df()
    assert sorted(s.columns) == sorted(d.columns), (s.columns, d.columns)
    assert _canon(s) == _canon(d), (spec, sql)


# ---------------------------------------------------------------------------
# Scalar string functions: the engine-parity subset, pinned empirically.
# An r06 probe over adversarial unicode (sharp s, ligatures, Turkish İ,
# final sigma, combining marks, astral plane, NBSP) found upper/lower
# (Unicode special-casing), reverse (codepoints vs grapheme clusters) and
# trim (ASCII-only vs Unicode whitespace) DIVERGE between Java/Spark and
# DuckDB, while the functions below agree. Oracle-authoring rule: the
# divergent four may only be applied to text already reduced to ASCII
# (normalize_text does this; q_scalar_funcs' upper runs on single-letter
# flags); anything user-shaped goes through the subset below.
# ---------------------------------------------------------------------------
_any_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x10FFFF),
    max_size=40,
)

_STRING_PARITY_EXPRS = None  # built lazily (needs pyspark functions)


def _string_parity_exprs():
    global _STRING_PARITY_EXPRS
    if _STRING_PARITY_EXPRS is None:
        _STRING_PARITY_EXPRS = {
            "length": (F.length("s").cast("long"), "CAST(length(s) AS BIGINT)"),
            "substr2_3": (F.substring("s", 2, 3), "substr(s, 2, 3)"),
            "left3": (F.expr("left(s, 3)"), "left(s, 3)"),
            "instr_i": (F.instr("s", "i").cast("long"), "CAST(instr(s, 'i') AS BIGINT)"),
            "replace_o": (
                F.replace(F.col("s"), F.lit("o"), F.lit("0")),
                "replace(s, 'o', '0')",
            ),
            "concat_ws": (F.concat_ws("-", "s", "s"), "concat_ws('-', s, s)"),
            "lpad10": (F.lpad("s", 10, "*"), "lpad(s, 10, '*')"),
            "split_sp": (
                F.array_join(F.split("s", " "), "|"),
                "array_to_string(string_split_regex(s, ' '), '|')",
            ),
        }
    return _STRING_PARITY_EXPRS


@given(texts=st.lists(_any_text, min_size=1, max_size=10))
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scalar_string_functions_match_duckdb(spark, texts):
    exprs = _string_parity_exprs()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(texts)], "i long, s string")
    got = (
        df.select("i", *[e.alias(k) for k, (e, _) in exprs.items()])
        .toPandas()
        .set_index("i")
    )
    con = duckdb.connect()
    for i, s in enumerate(texts):
        for k, (_, dsql) in exprs.items():
            want = con.sql(f"SELECT {dsql} FROM (SELECT ? AS s)", params=[s]).fetchone()[0]
            have = got.loc[i, k]
            assert (have or "") == (want or ""), (k, repr(s), repr(have), repr(want))
    con.close()


def test_known_engine_divergent_string_functions(spark):
    """Executable documentation of WHY upper/lower/reverse/trim are banned
    on non-ASCII oracle columns: each case asserts the divergence itself,
    so an engine upgrade that converges them flips this test and tells us
    the ban (and this list) is stale."""
    cases = [
        # (spark expr, duckdb sql, input, expected spark, expected duck)
        (F.upper("s"), "upper(s)", "ß", "SS", "ẞ"),
        (F.lower("s"), "lower(s)", "ΣΟΦΟΣ", "σοφος", "σοφοσ"),
        (F.lower("s"), "lower(s)", "İ", "i̇", "i"),
        # NFD e+combining-acute: Spark reverses CODEPOINTS (the mark ends
        # up on the c), DuckDB reverses grapheme clusters (é stays intact)
        (F.reverse("s"), "reverse(s)", "e\u0301clair", "rialc\u0301e", "rialce\u0301"),
        (F.trim("s"), "trim(s)", "\xa0nbsp", "\xa0nbsp", "nbsp"),
    ]
    con = duckdb.connect()
    for expr, dsql, s, want_spark, want_duck in cases:
        df = spark.createDataFrame([(s,)], "s string")
        have = df.select(expr.alias("v")).collect()[0]["v"]
        duck = con.sql(f"SELECT {dsql} AS v FROM (SELECT ? AS s)", params=[s]).fetchone()[0]
        assert have == want_spark, (dsql, repr(s), repr(have), repr(want_spark))
        assert duck == want_duck, (dsql, repr(s), repr(duck), repr(want_duck))
        assert have != duck, (dsql, repr(s), "engines converged — update the ban list")
    con.close()


# ---------------------------------------------------------------------------
# Scalar NUMERIC parity: which double-math functions may appear in an
# oracle with EXACT equality, which agree only to ~12 significant digits
# (libm last-ulp differences — Java StrictMath vs DuckDB's C library),
# and which diverge SEMANTICALLY (pinned below so an engine upgrade that
# converges them flips the test). Probed empirically on this Spark/DuckDB
# pair before writing (round-7).
# ---------------------------------------------------------------------------
_finite_double = st.floats(
    min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
)


def _numeric_parity_exprs():
    # EXACT-equality subset: correctly-rounded IEEE ops (sqrt, pow with
    # integral/half exponents), sign/magnitude ops, floor/ceil, atan2,
    # log10, and round at scale 0 (both engines round halves away from
    # zero on doubles).
    exact = {
        "abs": (F.abs("x"), "abs(x)"),
        "sign": (F.signum("x"), "sign(x)"),
        "floor": (F.floor("x").cast("double"), "CAST(floor(x) AS DOUBLE)"),
        "ceil": (F.ceil("x").cast("double"), "CAST(ceil(x) AS DOUBLE)"),
        "round0": (F.round("x"), "round(x)"),
        "sqrt_abs": (F.sqrt(F.abs("x")), "sqrt(abs(x))"),
        "pow2": (F.pow("x", 2.0), "pow(x, 2.0)"),
        "pow_half": (F.pow(F.abs("x"), 0.5), "pow(abs(x), 0.5)"),
        "log10": (F.log10(F.abs("x") + 1.0), "log10(abs(x)+1.0)"),
        "atan2": (F.atan2("x", F.lit(1.0)), "atan2(x, 1.0)"),
        "arith": ((F.col("x") * 3.0 - 1.0) / 7.0, "(x * 3.0 - 1.0) / 7.0"),
    }
    # Last-ulp subset: transcendentals where the engines' libms differ in
    # the final bit for some arguments (ln, log2, exp, sin, cbrt —
    # observed divergences at e.g. ln(3.0), exp(1.0), sin(2.5)). The
    # oracle contract for these is the repo's round-to-9 discipline; here
    # they compare with rel_tol 1e-12.
    ulp = {
        "ln": (F.log(F.abs("x") + 1.0), "ln(abs(x)+1.0)"),
        "log2": (F.log2(F.abs("x") + 1.0), "log2(abs(x)+1.0)"),
        "exp": (F.exp(F.least(F.col("x"), F.lit(1.0))), "exp(least(x, 1.0))"),
        "sin": (F.sin("x"), "sin(x)"),
        "cbrt": (F.cbrt("x"), "cbrt(x)"),
    }
    return exact, ulp


@given(vals=st.lists(_finite_double, min_size=1, max_size=10))
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scalar_numeric_functions_match_duckdb(spark, vals):
    import math

    exact, ulp = _numeric_parity_exprs()
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, x double"
    )
    got = (
        df.select(
            "i",
            *[e.alias(k) for k, (e, _) in exact.items()],
            *[e.alias(k) for k, (e, _) in ulp.items()],
        )
        .toPandas()
        .set_index("i")
    )
    con = duckdb.connect()
    for i, v in enumerate(vals):
        for k, (_, dsql) in exact.items():
            want = con.execute(
                f"SELECT {dsql} FROM (SELECT CAST(? AS DOUBLE) AS x)", [float(v)]
            ).fetchone()[0]
            have = float(got.loc[i, k])
            assert have == want, ("exact", k, v, have, want)
        for k, (_, dsql) in ulp.items():
            want = con.execute(
                f"SELECT {dsql} FROM (SELECT CAST(? AS DOUBLE) AS x)", [float(v)]
            ).fetchone()[0]
            have = float(got.loc[i, k])
            assert math.isclose(have, want, rel_tol=1e-12, abs_tol=1e-300), (
                "ulp", k, v, have, want,
            )
    con.close()


def test_known_engine_divergent_numeric_behaviors(spark):
    """Executable documentation of the numeric oracle bans (same design
    as the string-divergence pin): each case asserts the divergence
    itself, so an engine upgrade that converges them flips this test.

    1. round(x, d>0): Spark rounds the SHORTEST DECIMAL STRING of the
       double (BigDecimal HALF_UP on "1.005"), DuckDB rounds the binary
       value (1.005 is really 1.00499999999999989...). Oracle rule: only
       round() values whose decimal form is exact (cents as decimals,
       or already-quantized doubles), or round at scale 0.
    2. CAST(double AS BIGINT): Spark TRUNCATES toward zero, DuckDB
       ROUNDS half-to-even (1.5 -> 2, -1.5 -> -2). Oracle rule: always
       spell the DuckDB side as CAST(trunc(x) AS BIGINT) (the repo's
       oracles do).
    """
    import duckdb as _dd

    con = _dd.connect()
    df = spark.createDataFrame([(1.005, 1.5, -1.5)], "a double, b double, c double")
    row = df.select(
        F.round("a", 2).alias("r"),
        F.col("b").cast("long").alias("tb"),
        F.col("c").cast("long").alias("tc"),
    ).collect()[0]
    # Spark: decimal-string HALF_UP; truncating cast
    assert row["r"] == 1.01
    assert row["tb"] == 1 and row["tc"] == -1
    dr, db, dc = con.sql(
        "SELECT round(1.005::DOUBLE, 2), CAST(1.5::DOUBLE AS BIGINT), "
        "CAST(-1.5::DOUBLE AS BIGINT)"
    ).fetchone()
    # DuckDB: binary-value rounding; rounding cast
    assert dr == 1.0 and db == 2 and dc == -2
    assert row["r"] != dr and row["tb"] != db and row["tc"] != dc, (
        "engines converged — update the numeric oracle rules"
    )
    # the trunc() spelling that IS portable:
    assert con.sql("SELECT CAST(trunc(1.5::DOUBLE) AS BIGINT)").fetchone()[0] == 1
    con.close()


# ---------------------------------------------------------------------------
# DATETIME parity: extraction, truncation, interval arithmetic and epoch
# conversions over arbitrary micro-precision timestamps (1970..2099, the
# repo's UTC/micros discipline). Non-obvious portable spellings, probed
# before writing: Spark dayofweek = DuckDB dayofweek + 1; Spark
# add_months clamps to month end = DuckDB t + INTERVAL 1 MONTH cast to
# DATE; Spark unix_timestamp = floor(epoch(t)); Spark datediff(end,
# start) = date_diff('day', start, end).
# ---------------------------------------------------------------------------
_EPOCH_US_MAX = 4_102_444_799_999_999  # 2099-12-31 23:59:59.999999


def _datetime_parity_exprs():
    return {
        "year": (F.year("t").cast("long"), "CAST(year(t) AS BIGINT)"),
        "month": (F.month("t").cast("long"), "CAST(month(t) AS BIGINT)"),
        "day": (F.dayofmonth("t").cast("long"), "CAST(day(t) AS BIGINT)"),
        "hour": (F.hour("t").cast("long"), "CAST(hour(t) AS BIGINT)"),
        "minute": (F.minute("t").cast("long"), "CAST(minute(t) AS BIGINT)"),
        "dow": (F.dayofweek("t").cast("long"), "CAST(dayofweek(t) + 1 AS BIGINT)"),
        "doy": (F.dayofyear("t").cast("long"), "CAST(dayofyear(t) AS BIGINT)"),
        "week": (F.weekofyear("t").cast("long"), "CAST(weekofyear(t) AS BIGINT)"),
        "quarter": (F.quarter("t").cast("long"), "CAST(quarter(t) AS BIGINT)"),
        "trunc_hour": (
            F.unix_micros(F.date_trunc("hour", "t")),
            "CAST(epoch_us(date_trunc('hour', t)) AS BIGINT)",
        ),
        "trunc_day": (
            F.unix_micros(F.date_trunc("day", "t")),
            "CAST(epoch_us(date_trunc('day', t)) AS BIGINT)",
        ),
        "trunc_week": (
            F.unix_micros(F.date_trunc("week", "t")),
            "CAST(epoch_us(date_trunc('week', t)) AS BIGINT)",
        ),
        "trunc_month": (
            F.unix_micros(F.date_trunc("month", "t")),
            "CAST(epoch_us(date_trunc('month', t)) AS BIGINT)",
        ),
        "add_40d": (
            F.unix_micros(F.col("t") + F.expr("INTERVAL 40 DAYS")),
            "CAST(epoch_us(t + INTERVAL 40 DAY) AS BIGINT)",
        ),
        "add_month_clamped": (
            F.unix_micros(F.add_months("t", 1).cast("timestamp")),
            "CAST(epoch_us(CAST(CAST(t + INTERVAL 1 MONTH AS DATE) AS TIMESTAMP)) AS BIGINT)",
        ),
        "datediff_to_fix": (
            F.datediff(F.lit("2026-06-15").cast("date"), F.col("t").cast("date")).cast("long"),
            "CAST(date_diff('day', CAST(t AS DATE), DATE '2026-06-15') AS BIGINT)",
        ),
        "last_day": (
            F.last_day("t").cast("string"),
            "strftime(last_day(CAST(t AS DATE)), '%Y-%m-%d')",
        ),
        "epoch_us": (F.unix_micros("t"), "CAST(epoch_us(t) AS BIGINT)"),
        "unix_ts": (
            F.unix_timestamp("t").cast("long"),
            "CAST(floor(epoch(t)) AS BIGINT)",
        ),
    }


@given(micros=st.lists(st.integers(0, _EPOCH_US_MAX), min_size=1, max_size=8))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_datetime_functions_match_duckdb(spark, micros):
    import datetime as _dt

    exprs = _datetime_parity_exprs()
    base = _dt.datetime(1970, 1, 1)
    stamps = [base + _dt.timedelta(microseconds=us) for us in micros]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(stamps)], "i long, t timestamp"
    )
    got = (
        df.select("i", *[e.alias(k) for k, (e, _) in exprs.items()])
        .toPandas()
        .set_index("i")
    )
    con = duckdb.connect()
    for i, t in enumerate(stamps):
        for k, (_, dsql) in exprs.items():
            want = con.execute(
                f"SELECT {dsql} FROM (SELECT CAST(? AS TIMESTAMP) AS t)", [t]
            ).fetchone()[0]
            have = got.loc[i, k]
            have = have if isinstance(have, str) else int(have)
            assert have == want, (k, t.isoformat(), have, want)
    con.close()


# ---------------------------------------------------------------------------
# GROUPING SETS parity: rollup/cube lattices over the TPC-H-ish tables —
# null-filled subtotal rows, grouping-level counts, and exact cent-sums
# must agree with DuckDB's GROUP BY ROLLUP/CUBE. (Grouping columns are
# non-null in this corpus, so a NULL in the output unambiguously means
# "rolled up" and a sentinel COALESCE makes rows comparable.)
# ---------------------------------------------------------------------------
@st.composite
def grouping_spec(draw):
    table = draw(st.sampled_from(["orders", "lineitem"]))
    cols_by_table = {
        "orders": [("s", "o_orderstatus"), ("s", "o_orderpriority"), ("m", "o_custkey")],
        "lineitem": [("s", "l_returnflag"), ("s", "l_linestatus"), ("m", "l_suppkey")],
    }
    univ = cols_by_table[table]
    n = draw(st.integers(2, 3))
    idx = draw(st.permutations(range(len(univ))))
    cols = [univ[i] for i in idx[:n]]
    mode = draw(st.sampled_from(["rollup", "cube"]))
    val = {"orders": "o_totalprice", "lineitem": "l_extendedprice"}[table]
    return {"table": table, "cols": cols, "mode": mode, "val": val}


@given(spec=grouping_spec())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_grouping_sets_match_duckdb(spark, duck, spec):
    df = load_table(spark, spec["table"], SF_DIR)
    sexprs, dexprs, names = [], [], []
    for i, (kind, c) in enumerate(spec["cols"]):
        if kind == "s":
            sexprs.append(F.col(c))
            dexprs.append(c)
            names.append(c)
        else:
            sexprs.append((F.col(c) % 5).alias(f"m_{c}"))
            dexprs.append(f"{c} % 5 AS m_{c}")
            names.append(f"m_{c}")
    grouped = df.rollup(*sexprs) if spec["mode"] == "rollup" else df.cube(*sexprs)
    out = grouped.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col(spec["val"]).cast("double") * 100).cast("long")).alias("cents"),
    )
    # sentinel-coalesce the group columns so rolled-up NULLs hash stably
    sel = [
        (F.coalesce(F.col(nm).cast("string"), F.lit("<ALL>")).alias(nm)) for nm in names
    ] + [F.col("n").cast("long"), F.col("cents").cast("long")]
    s = out.select(*sel).toPandas()
    kw = "ROLLUP" if spec["mode"] == "rollup" else "CUBE"
    inner = ", ".join(dexprs)
    d = duck.sql(
        f"""
        SELECT {', '.join(f"COALESCE(CAST({nm} AS VARCHAR), '<ALL>') AS {nm}" for nm in names)},
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(CAST({spec['val']} AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM (SELECT *, {inner} FROM {spec['table']})
        GROUP BY {kw} ({', '.join(names)})
        """
    ).df()
    assert _canon(s) == _canon(d), spec


# ---------------------------------------------------------------------------
# AS-OF JOIN parity: the shuffle-based union+window formulation
# (operators/joins.py asof_join) vs DuckDB's NATIVE ASOF LEFT JOIN, over
# randomized keyed/unkeyed integer timelines. Right (group, t) pairs are
# drawn unique — both engines would otherwise tie-break an equal-t right
# pair arbitrarily.
# ---------------------------------------------------------------------------
@st.composite
def asof_spec(draw):
    n_groups = draw(st.integers(1, 3))
    left = draw(
        st.lists(
            st.tuples(st.integers(0, n_groups - 1), st.integers(0, 50)),
            min_size=1,
            max_size=12,
        )
    )
    right_keys = draw(
        st.lists(
            st.tuples(st.integers(0, n_groups - 1), st.integers(0, 50)),
            min_size=1,
            max_size=12,
            unique=True,
        )
    )
    keyed = draw(st.booleans())
    # NULL-bearing right values (r10): a matched right row carrying NULL
    # must be taken wholesale (v=NULL), never skipped for an older row's
    # non-null v — the torn-row divergence the struct-pack fill closed.
    null_mask = draw(
        st.lists(st.booleans(), min_size=len(right_keys), max_size=len(right_keys))
    )
    # both directions (r10): forward = earliest right at-or-after, the
    # mirror window; DuckDB native ASOF flips the comparison operator
    direction = draw(st.sampled_from(["backward", "forward"]))
    # NULL on-keys BOTH sides (r12, ADVICE): a NULL right `t` fails every
    # inequality in DuckDB but sorts NULLS-FIRST in a Spark window — the
    # divergence the pre-union isNotNull filter closed; a NULL left `t`
    # must fill NULL in both directions.
    null_on_right = draw(
        st.lists(st.booleans(), min_size=len(right_keys), max_size=len(right_keys))
    )
    null_on_left = draw(
        st.lists(st.booleans(), min_size=len(left), max_size=len(left))
    )
    return {
        "left": left,
        "right": right_keys,
        "keyed": keyed,
        "nulls": null_mask,
        "null_on_right": null_on_right,
        "null_on_left": null_on_left,
        "direction": direction,
    }


@given(spec=asof_spec())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_duckdb_native_asof(spark, spec):
    import duckdb as _dd
    import pandas as _pd

    from hadoop_gpu_spark.operators.joins import asof_join

    lrows = [
        (i, g, None if t_null else t)
        for i, ((g, t), t_null) in enumerate(zip(spec["left"], spec["null_on_left"]))
    ]
    rrows = [
        (g, None if t_null else t, None if is_null else g * 1000 + t)
        for (g, t), is_null, t_null in zip(
            spec["right"], spec["nulls"], spec["null_on_right"]
        )
    ]
    by = ["g"] if spec["keyed"] else []
    if not spec["keyed"]:
        # unkeyed: collapse groups so right "t" keys must be unique again
        seen = set()
        rrows = [r for r in rrows if not (r[1] in seen or seen.add(r[1]))]

    ldf = spark.createDataFrame(lrows, "id long, g long, t long")
    rdf = spark.createDataFrame(rrows, "g long, t long, v long")
    out = asof_join(
        ldf,
        rdf.drop("g") if not spec["keyed"] else rdf,
        "t",
        by=by,
        right_cols=["v"],
        direction=spec["direction"],
    )
    got = sorted(
        (r["id"], r["v"]) for r in out.select("id", "v").collect()
    )

    # Oracle: DuckDB native ASOF over the NON-NULL-keyed rows only.
    # DuckDB 1.0's ASOF is internally inconsistent on NULL keys
    # (backward treats NULL as the largest key — NULL left t matches a
    # NULL right row; forward matches nothing), so NULL-key rows are
    # oracled against the strict inequality semantics instead: a NULL
    # key on either side matches nothing (asof_join docstring).
    con = _dd.connect()
    l_null_ids = [i for i, _, t in lrows if t is None]
    con.register(
        "l",
        _pd.DataFrame(
            [r for r in lrows if r[2] is not None], columns=["id", "g", "t"]
        ).astype({"id": "int64", "g": "int64", "t": "int64"}),
    )
    rrows_nn = [r for r in rrows if r[1] is not None]
    con.register(
        "r",
        _pd.DataFrame(rrows_nn, columns=["g", "t", "v"]).astype(
            {"g": "int64", "t": "int64"}
        ),
    )
    op = ">=" if spec["direction"] == "backward" else "<="
    cond = f"l.t {op} r.t" + (" AND l.g = r.g" if spec["keyed"] else "")
    want = sorted(
        [
            tuple(x)
            for x in con.sql(
                f"SELECT l.id, r.v FROM l ASOF LEFT JOIN r ON {cond}"
            ).fetchall()
        ]
        + [(i, None) for i in l_null_ids]
    )
    con.close()
    norm = lambda rows: [(i, None if v is None or v != v else int(v)) for i, v in rows]
    assert norm(got) == norm(want), spec


# ---------------------------------------------------------------------------
# Correlated-subquery parity: EXISTS / NOT EXISTS / IN forms, expressed
# as DataFrame semi/anti joins on the Spark side (the engine's idiom —
# q20/q21/q22 all compile subqueries this way) vs literal subquery SQL
# in DuckDB. Under non-null join keys the three forms map exactly to
# left_semi / left_anti; the NULL edge where that mapping BREAKS is
# pinned separately below.
# ---------------------------------------------------------------------------
@st.composite
def subquery_spec(draw):
    form = draw(st.sampled_from(["exists", "not_exists", "in"]))
    # correlated right-side filter on lineitem
    qty = draw(st.integers(10, 45))
    extra = draw(st.booleans())
    status = draw(st.sampled_from(["O", "F", None]))
    return {"form": form, "qty": qty, "extra": extra, "status": status}


@given(spec=subquery_spec())
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_semi_anti_subqueries_match_duckdb(spark, duck, spec):
    orders = load_table(spark, "orders", SF_DIR)
    li = load_table(spark, "lineitem", SF_DIR).filter(
        F.col("l_quantity") >= spec["qty"]
    )
    if spec["extra"]:
        li = li.filter(F.col("l_returnflag") == "R")
    if spec["status"]:
        orders = orders.filter(F.col("o_orderstatus") == spec["status"])
    how = "left_anti" if spec["form"] == "not_exists" else "left_semi"
    out = orders.join(
        li, orders.o_orderkey == li.l_orderkey, how
    ).select("o_orderkey")
    s = out.toPandas()

    rf = " AND l_returnflag = 'R'" if spec["extra"] else ""
    st_f = f" WHERE o_orderstatus = '{spec['status']}'" if spec["status"] else ""
    if spec["form"] == "in":
        pred = (
            f"o_orderkey IN (SELECT l_orderkey FROM lineitem "
            f"WHERE l_quantity >= {spec['qty']}{rf})"
        )
    else:
        neg = "NOT " if spec["form"] == "not_exists" else ""
        pred = (
            f"{neg}EXISTS (SELECT 1 FROM lineitem "
            f"WHERE l_orderkey = o_orderkey AND l_quantity >= {spec['qty']}{rf})"
        )
    where = f"{st_f} {'AND' if st_f else 'WHERE'} {pred}"
    d = duck.sql(f"SELECT o_orderkey FROM orders{where}").df()
    assert _canon(s) == _canon(d), spec


def test_not_in_with_nulls_is_not_an_anti_join(spark):
    """Executable documentation of the ANSI three-valued-logic trap: a
    NOT IN whose subquery yields a NULL returns ZERO rows (x <> NULL is
    unknown for every x) on BOTH engines — while a left_anti join keeps
    the non-matching rows. Oracle rule: spell negation as NOT EXISTS
    (what left_anti implements); use NOT IN only on provably non-null
    subquery columns. Both engines' agreement on the empty result is
    asserted, and the anti-join's difference is asserted, so an engine
    that ever deviates from ANSI here flips this test."""
    import duckdb as _dd
    import pandas as _pd

    left = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    right = spark.createDataFrame([(1, 1), (2, None)], "r long, v int").select(
        "r", F.col("v").cast("long").alias("v")
    )
    anti = sorted(
        r["k"]
        for r in left.join(
            right.select(F.col("v").alias("k")), "k", "left_anti"
        ).collect()
    )
    assert anti == [2, 3]  # anti join ignores the NULL member

    spark_sql = left.sparkSession
    left.createOrReplaceTempView("l_nn")
    right.createOrReplaceTempView("r_nn")
    got = spark_sql.sql(
        "SELECT k FROM l_nn WHERE k NOT IN (SELECT v FROM r_nn)"
    ).collect()
    assert got == []  # ANSI: NULL in the set -> nothing qualifies

    con = _dd.connect()
    con.register("l", _pd.DataFrame({"k": [1, 2, 3]}))
    con.register("r", _pd.DataFrame({"v": [1.0, None]}))
    duck_rows = con.sql("SELECT k FROM l WHERE k NOT IN (SELECT v FROM r)").fetchall()
    con.close()
    assert duck_rows == []  # DuckDB agrees


# ---------------------------------------------------------------------------
# Array/list function parity (r08) — the substrate the dedup kernels and
# their oracles stand on: token_ngrams is transform+slice+array_join+
# array_distinct, jaccard is array_intersect/array_union sizes, the
# embedding kernels are zip_with+aggregate, and every oracle re-spells
# those as DuckDB list_* functions. This fuzz pins the cross-engine
# correspondences the oracles rely on (with order-erasing sorts where an
# engine leaves element order unspecified), and the known-divergence
# test pins the traps (endpoint conventions, empty-list sums) so an
# engine upgrade that moves them flips a test instead of an oracle.
# ---------------------------------------------------------------------------
_int_arrays = st.lists(
    st.lists(st.integers(-50, 50), max_size=12), min_size=1, max_size=8
)


def _array_parity_exprs():
    # (spark expr over columns a, b ; duckdb sql over ?-bound a, b)
    return {
        "size_a": (F.size("a").cast("long"), "CAST(len(a) AS BIGINT)"),
        "distinct_sorted": (
            F.array_sort(F.array_distinct("a")),
            "list_sort(list_distinct(a))",
        ),
        "intersect_sorted": (
            F.array_sort(F.array_intersect("a", "b")),
            "list_sort(list_intersect(a, b))",
        ),
        "union_sorted": (
            F.array_sort(F.array_union("a", "b")),
            "list_sort(list_distinct(list_concat(a, b)))",
        ),
        # Spark slice(a, pos, LENGTH) == DuckDB list_slice(a, pos, pos+len-1)
        # (inclusive END INDEX) — the exact correspondence the n-gram
        # oracles use (list_slice(toks, i, i+2) for a 3-gram).
        "slice_2_len3": (F.slice("a", 2, 3), "list_slice(a, 2, 4)"),
        # empty-list divergence (Spark '' vs DuckDB NULL) handled by the
        # oracle-side COALESCE — asserted raw in the divergences test below
        "join_str": (
            F.array_join(F.transform("a", lambda x: x.cast("string")), ","),
            "COALESCE(array_to_string(a, ','), '')",
        ),
        # empty-list divergence handled by the oracle-side COALESCE —
        # asserted raw in the known-divergences test below
        "fold_sum": (
            F.aggregate("a", F.lit(0).cast("long"), lambda acc, x: acc + x),
            "COALESCE(CAST(list_sum(a) AS BIGINT), 0)",
        ),
        "filter_pos": (
            F.filter("a", lambda x: x > 0),
            "list_filter(a, x -> x > 0)",
        ),
        "transform_sq": (
            F.transform("a", lambda x: x * x),
            "list_transform(a, x -> x * x)",
        ),
        "zip_sum_sorted": (
            F.zip_with("a", "b", lambda x, y: F.coalesce(x, F.lit(0)) + F.coalesce(y, F.lit(0))),
            "list_transform(list_zip(a, b), p -> COALESCE(p[1], 0) + COALESCE(p[2], 0))",
        ),
    }


@given(arrays=_int_arrays)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_array_functions_match_duckdb(spark, arrays):
    exprs = _array_parity_exprs()
    rows = [(i, a, a[: len(a) // 2]) for i, a in enumerate(arrays)]
    df = spark.createDataFrame(rows, "i long, a array<long>, b array<long>")
    got = (
        df.select("i", *[e.alias(k) for k, (e, _) in exprs.items()])
        .toPandas()
        .set_index("i")
    )
    con = duckdb.connect()
    for i, a, b in rows:
        for k, (_, dsql) in exprs.items():
            want = con.sql(
                f"SELECT {dsql} AS v FROM (SELECT ?::BIGINT[] AS a, ?::BIGINT[] AS b)",
                params=[a, b],
            ).fetchone()[0]
            have = got.loc[i, k]
            if hasattr(have, "tolist"):
                have = have.tolist()
            if hasattr(want, "tolist"):
                want = want.tolist()
            assert have == want, (k, a, b, have, want)
    con.close()


def test_known_engine_divergent_array_behaviors(spark):
    """Executable documentation of the array-function traps the oracles
    must (and do) spell around; each divergence is asserted itself so an
    engine upgrade that converges it flips this test:

    - Spark sequence(lo, hi) is END-INCLUSIVE; DuckDB range(lo, hi) is
      end-EXCLUSIVE (oracle spelling: range(lo, hi + 1) — the n-gram
      oracles' `range(1, ... + 1)`).
    - Spark F.aggregate over an EMPTY array returns the initial value;
      DuckDB list_sum([]) returns NULL (oracle spelling: COALESCE).
    - Spark array_join([], sep) returns the empty string; DuckDB
      array_to_string([], sep) returns NULL (oracle spelling: COALESCE
      to '') — found BY this suite's own fuzz on its first run.
    - Spark array_distinct preserves FIRST-OCCURRENCE order — compare
      distinct results order-erased (sorted) unless the oracle
      reproduces that order; this suite's fuzz sorts both sides.
    """
    import duckdb as _dd

    df = spark.createDataFrame([(1,)], "x long")
    seq = df.select(F.sequence(F.lit(1), F.lit(4)).alias("s")).collect()[0]["s"]
    assert seq == [1, 2, 3, 4]  # inclusive end
    con = _dd.connect()
    rng = con.sql("SELECT range(1, 4) AS r").fetchone()[0]
    assert list(rng) == [1, 2, 3]  # exclusive end
    assert len(seq) == len(rng) + 1

    empty_join = df.select(
        F.array_join(F.array().cast("array<string>"), ",").alias("v")
    ).collect()[0]["v"]
    assert empty_join == ""
    assert (
        con.sql("SELECT array_to_string([]::BIGINT[], ',') AS v").fetchone()[0] is None
    )

    empty_fold = df.select(
        F.aggregate(
            F.array().cast("array<long>"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("v")
    ).collect()[0]["v"]
    assert empty_fold == 0
    assert con.sql("SELECT list_sum([]::BIGINT[]) AS v").fetchone()[0] is None

    dist = df.select(
        F.array_distinct(F.array(F.lit(3), F.lit(1), F.lit(3), F.lit(2))).alias("d")
    ).collect()[0]["d"]
    assert dist == [3, 1, 2]  # first-occurrence order, not sorted
    con.close()


# ---------------------------------------------------------------------------
# Sketch kernels on edge inputs: NULL-heavy columns (all-NULL and empty
# inputs included) spread over more partitions than rows, so most tasks
# see zero rows. HLL, CMS and the quantile sketch must equal their DuckDB
# twins value for value; the bloom-prefiltered semi join must equal a
# plain left_semi join.
# ---------------------------------------------------------------------------
_sparse_key = st.one_of(st.none(), st.none(), st.text(alphabet="abxyz", max_size=3))
_sparse_group = st.sampled_from(["g1", "g2", None])
_extra_parts = st.integers(1, 6)


def _spread(spark, rows, schema, extra):
    """``rows`` as a frame with more partitions than rows (empty tasks)."""
    return spark.createDataFrame(rows, schema).repartition(len(rows) + extra)


def _duck_table(rows, ddl):
    con = duckdb.connect()
    con.sql(f"CREATE TABLE t ({ddl})")
    if rows:
        marks = ", ".join("?" * len(rows[0]))
        con.executemany(f"INSERT INTO t VALUES ({marks})", [list(r) for r in rows])
    return con


def _rows_equal(got, want):
    got = sorted((tuple(r) for r in got), key=repr)
    want = sorted((tuple(r) for r in want), key=repr)
    assert got == want


@given(
    rows=st.lists(st.tuples(_sparse_group, _sparse_key), max_size=14),
    grouped=st.booleans(),
    extra=_extra_parts,
)
@example(rows=[], grouped=False, extra=2)
@example(rows=[(None, None), ("g1", None)], grouped=False, extra=3)
@example(rows=[("g1", None), ("g2", "a"), (None, "a")], grouped=True, extra=4)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hll_edge_inputs_match_duckdb(spark, rows, grouped, extra):
    from hadoop_gpu_spark.operators.hll import hll_distinct, hll_distinct_sql

    groups = ["g"] if grouped else None
    df = _spread(spark, rows, "g string, k string", extra)
    got = hll_distinct(df, "k", groups, p=4).collect()
    con = _duck_table(rows, "g VARCHAR, k VARCHAR")
    want = con.sql(hll_distinct_sql("t", "k", groups, p=4)).fetchall()
    con.close()
    _rows_equal(got, want)
    if not grouped and all(k is None for _, k in rows):
        assert got[0]["est_distinct"] == 0.0  # COUNT(DISTINCT) of nothing


@given(
    texts=st.lists(
        st.one_of(st.none(), st.none(), st.text(alphabet="ab c", max_size=8)),
        max_size=10,
    ),
    query=st.lists(st.text(alphabet="abc", min_size=1, max_size=2), min_size=1, max_size=3),
    d=st.integers(1, 3),
    w=st.integers(1, 5),
    extra=_extra_parts,
)
@example(texts=[], query=["a"], d=2, w=3, extra=2)
@example(texts=[None, "", " ", "a b"], query=["a", "c"], d=2, w=1, extra=5)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cms_edge_inputs_match_duckdb(spark, texts, query, d, w, extra):
    from hadoop_gpu_spark.operators.cms import cms_token_estimates, cms_token_estimates_sql

    rows = [(t,) for t in texts]
    docs = _spread(spark, rows, "text string", extra)
    got = cms_token_estimates(docs, query, d=d, w=w).collect()
    con = _duck_table(rows, "text VARCHAR")
    want = con.sql(cms_token_estimates_sql("t", query, d=d, w=w)).fetchall()
    con.close()
    _rows_equal(got, want)


@given(
    rows=st.lists(
        st.tuples(
            _sparse_group,
            st.one_of(
                st.none(),
                st.none(),
                st.sampled_from([float("nan"), float("inf"), -float("inf")]),
                st.floats(-20, 120, allow_nan=False),
            ),
        ),
        max_size=14,
    ),
    grouped=st.booleans(),
    n_buckets=st.integers(1, 16),
    extra=_extra_parts,
)
@example(rows=[], grouped=False, n_buckets=4, extra=2)
@example(rows=[("g1", None), ("g2", float("nan")), ("g2", 5.0)], grouped=True, n_buckets=4, extra=4)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quantile_sketch_edge_inputs_match_duckdb(spark, rows, grouped, n_buckets, extra):
    from hadoop_gpu_spark.operators.quantiles import histogram_quantiles, histogram_quantiles_sql

    qs = [0.25, 0.5, 1.0]
    groups = ["g"] if grouped else None
    df = _spread(spark, rows, "g string, x double", extra)
    got = histogram_quantiles(df, "x", qs, groups, 0.0, 100.0, n_buckets, 10).collect()
    con = _duck_table(rows, "g VARCHAR, x DOUBLE")
    want = con.sql(
        histogram_quantiles_sql("t", "x", qs, groups, 0.0, 100.0, n_buckets, 10)
    ).fetchall()
    con.close()
    _rows_equal(got, want)


@given(
    big=st.lists(st.one_of(st.none(), st.integers(0, 12)), max_size=14),
    small=st.lists(st.one_of(st.none(), st.none(), st.integers(0, 12)), max_size=6),
    extra=_extra_parts,
)
@example(big=[None, 1, 2], small=[], extra=3)
@example(big=[None, 1], small=[None], extra=3)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bloom_semi_join_edge_inputs_match_plain_semi_join(spark, big, small, extra):
    from hadoop_gpu_spark.operators.bloom import bloom_prefiltered_semi_join

    b = _spread(spark, [(i, k) for i, k in enumerate(big)], "i long, k long", extra)
    s = _spread(spark, [(k,) for k in small], "k long", extra)
    got = bloom_prefiltered_semi_join(b, s, "k", m_bits=256, k=3).collect()
    want = b.join(s, "k", "left_semi").collect()
    _rows_equal(got, want)
