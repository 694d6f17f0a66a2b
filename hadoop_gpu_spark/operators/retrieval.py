"""Distributed BM25 ranked retrieval over a document corpus.

Beyond-ref IR operator — the ranked-retrieval primitive next to TF-IDF.
The reference's Grep family (X/Grep.java: regex match + count + sort) is
boolean retrieval with a popularity sort; Okapi BM25 is what any search
or RAG-retrieval product built on the same corpus runs instead: scored
term matching with document-length normalization.

100 TB shape:
- the QUERY SET is the bounded side: its distinct terms prune the
  exploded token stream AT THE SCAN (literal isin filter), so only
  (doc, query-term) rows — a vanishing fraction of the corpus token
  stream — survive into any aggregate, and the corpus text never
  shuffles.
- df rides the tf frame as COUNT(*) OVER (PARTITION BY term) — the
  q_tfidf_topterms pattern: no vocabulary broadcast, no second tokenize
  pass; N and the corpus token total ride the plan as a broadcast 1-row
  aggregate (two in-plan scans, zero driver barriers — the operator is a
  pure lazy plan constructor; no collect).
- scoring is pure column arithmetic; the per-query top-k
  (``sort.top_k_per_group``) runs over candidate rows only, partitioned
  by qid (|queries| partitions of |candidate-doc| rows — never corpus
  rows).

One lattice serves BM25, BM25F and MoreLikeThis, in both engines:
``_idf9``/``_IDF9_SQL`` (idf), ``_saturation``/``_saturation_sql``
(tf saturation), ``_contrib``/``_contrib_sql`` (per-term contribution)
and ``_ranked_scores``/``_ranked_tail_sql`` (score-to-rank).

Determinism (oracle rules, queries.py module docstring): ln() differs
in the last ulp between engines, so idf is round(ln(...), 9) BEFORE any
multiplication (the _unigram_nll discipline); per-(query, doc)
contributions accumulate as DECIMAL(28,9) (order-independent exact
sums); the top-k ranking compares those exact decimals with doc_id
tie-breaks, and only the final reported score converts to double.
All float literals in the SQL twin are CAST(... AS DOUBLE) — a bare
1.2 types as DECIMAL in DuckDB and decimal arithmetic would diverge
from Spark's double path (the histogram_quantiles_sql lesson).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_gpu_spark.operators.sort import top_k_per_group

# Shared tokenizer contract with functions/text + the _sql_toks twin:
# whitespace-delimited, empties dropped.
_DL_RE = r"\S+"


def _query_terms(queries: list[tuple[str, str]]) -> list[tuple[str, str]]:
    out = {(qid, t) for qid, qtext in queries for t in qtext.split()}
    return sorted(out)


def _query_tf_counts(queries: list[tuple[str, str]]) -> list[tuple[str, str, int]]:
    """(qid, term, tfq): each query's own term frequencies, sorted."""
    qtf: dict[tuple[str, str], int] = {}
    for qid, qtext in queries:
        for t in qtext.split():
            qtf[(qid, t)] = qtf.get((qid, t), 0) + 1
    return [(q, t, c) for (q, t), c in sorted(qtf.items())]


def _doc_token_stream(
    docs: DataFrame, id_col: str, text_col: str, *, pos: bool = False
) -> DataFrame:
    """(id, __dl, term[, __pos]) token stream with the tokenizer evaluated
    ONCE per document.

    The previous idiom — ``regexp_count(text)`` named NEXT TO
    ``explode(tokenize(text))`` in one projection — re-evaluates the
    full-text regex per EMITTED TOKEN ROW: whole-stage codegen defers
    non-generator expressions into the generate loop's consume path, so a
    54-token document pays the regex 54 times (measured: the (doc, term)
    tf aggregate at sf0.1 dropped 5.98s -> 0.55s when this was fixed —
    the dominant cost of every BM25-family corpus pass; optimization
    guide §1.2 "per-task work"). The two-step NAMED-ARRAY projection pins
    one evaluation: the token array materializes in its own Project
    (CollapseProject keeps the split un-duplicated because it is
    non-cheap and referenced twice) and ``__dl = size(array)`` replaces
    the second regex pass outright — identical by the tokenizer contract
    (maximal ``\\S+`` runs == whitespace-split with empties dropped;
    row-for-row equality verified at sf0.1 before the switch).
    """
    from hadoop_gpu_spark.operators.fields import tokenize

    arr = docs.select(id_col, tokenize(text_col).alias("__toks"))
    gen = (
        F.posexplode("__toks").alias("__pos", "term")
        if pos
        else F.explode("__toks").alias("term")
    )
    return arr.select(id_col, F.size("__toks").alias("__dl"), gen)


# --------------------------------------------------------------------------
# The BM25 lattice (Spark side): corpus stats, idf, saturation, ranking
# --------------------------------------------------------------------------


def _corpus_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """1-row (__n, __tt): the corpus' document and token counts. Every
    caller builds the identical plan, so a persisted copy (rerank) is
    substituted by the cache manager wherever this subtree recurs."""
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.regexp_count(F.col(text_col), F.lit(_DL_RE))).cast("long").alias("__tt"),
    )


def _query_term_tf(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    id_col: str,
    text_col: str,
    *tf_aggs: Column,
    pos: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(tf, qterms): per-(doc, query term) aggregates ``tf_aggs`` over the
    token stream pruned to the query terms AT THE SCAN, with ``df``
    riding as a window count (no vocabulary broadcast); ``qterms`` is the
    (qid, term) frame the contributions join to."""
    qt = _query_terms(queries)
    if not qt:
        raise ValueError("queries must contain at least one term")
    terms = sorted({t for _, t in qt})
    toks = _doc_token_stream(docs, id_col, text_col, pos=pos).filter(
        F.col("term").isin(terms)
    )
    tf = toks.groupBy(id_col, "__dl", "term").agg(*tf_aggs)
    with_df = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    qterms = docs.sparkSession.createDataFrame(qt, schema="qid string, term string")
    return with_df, qterms


def _idf9() -> Column:
    """Plus-one BM25 idf ln((N - df + 0.5)/(df + 0.5) + 1) over the
    ``__n``/``df`` columns, rounded at 9 before any multiplication."""
    return F.round(
        F.log(
            ((F.col("__n") - F.col("df")) + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        9,
    )


def _length_norm(b: float) -> Column:
    """BM25 document-length normalization 1 - b + b*dl/avgdl, with
    dl/avgdl spelled (dl * N) / total_tokens in exact-int-valued
    doubles over the ``__dl``/``__n``/``__tt`` columns."""
    dl_over_avgdl = (F.col("__dl").cast("double") * F.col("__n").cast("double")) / F.col(
        "__tt"
    ).cast("double")
    return F.lit(1.0 - b) + F.lit(b) * dl_over_avgdl


def _saturation(tf: Column, k1: float, norm: Column | None = None) -> Column:
    """tf*(k1+1) / (tf + k1*norm). BM25F passes its already
    length-normalized tf and no ``norm`` (denominator tf + k1)."""
    denom = F.lit(float(k1)) if norm is None else F.lit(float(k1)) * norm
    return (tf * F.lit(k1 + 1.0)) / (tf + denom)


def _contrib(idf9: Column, sat: Column) -> Column:
    """Per-(query, doc, term) contribution, round-9'd then exact
    DECIMAL(28,9) so per-document sums are order-independent."""
    return F.round(idf9 * sat, 9).cast("decimal(28,9)")


def _ranked_scores(contrib: DataFrame, id_col: str, top_k: int) -> DataFrame:
    """(qid, id_col, rank, score): sum ``__c`` per (qid, doc), rank on
    the exact decimal sum desc with id ties, report the score as a
    round-6 double."""
    per_doc = contrib.groupBy("qid", id_col).agg(F.sum("__c").alias("__s"))
    return top_k_per_group(
        per_doc, ["qid"], [F.col("__s").desc(), F.col(id_col)], top_k
    ).select(
        "qid",
        id_col,
        "rank",
        F.round(F.col("__s").cast("double"), 6).alias("score"),
    )


# --------------------------------------------------------------------------
# The BM25 lattice (DuckDB side): the same operations, operand order and
# DOUBLE casts as the Spark helpers above
# --------------------------------------------------------------------------


def _sql_toks(text_col: str) -> str:
    return f"list_filter(regexp_split_to_array({text_col}, '\\s+'), x -> x <> '')"


def _stats_sql(table: str, text_col: str) -> str:
    """The ``stats`` CTE: :func:`_corpus_counts` as (n, tt)."""
    return f"""stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len({_sql_toks(text_col)})) AS BIGINT) AS tt
      FROM {table})"""


_IDF9_SQL = """round(ln(((CAST(n AS DOUBLE) - CAST(df AS DOUBLE)) + CAST(0.5 AS DOUBLE))
                   / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                   + CAST(1.0 AS DOUBLE)), 9)"""


def _length_norm_sql(b: float, dl: str) -> str:
    return (
        f"CAST({1.0 - b!r} AS DOUBLE) + CAST({float(b)!r} AS DOUBLE) "
        f"* ((CAST({dl} AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(tt AS DOUBLE))"
    )


def _saturation_sql(tf: str, k1: float, norm: str | None = None) -> str:
    k1_sql = f"CAST({float(k1)!r} AS DOUBLE)"
    denom = k1_sql if norm is None else f"{k1_sql} * ({norm})"
    return f"(({tf} * CAST({k1 + 1.0!r} AS DOUBLE)) / ({tf} + {denom}))"


def _contrib_sql(idf9: str, sat: str) -> str:
    return f"CAST(round({idf9} * {sat}, 9) AS DECIMAL(28,9))"


def _query_terms_in_sql(queries: list[tuple[str, str]]) -> str:
    """The distinct query terms as a SQL IN-list body."""
    return ", ".join(f"'{t}'" for t in sorted({t for _, t in _query_terms(queries)}))


def _query_contrib_sql(queries: list[tuple[str, str]], id_col: str, sat: str) -> str:
    """The ``wdf`` and ``contrib`` CTEs over ``tf`` and ``stats``: df as a
    window count, then each query term's contribution under ``sat`` —
    the SQL half of :func:`_query_term_tf` and :func:`_contrib`."""
    qt_values = ", ".join(f"('{qid}', '{t}')" for qid, t in _query_terms(queries))
    return f"""wdf AS (
      SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
    contrib AS (
      SELECT qid, {id_col}, {_contrib_sql(_IDF9_SQL, sat)} AS c
      FROM wdf
      JOIN (VALUES {qt_values}) AS q(qid, term) USING (term)
      CROSS JOIN stats)"""


def _ranked_tail_sql(id_col: str, top_k: int) -> str:
    """The ``ranked`` CTE over ``contrib(qid, id_col, c)`` plus the final
    SELECT — :func:`_ranked_scores`."""
    return f"""ranked AS (
      SELECT qid, {id_col}, SUM(c) AS s,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY SUM(c) DESC, {id_col})
                  AS BIGINT) AS rank
      FROM contrib GROUP BY qid, {id_col})
    SELECT qid, {id_col}, rank, round(CAST(s AS DOUBLE), 6) AS score
    FROM ranked WHERE rank <= {top_k}
    """


# --------------------------------------------------------------------------
# BM25 (Okapi)
# --------------------------------------------------------------------------


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(qid, doc_id, rank, score): the top_k documents per query under
    Okapi BM25 with idf = ln((N - df + 0.5)/(df + 0.5) + 1) (the
    non-negative "plus one" form) and tf normalization
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), dl/avgdl spelled as
    (dl * N) / total_tokens in exact-int-valued doubles.

    The corpus' doc and token counts come from a broadcast 1-row
    aggregate (second projection-pruned scan, still zero driver
    round-trips — construction never runs a job).

    Ties rank deterministically: exact decimal score desc, then id_col.
    Documents sharing no term with a query simply never rank; a query
    whose terms are all absent from the corpus yields no rows.
    """
    tf, qterms = _query_term_tf(
        docs, queries, id_col, text_col, F.count(F.lit(1)).alias("tf")
    )
    stats = _corpus_counts(docs, text_col)
    contrib = tf.crossJoin(F.broadcast(stats)).withColumn(
        "__c", _contrib(_idf9(), _saturation(F.col("tf"), k1, _length_norm(b)))
    )
    # unhinted qterms join: AQE broadcasts the tiny side
    return _ranked_scores(contrib.join(qterms, "term"), id_col, top_k)


def bm25_topk_sql(
    table: str,
    queries: list[tuple[str, str]],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin (oracle generator): identical lattice of operations —
    same tokenizer spelling, same round-then-multiply idf discipline,
    same decimal accumulation, same double-cast points. Deliberately
    naive CTE SQL (auditability over shuffle count — the funnel_sql
    stance). Corpus stats are CTE scalars; they equal the Spark side's
    in-plan aggregate by construction, and every arithmetic step is
    spelled with the same operand order and explicit DOUBLE casts."""
    toks = _sql_toks(text_col)
    sat = _saturation_sql("CAST(tf AS DOUBLE)", k1, _length_norm_sql(b, "dl"))
    return f"""
    WITH {_stats_sql(table, text_col)},
    tf AS (
      SELECT {id_col}, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (
        SELECT {id_col}, len({toks}) AS dl, unnest({toks}) AS term
        FROM {table})
      WHERE term IN ({_query_terms_in_sql(queries)})
      GROUP BY {id_col}, dl, term),
    {_query_contrib_sql(queries, id_col, sat)},
    {_ranked_tail_sql(id_col, top_k)}"""


# --------------------------------------------------------------------------
# BM25F — multi-field BM25 (Robertson, Zaragoza & Taylor, CIKM 2004)
# --------------------------------------------------------------------------


def bm25f_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    *,
    title_len: int = 8,
    w_title: float = 2.0,
    w_body: float = 1.0,
    b_title: float = 0.5,
    b_body: float = 0.75,
    k1: float = 1.2,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multi-field BM25 ("simple BM25F", Robertson/Zaragoza/Taylor 2004;
    the scoring Lucene/Elasticsearch expose as per-field boosts with
    per-field length normalization): documents are split into a TITLE
    field (the first ``title_len`` whitespace tokens — a deterministic,
    engine-portable field boundary; real corpora carry the boundary as
    a schema column and the lattice is unchanged) and a BODY field (the
    rest). Per field f: the soft-normalized term frequency
    ``tf~_f = tf_f / (1 + b_f * (len_f/avglen_f - 1))``; the weighted
    combination ``tfc = w_title*tf~_title + w_body*tf~_body`` feeds ONE
    shared saturation ``idf * tfc*(k1+1)/(tfc + k1)`` — boosting a
    field scales its term occurrences BEFORE saturation, which is
    BM25F's whole point over naively summing per-field BM25 scores
    (a term filling the title saturates like a term filling the body;
    the 2004 paper's argument against score-level combination). idf is
    DOC-level (a doc containing the term in any field counts toward
    df), the same plus-one round-9 form as :func:`bm25_topk`.

    Exact algebraic anchor (test-pinned): with ``b_title = b_body = 0``
    and ``w_title = w_body = 1``, tfc degenerates to the doc-level tf
    and the gate equals :func:`bm25_topk` with ``b = 0`` row-for-row.

    100 TB shape = bm25_topk's: query terms prune the posexploded token
    stream AT THE SCAN; per-field tfs are conditional aggregates of the
    same pass (no second tokenize); df rides the tf frame as a window
    count; the 1-row (N, total_title, total_body) stats aggregate
    broadcasts; text never shuffles.

    Determinism: every denominator is the same left-to-right IEEE
    sequence in both engines (len_f/avglen_f spelled (len_f*N)/total_f
    on exact-int-valued doubles); per-term contributions round-9 then
    accumulate as DECIMAL(28,9); ties rank on (score desc, id). A
    zero-token field corpus-wide (total_f = 0) contributes 0 via an
    explicit CASE guard rather than raising under ANSI division.
    """
    tf, qterms = _query_term_tf(
        docs,
        queries,
        id_col,
        text_col,
        F.sum(F.when(F.col("__pos") < title_len, 1).otherwise(0)).cast("long").alias("tf_t"),
        F.sum(F.when(F.col("__pos") >= title_len, 1).otherwise(0)).cast("long").alias("tf_b"),
        pos=True,
    )
    len_t = F.least(F.col("__dl"), F.lit(title_len)).cast("double")
    stats = docs.select(
        F.regexp_count(F.col(text_col), F.lit(_DL_RE)).alias("__dl")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.least(F.col("__dl"), F.lit(title_len))).cast("long").alias("__tt_t"),
        F.sum(F.col("__dl") - F.least(F.col("__dl"), F.lit(title_len)))
        .cast("long")
        .alias("__tt_b"),
    )

    def norm_tf(tf_col: str, flen, total_col: str, b_f: float, w_f: float):
        denom = F.lit(1.0) + F.lit(float(b_f)) * (
            (flen * F.col("__n").cast("double")) / F.col(total_col).cast("double")
            - F.lit(1.0)
        )
        return F.when(F.col(total_col) == 0, F.lit(0.0)).otherwise(
            F.lit(float(w_f)) * (F.col(tf_col).cast("double") / denom)
        )

    tfc = norm_tf("tf_t", len_t, "__tt_t", b_title, w_title) + norm_tf(
        "tf_b", F.col("__dl").cast("double") - len_t, "__tt_b", b_body, w_body
    )
    contrib = tf.crossJoin(F.broadcast(stats)).withColumn(
        "__c", _contrib(_idf9(), _saturation(tfc, k1))
    )
    return _ranked_scores(contrib.join(qterms, "term"), id_col, top_k)


def bm25f_topk_sql(
    table: str,
    queries: list[tuple[str, str]],
    *,
    title_len: int = 8,
    w_title: float = 2.0,
    w_body: float = 1.0,
    b_title: float = 0.5,
    b_body: float = 0.75,
    k1: float = 1.2,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bm25f_topk` — identical lattice: same
    tokenizer spelling with 1-based parallel-unnest positions (title is
    ``pos <= title_len`` here vs Spark's 0-based ``pos < title_len`` —
    both select exactly the first title_len tokens), same conditional
    per-field tf aggregates, same
    (len_f*N)/total_f denominators with explicit DOUBLE casts and
    operand order, same zero-total CASE guards, same round-9/decimal
    accumulation and (score desc, id) ranking."""
    toks = _sql_toks(text_col)

    def norm_sql(tf_col: str, flen: str, total: str, b_f: float, w_f: float) -> str:
        denom = (
            f"(CAST(1.0 AS DOUBLE) + CAST({b_f!r} AS DOUBLE) * "
            f"((({flen} * CAST(n AS DOUBLE)) / CAST({total} AS DOUBLE)) "
            f"- CAST(1.0 AS DOUBLE)))"
        )
        return (
            f"(CASE WHEN {total} = 0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE CAST({w_f!r} AS DOUBLE) * (CAST({tf_col} AS DOUBLE) / {denom}) END)"
        )

    len_t = f"CAST(least(dl, {title_len}) AS DOUBLE)"
    len_b = f"(CAST(dl AS DOUBLE) - CAST(least(dl, {title_len}) AS DOUBLE))"
    tfc = (
        norm_sql("tf_t", len_t, "tt_t", float(b_title), float(w_title))
        + " + "
        + norm_sql("tf_b", len_b, "tt_b", float(b_body), float(w_body))
    )
    return f"""
    WITH stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(least(len({toks}), {title_len})) AS BIGINT) AS tt_t,
             CAST(SUM(len({toks}) - least(len({toks}), {title_len})) AS BIGINT) AS tt_b
      FROM {table}),
    tf AS (
      SELECT {id_col}, dl, term,
             CAST(SUM(CASE WHEN pos <= {title_len} THEN 1 ELSE 0 END) AS BIGINT) AS tf_t,
             CAST(SUM(CASE WHEN pos > {title_len} THEN 1 ELSE 0 END) AS BIGINT) AS tf_b
      FROM (
        SELECT {id_col}, len({toks}) AS dl,
               unnest({toks}) AS term,
               unnest(range(1, len({toks}) + 1)) AS pos
        FROM {table})
      WHERE term IN ({_query_terms_in_sql(queries)})
      GROUP BY {id_col}, dl, term),
    {_query_contrib_sql(queries, id_col, _saturation_sql(f"({tfc})", k1))},
    {_ranked_tail_sql(id_col, top_k)}"""


# --------------------------------------------------------------------------
# Two-stage retrieve-then-rerank
# --------------------------------------------------------------------------


def rerank_tfidf_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    *,
    stage1_k: int = 20,
    top_k: int = 5,
    idf_scale: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Two-stage ranked retrieval — the shape every production search/RAG
    stack runs: a CHEAP recall stage (BM25 top ``stage1_k`` per query,
    :func:`bm25_topk`) prunes the corpus to a bounded candidate set, then
    an EXPENSIVE precision stage re-scores candidates only — here exact
    word-unigram TF-IDF cosine between query and document on the
    integer-idf lattice proven portable by ``similarity/sparse.py``
    (``idf_u = round(ln(N/df) * idf_scale)`` BIGINT — round at scale 0,
    the portable rounding; weights/dots/norms exact BIGINT; cosine =
    one int64→double conversion per operand then sqrt/mult/div, all in
    the fuzz-pinned exactly-equal set, NO round(double, d) anywhere).

    Output: (qid, doc_id, bm25_rank, cosine, rank) — rank = rerank
    position by (cosine desc, doc_id), top_k rows per query; bm25_rank
    rides along so rank movement is visible.

    100 TB shape: stage 1 is bm25_topk's shape (query terms prune at
    the scan, corpus text never shuffles). Stage 2's candidate-bound
    work is per-(candidate-doc) — the candidate docs are left-semi
    pruned BEFORE tokenization, so norms and dots tokenize only
    |queries| x stage1_k documents, never the corpus. The one
    corpus-sized stage-2 aggregate is df-per-term (TF-IDF's
    definitional corpus statistic): one partial-aggregated
    (doc, term)-distinct pass, vocab-sized output, exactly the stats a
    deployment maintains as a table.

    Shared-subtree hygiene: the frames read from more
    than one plan branch — the stage-1 candidate set (fed by bm25's two
    corpus passes; consumed by the prune AND the final score join) and
    the idf lattice (fed by the df-per-term pass; consumed by document
    AND query weights) — are ``eager_persist``-ed, so each corpus pass
    plans exactly once instead of once per consumer (the unpersisted
    form planned 16 parquet scans at sf0.01). Both frames are bounded:
    candidates by |queries| x stage1_k rows, idf by the vocabulary
    (Heaps' law), so the cache is model-sized at any corpus scale and
    correctness never depends on it (eviction degrades to recompute).

    Degenerate guards: a candidate pair with no idf-weighted overlap
    scores cosine 0.0 (kept — stage 1 ranked it, stage 2 reports the
    exact rescore); an all-idf-0 document (every term in every doc)
    has norm2 = 0 and scores 0.0 by CASE, never a divide-by-zero
    (ANSI mode raises — the r06 lesson).
    """
    from hadoop_gpu_spark.operators.fields import tokenize
    from hadoop_gpu_spark.utils import eager_persist

    # 1-row (__n, __tt) corpus stats, persisted BEFORE stage 1 runs: the
    # plan is the stats subtree bm25_topk builds internally
    # (_corpus_counts), so Spark's cache manager substitutes the cached
    # relation inside the stage-1 plan too — the corpus-stats scan runs
    # ONCE per invocation instead of twice (stage 1 + stage 2's doc count).
    stats = eager_persist(_corpus_counts(docs, text_col))

    cand = eager_persist(
        bm25_topk(
            docs,
            queries,
            top_k=stage1_k,
            id_col=id_col,
            text_col=text_col,
        ).select("qid", id_col, F.col("rank").alias("bm25_rank"))
    )

    spark = docs.sparkSession
    qterms = spark.createDataFrame(
        _query_tf_counts(queries), schema="qid string, term string, tfq long"
    )

    # Candidate-document term frequencies, persisted (bounded by
    # |queries| x stage1_k docs x terms-per-doc): read by the candidate
    # weights below AND by the vocabulary filter that prunes the
    # df-per-term pass.
    cdocs = cand.select(id_col).distinct()
    ctf = eager_persist(
        docs.join(cdocs, id_col, "left_semi")
        .select(id_col, F.explode(tokenize(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )

    # df-per-term, restricted to the terms that can matter: candidate-doc
    # terms (document weights/norms) plus the literal query terms (query
    # weights/norms). Filter-before-aggregate is exact — df(t) counts the
    # docs containing t and dropping other terms' rows cannot change it —
    # and bounds the aggregate input by the candidate vocabulary's posting
    # lists instead of the corpus' full (doc, term) pair count (guide
    # §2.3). The vocab frame is bounded by
    # |candidate docs| x terms-per-doc + |query terms|.
    vocab = ctf.select("term").union(qterms.select("term")).distinct()
    df_t = (
        docs.select(id_col, F.explode(tokenize(text_col)).alias("term"))
        .join(F.broadcast(vocab), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    # The 1-row doc count rides the persisted stats shared with stage 1.
    idf = eager_persist(
        df_t.crossJoin(F.broadcast(stats.select("__n"))).select(
            "term",
            F.round(
                F.log(F.col("__n").cast("double") / F.col("df").cast("double"))
                * F.lit(int(idf_scale)),
                0,
            )
            .cast("long")
            .alias("idf_u"),
        )
    )

    # cw derives from two persisted bounded frames (ctf join idf) — cheap
    # to recompute per consumer (norms + dots), so it is not persisted
    # itself.
    cw = (
        ctf.join(idf, "term")
        .select(id_col, "term", (F.col("tf") * F.col("idf_u")).alias("w"))
        .filter(F.col("w") > 0)
    )
    nd = cw.groupBy(id_col).agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("__nd2")
    )
    qw = (
        qterms.join(idf, "term")
        .select("qid", "term", (F.col("tfq") * F.col("idf_u")).alias("wq"))
        .filter(F.col("wq") > 0)
    )
    nq = qw.groupBy("qid").agg(
        F.sum(F.col("wq") * F.col("wq")).cast("long").alias("__nq2")
    )

    dots = (
        qw.join(cw, "term")
        .groupBy("qid", id_col)
        .agg(F.sum(F.col("wq") * F.col("w")).cast("long").alias("__dot"))
    )
    scored = (
        cand.join(dots, ["qid", id_col], "left")
        .join(nd, id_col, "left")
        .join(nq, "qid", "left")
        .withColumn(
            "cosine",
            F.when(
                (F.col("__nd2") > 0) & (F.col("__nq2") > 0) & F.col("__dot").isNotNull(),
                F.col("__dot").cast("double")
                / (
                    F.sqrt(F.col("__nd2").cast("double"))
                    * F.sqrt(F.col("__nq2").cast("double"))
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
    return top_k_per_group(
        scored, ["qid"], [F.col("cosine").desc(), F.col(id_col)], top_k
    ).select("qid", id_col, "bm25_rank", "cosine", "rank")


def morelikethis_topk(
    docs: DataFrame,
    *,
    n_seeds: int = 8,
    max_query_terms: int = 8,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Related-document retrieval — the Lucene ``MoreLikeThis`` shape
    (the reference's Lucene index contrib, ``H/src/contrib/index/``, is
    this engine's retrieval north-star): each SEED document (id_col <
    ``n_seeds``) becomes a query whose terms are the seed's own top
    ``max_query_terms`` terms by tf·idf (MLT's maxQueryTerms cap), and
    the corpus is ranked for those terms under the exact Okapi BM25
    lattice of :func:`bm25_topk` (same plus-one idf rounded at 9 before
    any multiplication, same DECIMAL(28,9) accumulation, same
    (score desc, id) ties). Output: (qid, id_col, rank, score), seed
    itself excluded.

    100 TB shape: the term cap is the scale lever — MLT keeps only the
    seed's HIGHEST-idf (rarest) terms, so the candidate set is bounded
    by the sum of those terms' document frequencies, not by the corpus
    (querying on stopwords would touch every document; querying on the
    8 rarest terms touches ~8·df docs). Corpus-sized passes: one
    (doc, term) tf pass feeding df-per-term (TF-IDF/BM25's definitional
    statistic — the stats a deployment maintains as a table) and one
    candidate-match pass; the seed tokenization pushes ``id <
    n_seeds`` below the tokenize so it scans seed rows only. Bounded
    frames (idf lattice: vocab-sized by Heaps' law; the seed term
    selection: n_seeds × max_query_terms rows) are eager-persisted per
    the rerank shared-subtree hygiene; nothing corpus-sized persists.

    Determinism: seed-term ranking orders by tf·idf9 — a BIGINT×double
    product of engine-identical operands (idf9 is round-9'd before use)
    — with term-string ties; both engines agree bit-for-bit.

    Term-selection knobs (the remaining Lucene MoreLikeThis surface —
    minTermFreq / minDocFreq / maxDocFreq): a term is eligible as a
    query term only if its frequency IN THE SEED doc is >=
    ``min_term_freq``, its document frequency is >= ``min_doc_freq``,
    and (when ``max_doc_freq`` is set) its df is <= ``max_doc_freq``.
    Filters apply BEFORE the ``max_query_terms`` cap, exactly as
    Lucene's interesting-terms priority queue skips ineligible terms.
    At scale these knobs tighten the same lever the cap pulls:
    ``min_doc_freq`` drops hapax noise, ``max_doc_freq`` bounds the
    worst-case candidate fanout at ``max_query_terms * max_doc_freq``
    rows per seed — a HARD cap a deployment can size memory against.
    The defaults (1, 1, None) select every seed term (each has tf >= 1
    and df >= 1).
    """
    from hadoop_gpu_spark.operators.fields import tokenize
    from hadoop_gpu_spark.utils import eager_persist

    # Corpus token stream, tokenizer evaluated once per document (see
    # _doc_token_stream — the old regexp_count-next-to-explode form paid
    # the full-text regex per token row, ~10x this operator's corpus-pass
    # cost). Read by the df-per-term pass and the candidate pass; each
    # pass prunes it by a BOUNDED broadcast term set BEFORE aggregating,
    # so nothing full-vocabulary-sized ever enters a shuffle (guide §2.3
    # "aggregate before you shuffle" + "project before the exchange").
    toks = _doc_token_stream(docs, id_col, text_col)

    # Seed term frequencies first: their distinct terms bound BOTH corpus
    # aggregates below. Persisted — bounded by n_seeds documents' vocab —
    # and read twice (vocab filter + selection ranking).
    seed_tf = eager_persist(
        docs.filter(F.col(id_col) < n_seeds)
        .select(id_col, F.explode(tokenize(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tfq"))
    )
    seed_vocab = seed_tf.select("term").distinct()

    # df-per-term restricted to SEED-VOCAB terms: filter-before-aggregate
    # is exact — df(t) counts the docs containing t, and dropping other
    # terms' token rows cannot change it — and bounds the aggregate input
    # by the seed terms' total occurrences instead of the corpus' full
    # (doc, term) pair count. Only seed-vocab terms can ever be selected
    # as query terms, so no downstream consumer needs any other idf row.
    df_t = (
        toks.join(F.broadcast(seed_vocab), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    # 1-row corpus stats, persisted so the (N, total-tokens) scan runs
    # once for the idf lattice build and the runtime scoring crossJoin.
    stats = eager_persist(_corpus_counts(docs, text_col))
    # The persisted idf lattice (seed-vocab-sized) carries df for the
    # doc-frequency knobs.
    idf = eager_persist(
        df_t.crossJoin(F.broadcast(stats)).select("term", "df", _idf9().alias("idf9"))
    )

    # Seed term selection: rank the seed's own eligible terms by tf·idf9
    # (idf covers every seed term by construction of the vocab filter).
    sel_src = seed_tf.join(idf, "term").filter(
        (F.col("tfq") >= min_term_freq) & (F.col("df") >= min_doc_freq)
    )
    if max_doc_freq is not None:
        sel_src = sel_src.filter(F.col("df") <= max_doc_freq)
    qsel = eager_persist(
        top_k_per_group(
            sel_src,
            [id_col],
            [(F.col("tfq") * F.col("idf9")).desc(), F.col("term").asc()],
            max_query_terms,
        ).select(F.col(id_col).alias("qid"), "term")
    )

    # Candidate match + BM25 scoring (bm25_topk's lattice). The
    # broadcast qsel join lands BELOW the tf aggregate: only occurrences
    # of the <= n_seeds x max_query_terms selected terms enter the
    # groupBy (tf per (qid, doc, term) is the term's full in-doc count
    # either way — the join duplicates token rows per selecting seed,
    # never drops or adds occurrences), so the candidate aggregate is
    # bounded by the selected terms' posting lists at any corpus scale.
    cand = (
        toks.join(F.broadcast(qsel), "term")
        .filter(F.col(id_col) != F.col("qid"))
        .groupBy("qid", id_col, "__dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .join(idf, "term")
        .crossJoin(F.broadcast(stats))
    )
    contrib = cand.withColumn(
        "__c", _contrib(F.col("idf9"), _saturation(F.col("tf"), k1, _length_norm(b)))
    )
    return _ranked_scores(contrib, id_col, top_k)


def morelikethis_sql(
    table: str,
    *,
    n_seeds: int = 8,
    max_query_terms: int = 8,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    max_doc_freq: int | None = None,
) -> str:
    """DuckDB twin of :func:`morelikethis_topk` — identical lattice:
    same tokenizer spelling, same plus-one idf round-9 discipline, same
    eligibility filters and tf·idf9 seed-term ranking with term ties,
    same decimal contrib accumulation and (score desc, id) ranking."""
    toks = _sql_toks(text_col)
    eligible = f"s.tfq >= {min_term_freq} AND d.df >= {min_doc_freq}"
    if max_doc_freq is not None:
        eligible += f" AND d.df <= {max_doc_freq}"
    sat = _saturation_sql("CAST(p.tf AS DOUBLE)", k1, _length_norm_sql(b, "p.dl"))
    return f"""
    WITH {_stats_sql(table, text_col)},
    pairs AS (
      SELECT {id_col}, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (
        SELECT {id_col}, len({toks}) AS dl, unnest({toks}) AS term
        FROM {table})
      GROUP BY {id_col}, dl, term),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pairs GROUP BY term),
    idf AS (
      SELECT term, {_IDF9_SQL} AS idf9
      FROM dft CROSS JOIN stats),
    seed_tf AS (
      SELECT {id_col}, term, CAST(COUNT(*) AS BIGINT) AS tfq
      FROM (SELECT {id_col}, unnest({toks}) AS term FROM {table}
            WHERE {id_col} < {n_seeds})
      GROUP BY {id_col}, term),
    qsel AS (
      SELECT qid, term FROM (
        SELECT s.{id_col} AS qid, s.term,
               ROW_NUMBER() OVER (PARTITION BY s.{id_col}
                   ORDER BY CAST(s.tfq AS DOUBLE) * i.idf9 DESC, s.term ASC) AS r
        FROM seed_tf s JOIN idf i USING (term) JOIN dft d USING (term)
        WHERE {eligible})
      WHERE r <= {max_query_terms}),
    contrib AS (
      SELECT q.qid, p.{id_col}, {_contrib_sql("i.idf9", sat)} AS c
      FROM pairs p
      JOIN qsel q USING (term)
      JOIN idf i USING (term)
      CROSS JOIN stats
      WHERE p.{id_col} <> q.qid),
    {_ranked_tail_sql(id_col, top_k)}"""


def rrf_fuse(
    lists: dict[str, DataFrame],
    *,
    c: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    standard hybrid-retrieval combiner (Elasticsearch/OpenSearch/Vespa
    all ship exactly this): given named ranked lists (qid, nid, rank),
    score every (qid, nid) as the fixed-order sum over lists of
    1/(c + rank), 0 where absent, and re-rank. Output: (qid, nid,
    rank_<name>... with 0 = absent, rrf, rank).

    Scale shape: inputs are already top-k lists — |queries| × k rows
    each — so the fusion is a full-outer join chain + window over
    bounded frames; nothing here ever touches the corpus. Determinism:
    1/(c+rank) is one IEEE division of exact-int-valued doubles and the
    sum is a fixed-order (sorted list-name) chain of adds — bit-equal
    in both engines; ties rank on (rrf desc, nid asc). Absent ranks
    surface as 0 (ranks are 1-based) rather than NULL so the column
    stays BIGINT in both engines (the HUGEINT/float64-null dtype
    class)."""
    from functools import reduce as _reduce

    names = sorted(lists)
    if not names:
        raise ValueError("rrf_fuse needs at least one ranked list")
    joined = None
    for nm in names:
        d = lists[nm].select(
            "qid", "nid", F.col("rank").cast("long").alias(f"rank_{nm}")
        )
        joined = d if joined is None else joined.join(
            d, ["qid", "nid"], "full_outer"
        )
    terms = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(c)) + F.col(f"rank_{nm}").cast("double")),
            F.lit(0.0),
        )
        for nm in names
    ]
    score = _reduce(lambda a, b: a + b, terms)
    return top_k_per_group(
        joined.withColumn("__rrf", score),
        ["qid"],
        [F.col("__rrf").desc(), F.col("nid").asc()],
        top_k,
    ).select(
        "qid",
        "nid",
        *[
            F.coalesce(F.col(f"rank_{nm}"), F.lit(0).cast("long")).alias(f"rank_{nm}")
            for nm in names
        ],
        F.round(F.col("__rrf"), 9).alias("rrf"),
        "rank",
    )


def rrf_fuse_sql(
    lists: dict[str, str],
    *,
    c: int = 60,
    top_k: int = 10,
) -> str:
    """DuckDB twin of :func:`rrf_fuse`: each value in ``lists`` is a SQL
    subquery yielding (qid, nid, rank); the fusion chains FULL JOINs
    with explicit COALESCE'd keys (not USING — spelled out so the
    coalescing semantics are visible and engine-independent), the same
    fixed-order 1/(c+rank) sum, the same (rrf desc, nid) ties, and the
    same 0-for-absent BIGINT ranks."""
    names = sorted(lists)
    ctes = [f"l_{nm} AS ({sql})" for nm, sql in lists.items()]
    ctes += [
        f"n_{nm} AS (SELECT qid, nid, rank AS rank_{nm} FROM l_{nm})"
        for nm in names
    ]
    # Chain: f_i = f_{i-1} FULL JOIN n_i with coalesced keys.
    prev = f"n_{names[0]}"
    for i, nm in enumerate(names[1:], start=2):
        kept = ", ".join(f"p.rank_{n}" for n in names[: i - 1])
        ctes.append(
            f"""f_{i} AS (
      SELECT COALESCE(p.qid, q.qid) AS qid, COALESCE(p.nid, q.nid) AS nid,
             {kept}, q.rank_{nm}
      FROM {prev} p FULL JOIN n_{nm} q ON p.qid = q.qid AND p.nid = q.nid)"""
        )
        prev = f"f_{i}"
    prev_sel = f"SELECT * FROM {prev}"
    rrf = " + ".join(
        f"COALESCE(CAST(1.0 AS DOUBLE) / (CAST({float(c)!r} AS DOUBLE) "
        f"+ CAST(rank_{nm} AS DOUBLE)), CAST(0.0 AS DOUBLE))"
        for nm in names
    )
    rank_outs = ", ".join(
        f"CAST(COALESCE(rank_{nm}, 0) AS BIGINT) AS rank_{nm}" for nm in names
    )
    return f"""
    WITH {', '.join(ctes)},
    unioned AS ({prev_sel}),
    scored AS (SELECT qid, nid, {rank_outs}, {rrf} AS rrf FROM unioned),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY rrf DESC, nid ASC) AS BIGINT) AS rank
      FROM scored)
    SELECT qid, nid, {', '.join(f'rank_{nm}' for nm in names)},
           round(rrf, 9) AS rrf, rank
    FROM ranked WHERE rank <= {top_k}
    """


def rerank_tfidf_topk_sql(
    table: str,
    queries: list[tuple[str, str]],
    *,
    stage1_k: int = 20,
    top_k: int = 5,
    idf_scale: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`rerank_tfidf_topk` — the bm25_topk_sql CTE
    lattice as stage 1, then the identical integer-idf TF-IDF cosine:
    same round-at-scale-0 idf, same BIGINT weights/norms/dots, same
    int64→double/sqrt/mult/div cosine with the same CASE guards, same
    (cosine desc, id) rerank ties."""
    stage1 = bm25_topk_sql(
        table, queries, top_k=stage1_k, id_col=id_col, text_col=text_col
    )
    q_values = ", ".join(
        f"('{q}', '{t}', CAST({c} AS BIGINT))" for q, t, c in _query_tf_counts(queries)
    )
    toks = _sql_toks(text_col)
    return f"""
    WITH cand AS (
      SELECT qid, {id_col}, rank AS bm25_rank FROM ({stage1})),
    pairs AS (
      SELECT {id_col}, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT {id_col}, unnest({toks}) AS term FROM {table})
      GROUP BY {id_col}, term),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pairs GROUP BY term),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {table}),
    idf AS (
      SELECT term,
             CAST(round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
                        * CAST({int(idf_scale)} AS DOUBLE), 0) AS BIGINT) AS idf_u
      FROM dft CROSS JOIN nn),
    cw AS (
      SELECT p.{id_col}, p.term, p.tf * i.idf_u AS w
      FROM pairs p JOIN idf i USING (term)
      WHERE p.{id_col} IN (SELECT {id_col} FROM cand) AND p.tf * i.idf_u > 0),
    nd AS (SELECT {id_col}, CAST(SUM(w * w) AS BIGINT) AS nd2 FROM cw GROUP BY {id_col}),
    qw AS (
      SELECT q.qid, q.term, q.tfq * i.idf_u AS wq
      FROM (VALUES {q_values}) AS q(qid, term, tfq)
      JOIN idf i USING (term)
      WHERE q.tfq * i.idf_u > 0),
    nq AS (SELECT qid, CAST(SUM(wq * wq) AS BIGINT) AS nq2 FROM qw GROUP BY qid),
    dots AS (
      SELECT qw.qid, cw.{id_col}, CAST(SUM(qw.wq * cw.w) AS BIGINT) AS dot
      FROM qw JOIN cw ON qw.term = cw.term
      GROUP BY qw.qid, cw.{id_col}),
    scored AS (
      SELECT c.qid, c.{id_col}, c.bm25_rank,
             CASE WHEN nd.nd2 > 0 AND nq.nq2 > 0 AND dots.dot IS NOT NULL
                  THEN CAST(dots.dot AS DOUBLE)
                       / (sqrt(CAST(nd.nd2 AS DOUBLE)) * sqrt(CAST(nq.nq2 AS DOUBLE)))
                  ELSE CAST(0.0 AS DOUBLE) END AS cosine
      FROM cand c
      LEFT JOIN dots ON dots.qid = c.qid AND dots.{id_col} = c.{id_col}
      LEFT JOIN nd ON nd.{id_col} = c.{id_col}
      LEFT JOIN nq ON nq.qid = c.qid),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY cosine DESC, {id_col}) AS BIGINT) AS rank
      FROM scored)
    SELECT qid, {id_col}, bm25_rank, cosine, rank
    FROM ranked WHERE rank <= {top_k}
    """
