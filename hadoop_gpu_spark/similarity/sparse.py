"""Sparse all-pairs document similarity (hashed TF-IDF cosine).

The sparse complement of the dense embedding stack (`similarity/ann.py`
brute/IVF/LSH, `dedup/semantic.py`): exact cosine similarity over
feature-hashed TF-IDF vectors of word n-grams, for every document pair
above a threshold — the all-pairs similarity join (Bayardo et al. 2007,
"Scaling Up All Pairs Similarity Search") expressed as an inverted-index
self-join. Reference analog: the data_join package's shared-key
reduce-side join (D/DataJoinReducerBase.java) generalized from equality
keys to shared-feature scoring; beyond-reference, LLM-pipeline surface
(the near-dup / template-detection pass that needs SCORES, where
MinHash/SimHash give booleans and Jaccard needs candidate pairs first).

Semantics (declared, engine-exact end to end):
- terms are word ``n``-grams of the whitespace tokenizer (the
  dedup.ngram spelling), NON-distinct (tf counts), feature-hashed with
  ``hash_u32`` — md5, bit-identical in Spark/DuckDB/hashlib; hash
  collisions merge features deterministically on both engines (the
  standard hashing trick; at 2^32 features, negligible),
- document frequency is counted in hashed-feature space and features
  with ``df > max_df`` are dropped BEFORE weighting (feature selection:
  boilerplate/stop n-grams carry no discrimination and are exactly the
  features whose posting lists explode the self-join — the prefix-
  filter idea made declarative),
- idf is quantized to an integer lattice: ``idf_u = round(ln(N / df) *
  idf_scale)`` as BIGINT (round at scale 0 — the PORTABLE rounding:
  both engines round halves away from zero; no round(double, d>0)
  anywhere). The df domain is tiny (``[1, max_df]``), so idf parity is
  verified exhaustively by test, the HLL linear-counting stance,
- weight ``w = tf * idf_u`` (exact BIGINT), keeping only ``w > 0``
  (an idf-0 feature — df == N when ``max_df >= N`` — contributes
  nothing to dot or norms but can zero a document's norm entirely and
  0/0 the pair score; found by the twin fuzz, fixed on both engines);
  ``norm2 = SUM(w^2)`` per doc and ``dot = SUM(w_a * w_b)`` per pair
  are exact BIGINTs,
- ``cos = dot / (sqrt(norm2_a) * sqrt(norm2_b))`` — int64→double
  conversions, sqrt, multiply, divide: each a single correctly-rounded
  IEEE op on identical inputs, hence bit-identical across engines
  (sqrt is in the fuzz-pinned exactly-equal set;
  tests/test_differential_fuzz.py).

Overflow bound (documented contract): with T = max tf, L = max
features/doc, the largest intermediate is ``norm2 ≤ L * (T * idf_max)^2``
where ``idf_max = ln(N) * idf_scale``. At idf_scale=1000 and N=1e8 docs
(idf_max ≈ 18,421), T=100, L=10,000: norm2 ≈ 3.4e16 — inside BIGINT
with three orders of headroom. idf_scale=1000 (millinat lattice) is the
deliberate precision/headroom trade, same family as pq_train's 1e6
input lattice.

100 TB shape: document text never shuffles — grams hash at the scan and
only ``(doc_id, g_h, w, norm2)`` posting rows move. The posting frame
is ``eager_persist``-ed so the self-join's two branches read ONE
materialization (the dual-branch-recompute class, pre-empted at build
time — the semantic_dedup precedent; released via
session.release in bench/pytest teardown). Per-feature
join fan-out is bounded by ``max_df^2`` BY CONSTRUCTION (the df filter
runs before the join), so the pair stream is ≤ |features| * max_df^2
regardless of corpus size; skew cannot exceed the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_gpu_spark.functions.hashing import hash_u32, hash_u32_sql
from hadoop_gpu_spark.operators.fields import tokenize

_SQL_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"


def _check(tau: float, max_df: int, n: int, idf_scale: int) -> None:
    if not (0.0 < tau <= 1.0):
        raise ValueError("tau must be in (0, 1]")
    if max_df < 2:
        raise ValueError("max_df must be >= 2 (df=1 features pair with nothing)")
    if n < 1 or idf_scale < 1:
        raise ValueError("n and idf_scale must be >= 1")


def _grams(text_col: str, n: int):
    """NON-distinct word n-grams — token_ngrams (dedup.ngram) without
    the distinct: tf semantics need multiplicity.

    The token array is BOUND once per row (the queries._bind_once
    idiom): higher-order-function lambdas run interpreted with no
    common-subexpression elimination, so referencing ``tokenize(text)``
    inside the position lambda re-splits the document once per n-gram
    position — measured 6.0 s for the bare sf0.1 gram explode before
    binding (r16; guide §1.2 per-task work)."""

    def build(toks):
        cnt = F.greatest(F.size(toks) - n + 1, F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )

    return F.transform(F.array(tokenize(text_col)), build)[0]


def sparse_allpairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau: float = 0.5,
    max_df: int = 8,
    n: int = 3,
    idf_scale: int = 1000,
) -> DataFrame:
    """All document pairs with hashed-TF-IDF cosine ≥ ``tau``:
    ``(doc_a, doc_b, n_shared, cos)``, doc_a < doc_b. One corpus scan;
    see the module docstring for the exactness and scale contracts."""
    from hadoop_gpu_spark.utils import eager_persist

    _check(tau, max_df, n, idf_scale)
    base = docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("text"))
    n_docs = float(base.count())  # 1-value driver literal (the tfidf pattern)
    g = (
        base.select("__id", F.explode(_grams("text", n)).alias("gram"))
        .filter(F.col("gram") != "")
        .select("__id", hash_u32("gram").alias("g_h"))
    )
    tf = g.groupBy("__id", "g_h").agg(F.count(F.lit(1)).alias("tf"))
    dfx = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("g_h")))
    idf_u = (
        F.round(F.log(F.lit(n_docs) / F.col("df").cast("double")) * F.lit(float(idf_scale)))
        .cast("long")
    )
    # w > 0 also drops idf-0 features (df == N when max_df >= N): they
    # contribute nothing to dot or norms, and keeping them can zero a
    # document's norm entirely -> 0/0 at pair scoring (ANSI raises).
    wts = (
        dfx.filter(F.col("df") <= max_df)
        .select("__id", "g_h", (F.col("tf") * idf_u).alias("w"))
        .filter(F.col("w") > 0)
    )
    posts = eager_persist(
        wts.withColumn(
            "norm2", F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("__id"))
        )
    )
    a = posts.select(
        F.col("__id").alias("doc_a"),
        F.col("g_h"),
        F.col("w").alias("wa"),
        F.col("norm2").alias("na2"),
    )
    b = posts.select(
        F.col("__id").alias("doc_b"),
        F.col("g_h"),
        F.col("w").alias("wb"),
        F.col("norm2").alias("nb2"),
    )
    pairs = (
        a.join(b, "g_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot_u"),
            F.max("na2").cast("long").alias("na2"),
            F.max("nb2").cast("long").alias("nb2"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    cos = F.col("dot_u").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        pairs.withColumn("cos", cos)
        .filter(F.col("cos") >= tau)
        .select("doc_a", "doc_b", "n_shared", "cos")
    )


def sparse_allpairs_sql(
    table: str,
    id_col: str = "doc_id",
    tau: float = 0.5,
    max_df: int = 8,
    n: int = 3,
    idf_scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`sparse_allpairs`: same gram spelling
    (the dedup.ngram oracle form), same md5 feature hash, same integer
    idf lattice (trunc-spelled BIGINT cast per the portable-cast rule),
    same exact BIGINT dot/norms, same single-op IEEE cosine."""
    _check(tau, max_df, n, idf_scale)
    grams = (
        f"list_transform(range(1, greatest(len({_SQL_TOKS}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({_SQL_TOKS}, i, i + {n - 1}), ' '))"
    )
    return f"""
    WITH nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM {table}),
    g0 AS (SELECT {id_col} AS id, unnest({grams}) AS gram FROM {table}),
    g AS (SELECT id, {hash_u32_sql("gram")} AS g_h FROM g0 WHERE gram <> ''),
    tf AS (SELECT id, g_h, CAST(COUNT(*) AS BIGINT) AS tf FROM g GROUP BY 1, 2),
    dfx AS (SELECT *, COUNT(*) OVER (PARTITION BY g_h) AS df FROM tf),
    wts AS (
      SELECT * FROM (
        SELECT id, g_h,
               tf * CAST(trunc(round(ln(n_docs / CAST(df AS DOUBLE)) * {float(idf_scale)!r})) AS BIGINT) AS w
        FROM dfx, nn WHERE df <= {max_df})
      WHERE w > 0),
    posts AS (
      SELECT id, g_h, w,
             CAST(SUM(w * w) OVER (PARTITION BY id) AS BIGINT) AS norm2
      FROM wts),
    pairs AS (
      SELECT a.id AS doc_a, b.id AS doc_b,
             CAST(SUM(a.w * b.w) AS BIGINT) AS dot_u,
             MAX(a.norm2) AS na2, MAX(b.norm2) AS nb2,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM posts a JOIN posts b ON a.g_h = b.g_h AND a.id < b.id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared,
           CAST(dot_u AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) AS cos
    FROM pairs
    WHERE CAST(dot_u AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) >= {tau!r}
    """
