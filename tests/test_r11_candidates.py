"""r11 candidate gates, oracle-pinned while STAGED (built r09; the r10
window is exactly full — 26 r06-latest + 21 HEADLINE + q_stream_quantiles
+ the asof struct-fix pair — so these register r11 beside the 24-query
r07-latest rotation). Same staging pattern as funnel/pq_train and the
r09 trio: the driver-identical oracle comparison runs here every
session, so registration is a one-line @query move with the evidence
already standing.

Covers: BM25 ranked retrieval (operators/retrieval.py), SemDeDup-style
semantic dedup (dedup/semantic.py), BPE tokenizer training (ml/bpe.py),
and count-min sketch frequency estimates (operators/cms.py) — the
latter two staged in the r09 continuation for the third and fourth r11
spare slots, each deferring to r12 if the r11 window fills.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle import check_query, driver_unsafe_columns

R11_CANDIDATES = ["q_bm25_topk", "q_semantic_dedup", "q_bpe_merges", "q_cms_token_freq"]


@pytest.mark.parametrize("name", R11_CANDIDATES)
def test_r11_candidate_gate_oracle(spark, sf_dir, name):
    errs = check_query(spark, name, sf_dir, nonempty=True)
    assert not errs, f"{name}: " + "; ".join(errs[:3])


def test_r11_candidate_oracles_emit_driver_safe_types(sf_dir):
    offenders = driver_unsafe_columns(sf_dir, R11_CANDIDATES)
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# BM25 (operators/retrieval.py)
# ---------------------------------------------------------------------------
def test_bm25_rare_term_outranks_common_mass(spark, sf_dir):
    # The idf property itself: a doc containing the rare 'dup' marker
    # must outrank docs matching only the common co-term — on the
    # synthetic corpus 'dup' appears in a handful of docs while
    # 'customer' appears in nearly all, so if rank-1 for the
    # ("dup customer") query did NOT contain 'dup', idf would be broken.
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.tables import load_table

    top = (
        q.q_bm25_topk(spark, sf_dir)
        .filter(F.col("qid") == "q_rare")
        .orderBy("rank")
        .toPandas()
    )
    assert len(top) > 0
    docs = load_table(spark, "documents", sf_dir).toPandas().set_index("doc_id")
    best_text = docs.loc[int(top.iloc[0]["doc_id"]), "text"]
    assert "dup" in best_text.split()


def test_bm25_scores_monotone_and_ranks_dense(spark, sf_dir):
    from hadoop_gpu_spark import queries as q

    out = q.q_bm25_topk(spark, sf_dir).toPandas()
    for qid, grp in out.groupby("qid"):
        g = grp.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        # scores non-increasing with rank (ties broken by doc_id)
        assert (g["score"].diff().dropna() <= 1e-12).all()


def test_bm25_absent_term_query_yields_no_rows(spark, sf_dir):
    from hadoop_gpu_spark.operators.retrieval import bm25_topk
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    out = bm25_topk(docs, [("qx", "zzqx_not_in_corpus")], top_k=5).toPandas()
    assert len(out) == 0


def test_bm25_plan_scan_shape_no_vocab_broadcast(spark, sf_dir):
    # The 100 TB shape: the returned plan carries BOTH the token scan
    # and the broadcast 1-row stats scan (two scans, one job, zero
    # driver barriers). Term filter pushed below the aggregate, corpus
    # text never shuffles.
    import re

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    df = q.q_bm25_topk(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert len(re.findall(r"^\s*\(\d+\) Scan parquet\b", plan, re.M)) == 2, plan
    assert "text" not in plans.shuffled_columns(df)


def test_bm25_construction_is_lazy(spark):
    # Falsifier for the r10/r11 perf-weak mark: constructing the plan
    # must not run a job. A row-at-a-time UDF that raises proves it —
    # any eager stats collect at construction would detonate it.
    import pytest
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators.retrieval import bm25_topk

    @F.udf("string")
    def _boom(x):
        raise RuntimeError("bm25_topk construction ran a job")

    docs = spark.range(4).select(
        F.col("id").alias("doc_id"), _boom(F.col("id")).alias("text")
    )
    df = bm25_topk(docs, [("q", "apple")], top_k=3)  # must NOT raise
    with pytest.raises(Exception):
        df.collect()  # the bomb goes off only at execution


def test_bm25_matches_standalone_reference(spark):
    # Tiny corpus with hand-checkable structure, verified against an
    # independent plain-python BM25 (not the SQL twin — a third
    # implementation).
    import math

    rows = [
        (0, "apple banana apple"),
        (1, "apple cherry"),
        (2, "banana banana banana durian"),
        (3, "cherry durian elderberry fig grape"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from hadoop_gpu_spark.operators.retrieval import bm25_topk

    got = (
        bm25_topk(docs, [("q", "apple banana")], top_k=4)
        .orderBy("rank")
        .toPandas()
    )
    # reference
    k1, b = 1.2, 0.75
    n, tt = 4, 3 + 2 + 4 + 5
    texts = {i: t.split() for i, t in rows}

    def idf(term):
        df = sum(1 for t in texts.values() if term in t)
        return round(math.log((n - df + 0.5) / (df + 0.5) + 1), 9)

    def score(i):
        s = 0.0
        dl = len(texts[i])
        for term in ("apple", "banana"):
            tf = texts[i].count(term)
            if not tf:
                continue
            ratio = (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * (dl * n / tt)))
            s += round(idf(term) * ratio, 9)
        return round(s, 6)

    want = sorted(
        ((i, score(i)) for i in texts if score(i) > 0),
        key=lambda x: (-x[1], x[0]),
    )
    assert list(map(tuple, got[["doc_id", "score"]].values.tolist())) == [
        (float(i), s) for i, s in want
    ] or list(map(tuple, got[["doc_id", "score"]].values.tolist())) == want


# ---------------------------------------------------------------------------
# Semantic dedup (dedup/semantic.py)
# ---------------------------------------------------------------------------
def test_semantic_dedup_survivors_have_no_earlier_near_neighbor(spark, sf_dir):
    # The operator's defining invariant, checked directly on its output:
    # for every survivor pair in the same cluster, cosine < tau; and
    # every pruned vector HAS an earlier same-cluster neighbor >= tau.
    import numpy as np

    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.tables import load_table

    out = q.q_semantic_dedup(spark, sf_dir).toPandas()
    emb = load_table(spark, "embeddings", sf_dir).toPandas()
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        return float(va @ vb / np.sqrt((va @ va) * (vb @ vb)))

    by_cluster: dict[int, list[int]] = {}
    for r in out.itertuples():
        by_cluster.setdefault(int(r.cid), []).append(int(r.vec_id))
    tau = 0.30
    for members in by_cluster.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                assert cos(a, b) < tau + 1e-9, (a, b, cos(a, b))
    # pruned set: complement of survivors among all assigned vectors
    survivors = set(int(v) for v in out["vec_id"])
    assert len(survivors) < len(vecs)  # something was actually pruned


def test_semantic_dedup_assignment_is_max_cosine(spark, sf_dir):
    import numpy as np

    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.tables import load_table

    out = q.q_semantic_dedup(spark, sf_dir).toPandas()
    emb = load_table(spark, "embeddings", sf_dir).toPandas()
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    cents = {c: vecs[c] for c in range(8)}

    def best(v):
        scores = {
            c: float(vecs[v] @ cv / np.sqrt((vecs[v] @ vecs[v]) * (cv @ cv)))
            for c, cv in cents.items()
        }
        return max(scores, key=lambda c: (scores[c], -c))

    for r in out.sample(min(50, len(out)), random_state=0).itertuples():
        assert int(r.cid) == best(int(r.vec_id))


def test_semantic_dedup_plan_shares_one_assignment_relation(spark, sf_dir):
    # The self-join's two branches must read ONE cached assignment
    # relation (eager_persist), not recompute the corpus x centroid
    # cosine pass per side — the dual-branch-recompute class, pre-empted
    # at build time for this operator.
    import re

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    plan = plans.formatted_plan(q.q_semantic_dedup(spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 2, plan
    # live scans: only the cached relation's build lineage (per the
    # display convention) — no uncached corpus scan outside it
    live = re.findall(r"^\s*\(\d+\) Scan parquet\b", plan, re.M)
    assert len(live) <= 2, plan


def test_semantic_dedup_full_probe_equals_exact(spark, sf_dir):
    # the r12 scale-check follow-through: the coarse-probed assignment
    # (the sublinear-in-k production knob) degenerates to the EXACT
    # gate path when every cell is probed — bit-for-bit.
    from hadoop_gpu_spark.dedup.semantic import semantic_dedup
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    exact = semantic_dedup(emb, n_centroids=8, tau=0.30).collect()
    probed = semantic_dedup(
        emb, n_centroids=8, tau=0.30, coarse_nlist=3, coarse_nprobe=3
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, probed))
    assert len(exact) > 0


def test_semantic_dedup_partial_probe_matches_two_level_reference(spark, sf_dir):
    # with coarse_nprobe < coarse_nlist the assignment is approximate —
    # but it must be EXACTLY the documented two-level rule: fine
    # centroid -> max-cosine coarse cell, vector -> nprobe nearest
    # cells, argmax over the probed candidates (ties to the smaller
    # id at every level), then the unchanged keep-first pruning.
    import numpy as np

    from hadoop_gpu_spark.dedup.semantic import semantic_dedup
    from hadoop_gpu_spark.tables import load_table

    k, m, npb, tau = 8, 4, 1, 0.30
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    out = {
        int(r["vec_id"]): int(r["cid"])
        for r in semantic_dedup(
            emb, n_centroids=k, tau=tau, coarse_nlist=m, coarse_nprobe=npb
        ).collect()
    }

    pdf = emb.toPandas()
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in pdf.itertuples()
    }

    def cos(a, b):
        return float(a @ b / np.sqrt((a @ a) * (b @ b)))

    cell_of = {
        c: max(range(m), key=lambda g: (cos(vecs[c], vecs[g]), -g)) for c in range(k)
    }
    assign = {}
    for v, x in vecs.items():
        cells = sorted(range(m), key=lambda g: (-cos(x, vecs[g]), g))[:npb]
        cands = [c for c in range(k) if cell_of[c] in cells]
        assign[v] = max(cands, key=lambda c: (cos(x, vecs[c]), -c))
    survivors = {}
    by_cluster: dict[int, list[int]] = {}
    for v in sorted(assign):
        by_cluster.setdefault(assign[v], []).append(v)
    for cid, members in by_cluster.items():
        for i, b in enumerate(members):
            if not any(cos(vecs[a], vecs[b]) >= tau for a in members[:i]):
                survivors[b] = cid
    assert out == survivors


def test_semantic_fold_helpers_match_scalar_fold():
    # The r13 kernel path's cosines must reproduce the F.aggregate left
    # fold BIT-exactly (that equality is what lets the kernel share the
    # expression path's oracle): accumulate in dimension order from 0.0.
    import numpy as np

    from hadoop_gpu_spark.dedup.semantic import (
        _fold_cosine,
        _fold_dot,
        _fold_norm_sq,
    )

    rng = np.random.default_rng(42)
    X = rng.standard_normal((7, 13)).astype(np.float32).astype(np.float64)
    C = rng.standard_normal((5, 13)).astype(np.float32).astype(np.float64)

    def scalar_dot(a, b):
        acc = 0.0
        for d in range(len(a)):
            acc = acc + a[d] * b[d]
        return acc

    D = _fold_dot(X, C)
    for i in range(len(X)):
        for j in range(len(C)):
            assert D[i, j] == scalar_dot(X[i], C[j])  # bitwise, no tol
    for i in range(len(X)):
        assert _fold_norm_sq(X)[i] == scalar_dot(X[i], X[i])
    Cm = _fold_cosine(X, C)
    for i in range(len(X)):
        for j in range(len(C)):
            want = scalar_dot(X[i], C[j]) / np.sqrt(
                scalar_dot(X[i], X[i]) * scalar_dot(C[j], C[j])
            )
            assert Cm[i, j] == want


def test_semantic_kernel_blockwise_pairs_invariant(spark, sf_dir, monkeypatch):
    # The survivors kernel computes the pair matrix in PAIR_BLOCK_ROWS-
    # high blocks to bound task memory at any cluster size; block height
    # must never change output (every cluster here exceeds a 3-row block).
    from hadoop_gpu_spark.dedup import semantic
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    full = semantic.semantic_dedup(
        emb, n_centroids=8, tau=0.30, coarse_nlist=4
    ).collect()
    monkeypatch.setattr(semantic, "PAIR_BLOCK_ROWS", 3)
    blocked = semantic.semantic_dedup(
        emb, n_centroids=8, tau=0.30, coarse_nlist=4
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, blocked))


@pytest.fixture(scope="module", autouse=True)
def _release_persisted_after(spark):
    yield
    from hadoop_gpu_spark import release

    release(spark)


# ---------------------------------------------------------------------------
# BPE tokenizer training (ml/bpe.py)
# ---------------------------------------------------------------------------
def _py_bpe(texts, n_merges):
    """Independent plain-python Sennrich BPE — the third implementation
    (the BM25 cross-check stance): word counts, weighted adjacent-pair
    argmax with (count desc, lhs asc, rhs asc) ties, greedy
    left-to-right non-overlapping fuse."""
    import collections

    wc = collections.Counter(w for t in texts for w in t.split() if w)
    vocab = collections.Counter()
    for w, c in wc.items():
        vocab[tuple(list(w) + ["</w>"])] += c
    merges = []
    for step in range(1, n_merges + 1):
        pairs = collections.Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (lhs, rhs), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, lhs, rhs, cnt))
        nxt = collections.Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] += c
        vocab = nxt
    return merges


def test_bpe_matches_standalone_reference_on_corpus(spark, sf_dir):
    # Third-implementation cross-check on the REAL corpus (not the SQL
    # twin): the full learned table must agree row for row.
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.tables import load_table

    texts = [
        r["text"] for r in load_table(spark, "documents", sf_dir).select("text").collect()
    ]
    want = _py_bpe(texts, 8)
    got = [
        (int(r.step), r.lhs, r.rhs, int(r.pair_count))
        for r in q.q_bpe_merges(spark, sf_dir).orderBy("step").collect()
    ]
    assert got == want


def test_bpe_greedy_fuse_is_nonoverlapping(spark):
    # 'aaaa' must fuse to [aa, aa], not [aa, a, a]: observable in the
    # step-2 pair table only if step 1's replace consumed the shared
    # boundary (the left-to-right non-overlapping BPE rule).
    from hadoop_gpu_spark.ml.bpe import bpe_merges

    docs = spark.createDataFrame([("aaaa aaa",)], "text string")
    got = [
        (int(r.step), r.lhs, r.rhs, int(r.pair_count))
        for r in bpe_merges(docs, "text", 2).orderBy("step").collect()
    ]
    assert got == _py_bpe(["aaaa aaa"], 2)
    assert got[0] == (1, "a", "a", 5)
    # after a correct non-overlapping fuse the tie-break picks (a, </w>)
    # from 'aaa' -> [aa, a, </w>]; an overlapping fuse would leave extra
    # (a, a) mass and pick differently.
    assert got[1] == (2, "a", "</w>", 1)


def test_bpe_stops_when_alphabet_exhausted(spark):
    # single-char words fully fuse after 2 merges; asking for 10 must
    # return exactly the learnable 2 (driver loop breaks on empty pairs).
    from hadoop_gpu_spark.ml.bpe import bpe_merges

    docs = spark.createDataFrame([("a b",)], "text string")
    got = bpe_merges(docs, "text", 10).orderBy("step").collect()
    assert [(r.lhs, r.rhs) for r in got] == [("a", "</w>"), ("b", "</w>")]


def test_bpe_segment_matches_reference_apply(spark):
    # learn on a tiny corpus, apply with bpe_segment, compare against a
    # per-word python replay of the same merge list.
    from hadoop_gpu_spark.ml.bpe import bpe_merges, bpe_segment

    corpus = ["low lower lowest", "newest widest low", "new newer low"]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    merges = [
        (r.lhs, r.rhs)
        for r in bpe_merges(docs, "text", 6).orderBy("step").collect()
    ]

    def apply_word(w):
        syms = list(w) + ["</w>"]
        for lhs, rhs in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {
        r["text"]: list(r["subwords"])
        for r in bpe_segment(docs, merges, "text").collect()
    }
    for t in corpus:
        want = [s for w in t.split() for s in apply_word(w)]
        assert got[t] == want, (t, got[t], want)


def test_bpe_segment_never_fuses_across_tokens(spark):
    # (b, a) is adjacent across 'ab ab' only through the token boundary;
    # </w> sits between, so a (b, a) merge must not fire — and an (a, b)
    # merge segments each token independently.
    from hadoop_gpu_spark.ml.bpe import bpe_segment

    docs = spark.createDataFrame([("ab ab",), ("",)], "text string")
    rows = {r["text"]: list(r["subwords"]) for r in bpe_segment(docs, [("b", "a")], "text").collect()}
    assert rows["ab ab"] == ["a", "b", "</w>", "a", "b", "</w>"]
    assert rows[""] == []  # empty text -> empty segmentation
    rows2 = {r["text"]: list(r["subwords"]) for r in bpe_segment(docs, [("a", "b")], "text").collect()}
    assert rows2["ab ab"] == ["ab", "</w>", "ab", "</w>"]


def test_bpe_segment_edge_whitespace_is_clean(spark):
    # r12 falsifier: text with a TRAILING whitespace run used to leave
    # an unwidened 3-space run at the appended terminator and split a
    # corrupt ' </w>' symbol; whitespace-ONLY text segmented to a
    # spurious ['</w>']. Both now normalize (collapse before trim).
    from hadoop_gpu_spark.ml.bpe import bpe_segment

    docs = spark.createDataFrame(
        [("a b\n",), ("\ta b",), ("  \n ",), ("\n",), ("a b",)], "text string"
    )
    rows = {
        r["text"]: list(r["subwords"])
        for r in bpe_segment(docs, [("a", "b")], "text").collect()
    }
    assert rows["a b\n"] == ["a", "</w>", "b", "</w>"]
    assert rows["\ta b"] == ["a", "</w>", "b", "</w>"]
    assert rows["  \n "] == []
    assert rows["\n"] == []
    # NBSP is NOT Java \s: one 3-char token, not two words
    assert rows["a b"] == ["a", " ", "b", "</w>"]


def test_bpe_segment_fast_path_bit_identical(spark):
    # the Arrow document encoder (min-rank per word + within-batch
    # memo, ASCII-\s split) must equal the replace-chain expression
    # form on every edge the previous test pins.
    from hadoop_gpu_spark.ml.bpe import bpe_segment

    texts = [
        "ab ab abab ba", "a b\n", "\ta b", "  \n ", "", "a b",
        "low lower lowest low", "aaaa aa a aaa",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    merges = [("a", "b"), ("l", "o"), ("a", "a"), ("ab", "ab")]
    expr = {
        r["text"]: list(r["subwords"])
        for r in bpe_segment(docs, merges, "text", fast_path=False).collect()
    }
    arrow = {
        r["text"]: list(r["subwords"])
        for r in bpe_segment(docs, merges, "text", fast_path=True).collect()
    }
    assert expr == arrow


def test_bpe_iterations_read_checkpoint_not_corpus(spark, sf_dir):
    # The 100 TB contract: the corpus is scanned exactly once (the
    # word-count pass inside the eager checkpoint); every iteration's
    # pair-count plan reads the checkpointed vocab (LogicalRDD) and the
    # argmax is TakeOrderedAndProject (no global sort shuffle).
    from pyspark.sql import functions as F  # noqa: F811

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark.ml.bpe import _pair_explode, _word_seq
    from hadoop_gpu_spark.operators.fields import tokenize
    from hadoop_gpu_spark.tables import load_table
    from hadoop_gpu_spark.utils import release_local_checkpoint

    docs = load_table(spark, "documents", sf_dir)
    wc = (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.sum(F.lit(1)).cast("long").alias("wc"))
    )
    cur = wc.select(_word_seq("word").alias("seq"), "wc").localCheckpoint(eager=True)
    try:
        it = (
            cur.select(_pair_explode("seq").alias("z"), "wc")
            .groupBy(F.col("z.lhs").alias("lhs"), F.col("z.rhs").alias("rhs"))
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "lhs", "rhs")
            .limit(1)
        )
        plan = plans.formatted_plan(it)
        assert "Scan parquet" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
    finally:
        release_local_checkpoint(cur)


def test_bpe_sql_twin_matches_reference_fuzz():
    """python <-> DuckDB differential fuzz of the merge-learning lattice
    over adversarial tiny corpora: a 2-3 letter alphabet forces count
    ties (tie-break order), repeated-letter runs (greedy non-overlap),
    single-char words (</w>-only pairs), and alphabet exhaustion (early
    stop / short merge tables). No JVM per example — the Spark side is
    pinned to this same twin by the oracle gate tests above, closing
    the triangle."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hadoop_gpu_spark.ml.bpe import bpe_merges_sql

    word = st.text(alphabet="ab" + "c", min_size=1, max_size=6)

    @given(
        words=st.lists(word, min_size=1, max_size=10),
        n_merges=st.integers(min_value=1, max_value=6),
    )
    @settings(max_examples=60, deadline=None)
    def run(words, n_merges):
        texts = [" ".join(words)]
        want = _py_bpe(texts, n_merges)
        con = duckdb.connect()
        con.sql("CREATE TABLE t (text VARCHAR)")
        con.execute("INSERT INTO t VALUES (?)", [texts[0]])
        got = [
            (int(s), l, r, int(c))
            for s, l, r, c in con.sql(bpe_merges_sql("t", "text", n_merges)).fetchall()
        ]
        con.close()
        assert got == want, (words, n_merges, got, want)

    run()


# ---------------------------------------------------------------------------
# Count-min sketch (operators/cms.py)
# ---------------------------------------------------------------------------
def _py_cms_estimates(tokens, queries, d, w):
    """Independent hashlib-md5 count-min — the third implementation."""
    import collections
    import hashlib

    def cell(v, i):
        h = int(hashlib.md5(f"{v}:{i + 1}".encode()).hexdigest()[:8], 16)
        return (i, h % w)

    grid = collections.Counter()
    for t in tokens:
        for i in range(d):
            grid[cell(t, i)] += 1
    return {q: min(grid[cell(q, i)] for i in range(d)) for q in queries}


def test_cms_never_undercounts_on_corpus(spark, sf_dir):
    # The defining sketch guarantee, checked against exact corpus counts
    # (absent token included: estimate must be >= 0 == its true count).
    import collections

    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.tables import load_table

    est = {r["token"]: int(r["est_cnt"]) for r in q.q_cms_token_freq(spark, sf_dir).collect()}
    true = collections.Counter(
        t
        for r in load_table(spark, "documents", sf_dir).select("text").collect()
        for t in r["text"].split()
    )
    assert set(est) == set(q._CMS_QUERY_TOKENS)
    for tok, e in est.items():
        assert e >= true.get(tok, 0), (tok, e, true.get(tok, 0))
    assert est["zzz_absent_token"] >= 0


def test_cms_matches_standalone_reference_under_collisions(spark):
    # w=3 forces heavy collisions: MIN-over-d-rows and the coalesce(0)
    # path must still match an independent hashlib implementation
    # exactly, and never undercount.
    import collections

    from hadoop_gpu_spark.operators.cms import cms_token_estimates

    corpus = ["a b a c d e a b", "f g a h b b c", "i j k a"]
    tokens = [t for line in corpus for t in line.split()]
    queries = ["a", "b", "e", "k", "absent"]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = {
        r["token"]: int(r["est_cnt"])
        for r in cms_token_estimates(docs, queries, d=2, w=3).collect()
    }
    want = _py_cms_estimates(tokens, queries, d=2, w=3)
    assert got == want, (got, want)
    true = collections.Counter(tokens)
    for t in queries:
        assert got[t] >= true.get(t, 0)


def test_cms_single_cell_degenerates_to_total_count(spark):
    # w=1, d=1: every token lands in the one cell, so ANY estimate is
    # the corpus token total — pins the join/coalesce/min plumbing.
    from hadoop_gpu_spark.operators.cms import cms_token_estimates

    docs = spark.createDataFrame([("x y z",), ("p q",)], "text string")
    got = {
        r["token"]: int(r["est_cnt"])
        for r in cms_token_estimates(docs, ["x", "never_seen"], d=1, w=1).collect()
    }
    assert got == {"x": 5, "never_seen": 5}


def test_cms_merge_is_cell_sum(spark):
    # Mergeability (the streaming-state property): the sketch of A ∪ B
    # equals the per-cell sum of the sketches of A and B — exactly.
    from pyspark.sql import functions as F  # noqa: F811

    from hadoop_gpu_spark.operators.cms import cms_build

    a = spark.createDataFrame([(t,) for t in "a b c a".split()], "tok string")
    b = spark.createDataFrame([(t,) for t in "c d a e".split()], "tok string")
    whole = {
        (r["row_id"], r["col_id"]): r["cnt"]
        for r in cms_build(a.union(b), "tok", d=2, w=4).collect()
    }
    parts = (
        cms_build(a, "tok", d=2, w=4)
        .union(cms_build(b, "tok", d=2, w=4))
        .groupBy("row_id", "col_id")
        .agg(F.sum("cnt").alias("cnt"))
    )
    merged = {(r["row_id"], r["col_id"]): r["cnt"] for r in parts.collect()}
    assert whole == merged


def test_cms_plan_single_scan_and_distinct_first_shape(spark, sf_dir):
    # One corpus scan. r16 optimization: the batch path aggregates
    # token counts BEFORE hashing (cms_build distinct_first), so the d
    # md5 row hashes run once per DISTINCT token instead of once per
    # occurrence. The exchange that now carries `tok` is the
    # map-side-combined wordcount shape — partial HashAggregate rows
    # (per-partition-distinct tokens), never the raw token stream — so
    # the plan must show a partial aggregate on tok feeding the
    # exchange, and the hash/inline work sits ABOVE it (on vocab-sized
    # input).
    import re

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    df = q.q_cms_token_freq(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert len(re.findall(r"^\s*\(\d+\) Scan parquet\b", plan, re.M)) == 1, plan
    # the token-count pre-aggregate exchange (wordcount shape) exists —
    # the marker that hashing runs on distinct tokens, not occurrences
    assert "hashpartitioning(tok" in plan, plan


def test_cms_build_distinct_first_is_exact(spark):
    # The r16 distinct-first rewrite must be EXACT: cell cnt = sum of
    # per-value counts of the values hashing to the cell, whether the
    # grid aggregate sums 1s per occurrence or pre-summed counts
    # (sum-commutativity). Collision-heavy shape (w=3) on purpose.
    from hadoop_gpu_spark.operators.cms import cms_build

    toks = spark.createDataFrame(
        [(t,) for t in "a b c a a b z z z z y".split()], "tok string"
    )
    base = {
        (r["row_id"], r["col_id"]): r["cnt"]
        for r in cms_build(toks, "tok", d=3, w=3).collect()
    }
    fast = {
        (r["row_id"], r["col_id"]): r["cnt"]
        for r in cms_build(toks, "tok", d=3, w=3, distinct_first=True).collect()
    }
    assert base == fast


def test_cms_sql_twin_matches_reference_fuzz():
    """python <-> DuckDB differential fuzz with tiny widths (collision-
    heavy) over random corpora and query sets — the BPE fuzz stance:
    the Spark side is pinned to this twin by the oracle gate test."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hadoop_gpu_spark.operators.cms import cms_token_estimates_sql

    word = st.text(alphabet="abc", min_size=1, max_size=3)

    @given(
        words=st.lists(word, min_size=1, max_size=12),
        queries=st.lists(word, min_size=1, max_size=4),
        d=st.integers(min_value=1, max_value=3),
        w=st.integers(min_value=1, max_value=5),
    )
    @settings(max_examples=60, deadline=None)
    def run(words, queries, d, w):
        text = " ".join(words)
        want = _py_cms_estimates(words, sorted(set(queries)), d, w)
        con = duckdb.connect()
        con.sql("CREATE TABLE t (text VARCHAR)")
        con.execute("INSERT INTO t VALUES (?)", [text])
        got = dict(
            con.sql(
                cms_token_estimates_sql("t", sorted(set(queries)), d=d, w=w)
            ).fetchall()
        )
        con.close()
        assert {k: int(v) for k, v in got.items()} == want, (words, queries, d, w)

    run()


def test_semantic_dedup_auto_config_sizing():
    # the r13 scale-safety default: k ~ sqrt(N), coarse quantizer at
    # sqrt(k) once k clears AUTO_COARSE_MIN_K — the ARCHITECTURE.md
    # sizing that keeps the operator ~linear (a fixed small k measured
    # 25x wall at 10x data in the r12 sf1 check).
    from hadoop_gpu_spark.dedup.semantic import (
        AUTO_COARSE_MIN_K,
        auto_centroid_config,
    )

    assert auto_centroid_config(0) == (1, None)
    assert auto_centroid_config(1) == (1, None)
    assert auto_centroid_config(100) == (10, None)  # k=10 < MIN_K: flat
    k, m = auto_centroid_config(500)  # the sf0.001 embeddings corpus
    assert (k, m) == (22, 4)
    k, m = auto_centroid_config(10**9)
    assert k == 31622 and m == 177  # ~sqrt(N), ~sqrt(k)
    assert AUTO_COARSE_MIN_K ** 2 > AUTO_COARSE_MIN_K  # sanity: engages


def test_semantic_dedup_auto_equals_explicit_config(spark, sf_dir):
    # n_centroids=None must be EXACTLY the explicit call at the derived
    # sizing — auto mode is a sizing default, not a third semantics.
    from hadoop_gpu_spark.dedup.semantic import (
        auto_centroid_config,
        semantic_dedup,
    )
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    k, m = auto_centroid_config(emb.count())
    assert m is not None  # 500 rows -> k=22 engages coarse probing
    # r14 (r13 ADVICE): auto mode engaging APPROXIMATE coarse probing
    # must announce itself — silently changing default-config callers
    # from exact to approximate assignment was the flagged hazard.
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        auto_df = semantic_dedup(emb, tau=0.30)
    assert any("APPROXIMATE" in str(w.message) for w in caught), (
        [str(w.message) for w in caught]
    )
    auto = auto_df.collect()
    # an explicit (exact-kwarg-free) config stays silent
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        explicit_df = semantic_dedup(
            emb, n_centroids=k, tau=0.30, coarse_nlist=m, coarse_nprobe=1
        )
    assert not [w for w in caught if "APPROXIMATE" in str(w.message)]
    explicit = explicit_df.collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))
    assert len(auto) > 0
