"""r16 candidate gates, oracle-pinned while STAGED: q_morelikethis
(Lucene MoreLikeThis related-document retrieval — the literal analog of
the reference's Lucene index contrib, ``H/src/contrib/index/``),
q_hybrid_rrf (reciprocal-rank fusion of the lexical and dense rankings
— the hybrid-search combiner), and q_ann_ivfpq_residual (IVF-PQ over
residuals, Jégou et al. 2011 §V.B — the faiss IndexIVFPQ shape). Same
staging pattern as the r09..r15 cohorts: the driver-identical oracle
comparison runs here every session at BOTH scales, so r17 registration
is a one-line @query move with the evidence already standing.

Falsifiers beyond the oracle pins:

- pure-python/numpy THIRD implementations for all three (stdlib BM25 +
  RRF; sequential-accumulation residual ADC) compared row-for-row;
- an exact equivalence: residual IVF-PQ with ONE coarse cell equals
  plain PQ-ADC over the origin-shifted corpus (residual encoding about
  a single centroid IS a translation);
- structure invariants: seeds never retrieve themselves, candidate
  containment (every MLT hit shares a selected seed term; every
  residual-ANN hit lies in a probed cell; every fused row comes from a
  leg and its RRF score recomputes from its rank columns);
- plan pins: corpus text / embeddings never shuffle (the legs are
  scan-pruned or map-only; fusion touches top-k lists only).
"""

from __future__ import annotations

import math
from collections import Counter
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracle import check_query, driver_unsafe_columns

_BOTH_SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
_GATES = ["q_morelikethis", "q_hybrid_rrf", "q_ann_ivfpq_residual"]


@pytest.mark.parametrize("scale_dir", _BOTH_SCALES)
@pytest.mark.parametrize("gate", _GATES)
def test_r16_gate_oracle(spark, gate, scale_dir):
    errs = check_query(spark, gate, scale_dir, nonempty=True)
    assert not errs, f"{gate}@{scale_dir}: " + "; ".join(errs[:3])


@pytest.mark.parametrize("gate", _GATES)
def test_r16_oracles_emit_driver_safe_types(sf_dir, gate):
    offenders = driver_unsafe_columns(sf_dir, [gate])
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# Pure-python third implementations: MLT + dense cosine + RRF
# ---------------------------------------------------------------------------


def _py_mlt(
    texts_by_id,
    n_seeds=8,
    max_query_terms=8,
    k1=1.2,
    b=0.75,
    top_k=10,
    min_term_freq=1,
    min_doc_freq=1,
    max_doc_freq=None,
):
    """Stdlib MoreLikeThis: plus-one idf round-9, tf·idf9 seed-term cap
    with term-string ties, decimal BM25 accumulation, (score desc, id)
    ranks. The Lucene term-selection knobs (minTermFreq / minDocFreq /
    maxDocFreq) filter eligibility BEFORE the cap; defaults are no-ops.
    Returns {qid: [(doc_id, rank, score)...]} plus the selected
    terms per seed (for the containment invariant)."""
    toks = {i: t.split() for i, t in texts_by_id.items()}
    n = len(texts_by_id)
    tt = sum(len(v) for v in toks.values())
    tf = {i: Counter(v) for i, v in toks.items()}
    all_df = Counter()
    for i in tf:
        for term in tf[i]:
            all_df[term] += 1
    idf9 = {
        t: round(math.log((n - df + 0.5) / (df + 0.5) + 1.0), 9)
        for t, df in all_df.items()
    }
    qsel = {}
    for qid in sorted(texts_by_id):
        if qid >= n_seeds:
            continue
        eligible = [
            (t, c)
            for t, c in tf[qid].items()
            if c >= min_term_freq
            and all_df[t] >= min_doc_freq
            and (max_doc_freq is None or all_df[t] <= max_doc_freq)
        ]
        ranked = sorted(eligible, key=lambda kv: (-(kv[1] * idf9[kv[0]]), kv[0]))
        qsel[qid] = [t for t, _ in ranked[:max_query_terms]]
    out = {}
    for qid, terms in qsel.items():
        scores = {}
        for i in tf:
            if i == qid:
                continue
            s = Decimal(0)
            hit = False
            for term in terms:
                c = tf[i].get(term)
                if c:
                    hit = True
                    dl = len(toks[i])
                    ratio = (c * (k1 + 1.0)) / (
                        c + k1 * ((1.0 - b) + b * ((dl * n) / tt))
                    )
                    s += Decimal(repr(round(idf9[term] * ratio, 9)))
            if hit:
                scores[i] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        out[qid] = [
            (i, r + 1, round(float(s), 6)) for r, (i, s) in enumerate(ranked)
        ]
    return out, qsel


def _py_dense(vecs_by_id, n_queries=8, k=10):
    """Exact cosine top-k, float64, (score desc, nid) ties."""
    out = {}
    for qid in sorted(vecs_by_id):
        if qid >= n_queries:
            continue
        qv = np.asarray(vecs_by_id[qid], dtype=np.float64)
        rows = []
        for nid, v in vecs_by_id.items():
            if nid == qid:
                continue
            cv = np.asarray(v, dtype=np.float64)
            cos = float(qv @ cv) / math.sqrt(float(qv @ qv) * float(cv @ cv))
            rows.append((cos, nid))
        rows.sort(key=lambda t: (-t[0], t[1]))
        out[qid] = [(nid, r + 1) for r, (_, nid) in enumerate(rows[:k])]
    return out


def test_morelikethis_matches_python_reference(spark, sf_dir):
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.tables import load_table

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    }
    ref, _ = _py_mlt(texts)
    want = sorted(
        (qid, i, rank, score)
        for qid, rows in ref.items()
        for (i, rank, score) in rows
    )
    got = sorted(
        (r["qid"], r["doc_id"], r["rank"], r["score"])
        for r in q.q_morelikethis(spark, sf_dir).collect()
    )
    assert got == want


def test_morelikethis_structure_invariants(spark, sf_dir):
    # seed never retrieves itself; ranks 1..n consecutive with scores
    # non-increasing; every hit shares >=1 SELECTED term with its seed
    # (the term-cap containment — MLT's whole scale argument).
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.tables import load_table

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    }
    _, qsel = _py_mlt(texts)
    by_q: dict = {}
    for r in q.q_morelikethis(spark, sf_dir).collect():
        assert r["doc_id"] != r["qid"]
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) <= set(qsel)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        sel = set(qsel[qid])
        for r in rows:
            assert sel & set(texts[r["doc_id"]].split()), (qid, r["doc_id"])


def test_hybrid_rrf_matches_python_reference(spark, sf_dir):
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.tables import load_table

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    }
    vecs = {
        r["vec_id"]: [float(v) for v in r["embedding"]]
        for r in load_table(spark, "embeddings", sf_dir).collect()
    }
    mlt, _ = _py_mlt(texts)
    dense = _py_dense(vecs)
    qids = set(mlt) | set(dense)
    want = []
    for qid in qids:
        lex = {i: rank for (i, rank, _) in mlt.get(qid, [])}
        sem = dict(dense.get(qid, []))
        rows = []
        for nid in set(lex) | set(sem):
            rrf = 0.0
            if nid in lex:
                rrf = rrf + 1.0 / (60.0 + float(lex[nid]))
            if nid in sem:
                rrf = rrf + 1.0 / (60.0 + float(sem[nid]))
            rows.append((rrf, nid, lex.get(nid, 0), sem.get(nid, 0)))
        rows.sort(key=lambda t: (-t[0], t[1]))
        for r, (rrf, nid, rl, rs) in enumerate(rows[:10], 1):
            want.append((qid, nid, rl, rs, round(rrf, 9), r))
    got = sorted(
        (r["qid"], r["nid"], r["rank_lex"], r["rank_sem"], r["rrf"], r["rank"])
        for r in q.q_hybrid_rrf(spark, sf_dir).collect()
    )
    assert got == sorted(want)


def test_hybrid_rrf_structure_invariants(spark, sf_dir):
    # Every fused row carries the EXACT rank it held in each leg (0 =
    # absent), at least one leg claims it, and the reported rrf score
    # recomputes from those rank columns alone.
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.operators.retrieval import morelikethis_topk
    from hadoop_gpu_spark.queries import _HYBRID_K, _HYBRID_N_SEEDS
    from hadoop_gpu_spark.similarity.ann import brute_force_topk
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    lex = {
        (r["qid"], r["doc_id"]): r["rank"]
        for r in morelikethis_topk(
            docs, n_seeds=_HYBRID_N_SEEDS, max_query_terms=8, top_k=_HYBRID_K
        ).collect()
    }
    sem = {
        (r["qid"], r["nid"]): r["rank"]
        for r in brute_force_topk(
            emb,
            emb.filter(F.col("vec_id") < _HYBRID_N_SEEDS),
            "embedding",
            "vec_id",
            k=_HYBRID_K,
        ).collect()
    }
    for r in q.q_hybrid_rrf(spark, sf_dir).collect():
        key = (r["qid"], r["nid"])
        assert r["rank_lex"] == lex.get(key, 0)
        assert r["rank_sem"] == sem.get(key, 0)
        assert r["rank_lex"] > 0 or r["rank_sem"] > 0
        expect = 0.0
        if r["rank_lex"]:
            expect = expect + 1.0 / (60.0 + float(r["rank_lex"]))
        if r["rank_sem"]:
            expect = expect + 1.0 / (60.0 + float(r["rank_sem"]))
        assert r["rrf"] == round(expect, 9), key


# ---------------------------------------------------------------------------
# Residual IVF-PQ: numpy third implementation + translation equivalence
# ---------------------------------------------------------------------------


def _np_ivfpq_residual(X, book, n_centroids=16, n_queries=8, nprobe=2, k=5):
    """Sequential-accumulation residual IVFADC, ties on lower id."""
    C = np.asarray(book, dtype=np.float64)  # (S, K, D)
    n_sub, _, sub_dim = C.shape
    cen = X[:n_centroids]

    def seq_eucl(a, B):
        acc = np.zeros(len(B))
        for d in range(a.shape[0]):
            diff = a[d] - B[:, d]
            acc = acc + diff * diff
        return acc

    def sub_codes(r):
        out = np.empty(n_sub, dtype=np.int64)
        for s in range(n_sub):
            xs = r[s * sub_dim : (s + 1) * sub_dim]
            sq = xs[None, :] - C[s]
            sq *= sq
            acc = sq[:, 0].copy()
            for d in range(1, sub_dim):
                acc += sq[:, d]
            out[s] = int(acc.argmin())
        return out

    assign = np.array([int(np.argmin(seq_eucl(x, cen))) for x in X])
    codes = np.stack([sub_codes(X[i] - cen[assign[i]]) for i in range(len(X))])
    rows = []
    for qid in range(n_queries):
        d2c = seq_eucl(X[qid], cen)
        probed = sorted(range(n_centroids), key=lambda c: (d2c[c], c))[:nprobe]
        luts = {}
        for cell in probed:
            rq = X[qid] - cen[cell]
            lut = np.empty((n_sub, C.shape[1]))
            for s in range(n_sub):
                xs = rq[s * sub_dim : (s + 1) * sub_dim]
                sq = xs[None, :] - C[s]
                sq *= sq
                acc = sq[:, 0].copy()
                for d in range(1, sub_dim):
                    acc += sq[:, d]
                lut[s] = acc
            luts[cell] = lut
        scored = []
        for n in range(len(X)):
            if n == qid or assign[n] not in luts:
                continue
            lut = luts[assign[n]]
            adc = lut[0][codes[n, 0]]
            for s in range(1, n_sub):
                adc = adc + lut[s][codes[n, s]]
            scored.append((float(adc), n))
        scored.sort(key=lambda t: (t[0], t[1]))
        for r, (adc, n) in enumerate(scored[:k], 1):
            rows.append((qid, n, round(adc, 9), r))
    return sorted(rows)


def test_ivfpq_residual_matches_numpy_reference(spark, sf_dir):
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.similarity.quantize import pq_codebook
    from hadoop_gpu_spark.tables import load_table

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r["vec_id"] for r in emb]
    assert ids == list(range(len(ids)))
    X = np.array([[float(v) for v in r["embedding"]] for r in emb], dtype=np.float64)
    want = _np_ivfpq_residual(X, pq_codebook())
    got = sorted(
        (r["qid"], r["nid"], r["adc"], r["rank"])
        for r in q.q_ann_ivfpq_residual(spark, sf_dir).collect()
    )
    assert got == want


def test_ivfpq_residual_single_cell_is_translated_adc(spark, sf_dir):
    # With ONE coarse cell, residual encoding is a pure translation by
    # c0 — the gate must equal plain PQ-ADC over the shifted corpus,
    # row for row including the round-9 adc. An exact algebraic
    # falsifier: any drift in assignment, residual arithmetic, code
    # kernel, LUT, or tie rules breaks the identity.
    from hadoop_gpu_spark.similarity.quantize import (
        ivfpq_residual_topk,
        pq_adc_topk,
    )
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    c0 = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = {
        (r["qid"], r["nid"], r["adc"], r["rank"])
        for r in ivfpq_residual_topk(emb, n_centroids=1, nprobe=1, k=5).collect()
    }
    shifted = emb.select(
        "vec_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.array(*[F.lit(v) for v in c0]),
            lambda a, b: a - b,
        ).alias("embedding"),
    )
    want = {
        (r["qid"], r["nid"], r["adc"], r["rank"])
        for r in pq_adc_topk(shifted, k=5).collect()
    }
    assert got == want


def test_ivfpq_residual_structure_invariants(spark, sf_dir):
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.similarity.ann import assign_to_centroids_pandas
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    cen = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_to_centroids_pandas(emb, cen, "embedding", "vec_id")
        .select("vec_id", "centroid_id")
        .collect()
    }
    cen_rows = sorted(
        (r["centroid_id"], [float(v) for v in r["embedding"]]) for r in cen.collect()
    )
    qvecs = {
        r["vec_id"]: [float(v) for v in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).collect()
    }

    def probes(qv):
        d = []
        for cid, cv in cen_rows:
            acc = 0.0
            for a, b in zip(qv, cv):
                acc += (a - b) * (a - b)
            d.append((acc, cid))
        return {cid for _, cid in sorted(d)[:2]}

    by_q: dict = {}
    for r in q.q_ann_ivfpq_residual(spark, sf_dir).collect():
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == set(qvecs)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        ok_cells = probes(qvecs[qid])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        adcs = [r["adc"] for r in rows]
        assert adcs == sorted(adcs)
        for r in rows:
            assert r["nid"] != qid
            assert assign[r["nid"]] in ok_cells, (qid, r["nid"])


def test_ivfpq_residual_differs_from_plain(spark, sf_dir):
    # Residual encoding must actually change the code lattice (else the
    # "variant" is the plain gate wearing a new name): with the shared
    # conventions the two gates' (qid, nid, adc) sets must differ.
    from hadoop_gpu_spark import queries as q

    plain = {
        (r["qid"], r["nid"], r["adc"])
        for r in q.q_ann_ivfpq(spark, sf_dir).collect()
    }
    res = {
        (r["qid"], r["nid"], r["adc"])
        for r in q.q_ann_ivfpq_residual(spark, sf_dir).collect()
    }
    assert plain != res


# ---------------------------------------------------------------------------
# Plan pins
# ---------------------------------------------------------------------------


def test_r16_plans_never_shuffle_corpus_payloads(spark, sf_dir):
    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    assert "text" not in plans.shuffled_columns(q.q_morelikethis(spark, sf_dir))
    hyb = plans.shuffled_columns(q.q_hybrid_rrf(spark, sf_dir))
    assert "text" not in hyb and "embedding" not in hyb


def test_ivfpq_residual_plan_corpus_never_shuffles(spark, sf_dir):
    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    df = q.q_ann_ivfpq_residual(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "embedding" not in plans.shuffled_columns(df)
    # r16 optimization: assignment + residual-encode fused into ONE
    # mapInPandas pass — a single Arrow crossing for the corpus
    # embeddings (was two chained UDFs).
    import re

    assert plan.count("ArrowEvalPython") == 0, plan
    assert len(re.findall(r"\(\d+\) MapInPandas\b", plan)) == 1, plan
