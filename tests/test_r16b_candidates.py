"""r16 continuation gates, registered in the same round they were built
(the late-r16 precedent): q_ann_ivfadc_r (IVFADC+R — the residual
IVF-PQ shortlist re-ranked by EXACT distances from the raw vectors,
Jégou et al. 2011 §VI), q_morelikethis_filtered (Lucene MoreLikeThis's
minTermFreq / minDocFreq / maxDocFreq term-selection knobs — the
remaining MLT surface after q_morelikethis's maxQueryTerms),
q_stream_lsh_dedup (streaming MinHash-LSH band-bucket census —
near-dedup at ingest), and q_bm25f_topk (BM25F multi-field scoring,
Robertson/Zaragoza/Taylor 2004). Evidence bar identical to the
r09..r16 cohorts: the driver-identical oracle comparison runs at BOTH
scales every session.

Falsifiers beyond the oracle pins:

- third implementations: sequential-accumulation numpy IVFADC+R
  (composing the test_r16_candidates residual reference with an exact
  re-rank) and the knob-extended stdlib MLT, compared row-for-row;
- exact equivalences: a corpus-sized shortlist makes IVFADC+R the
  exact re-rank of ALL probed-cell candidates; default knobs make the
  filtered MLT byte-identical to q_morelikethis (the no-op identity);
- structure invariants: re-rank containment in the ADC shortlist,
  rank-1 exact-distance improvement over the ADC ordering, every knob
  BINDING at the gate's parameters, eligibility containment (every hit
  shares a selected term that satisfies all three knobs in the seed);
- plan pins: corpus embeddings/text never shuffle; the stage-2 fetch
  is a broadcast join (ids onto the corpus scan, never the reverse).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracle import check_query, driver_unsafe_columns
from tests.test_r16_candidates import _np_ivfpq_residual, _py_mlt

_BOTH_SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
_GATES = [
    "q_ann_ivfadc_r",
    "q_morelikethis_filtered",
    "q_stream_lsh_dedup",
    "q_bm25f_topk",
]


@pytest.mark.parametrize("scale_dir", _BOTH_SCALES)
@pytest.mark.parametrize("gate", _GATES)
def test_r16b_gate_oracle(spark, gate, scale_dir):
    errs = check_query(spark, gate, scale_dir, nonempty=True)
    assert not errs, f"{gate}@{scale_dir}: " + "; ".join(errs[:3])


@pytest.mark.parametrize("gate", _GATES)
def test_r16b_oracles_emit_driver_safe_types(sf_dir, gate):
    offenders = driver_unsafe_columns(sf_dir, [gate])
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# IVFADC+R: numpy third implementation + equivalences + invariants
# ---------------------------------------------------------------------------


def _seq_eucl(a, b):
    """Left-to-right scalar fold — the euclidean_sq / list_sum order."""
    acc = 0.0
    for d in range(a.shape[0]):
        diff = float(a[d]) - float(b[d])
        acc += diff * diff
    return acc


def _np_ivfadc_r(X, book, n_centroids=16, n_queries=8, nprobe=2, shortlist=20, k=5):
    """Exact re-rank of the residual-ADC shortlist, ties on lower id."""
    short = _np_ivfpq_residual(
        X, book, n_centroids=n_centroids, n_queries=n_queries, nprobe=nprobe, k=shortlist
    )
    by_q: dict = {}
    for qid, nid, _adc, _r in short:
        by_q.setdefault(qid, []).append(nid)
    rows = []
    for qid, nids in by_q.items():
        scored = sorted(
            ((_seq_eucl(X[qid], X[nid]), nid) for nid in nids),
            key=lambda t: (t[0], t[1]),
        )
        for r, (dist, nid) in enumerate(scored[:k], 1):
            rows.append((qid, nid, round(dist, 9), r))
    return sorted(rows)


def _load_X(spark, sf_dir):
    from hadoop_gpu_spark.tables import load_table

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r["vec_id"] for r in emb]
    assert ids == list(range(len(ids)))
    return np.array(
        [[float(v) for v in r["embedding"]] for r in emb], dtype=np.float64
    )


def test_ivfadc_r_matches_numpy_reference(spark, sf_dir):
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.similarity.quantize import pq_codebook

    X = _load_X(spark, sf_dir)
    want = _np_ivfadc_r(X, pq_codebook())
    got = sorted(
        (r["qid"], r["nid"], r["dist"], r["rank"])
        for r in q.q_ann_ivfadc_r(spark, sf_dir).collect()
    )
    assert got == want


def test_ivfadc_r_corpus_sized_shortlist_is_exact_over_probed_cells(spark, sf_dir):
    # With shortlist >= |corpus| the ADC stage stops pruning anything
    # beyond the probe: IVFADC+R must equal the exact re-rank of EVERY
    # candidate in the probed cells — an algebraic falsifier for the
    # stage-2 fetch/score/rank (any dropped candidate, wrong distance
    # fold, or tie drift breaks it).
    from hadoop_gpu_spark.similarity.quantize import ivfadc_r_topk, pq_codebook
    from hadoop_gpu_spark.tables import load_table

    X = _load_X(spark, sf_dir)
    n = len(X)
    want = _np_ivfadc_r(X, pq_codebook(), shortlist=n)
    emb = load_table(spark, "embeddings", sf_dir)
    got = sorted(
        (r["qid"], r["nid"], r["dist"], r["rank"])
        for r in ivfadc_r_topk(emb, shortlist=n).collect()
    )
    assert got == want


def test_ivfadc_r_containment_and_rank1_improvement(spark, sf_dir):
    # Every re-ranked hit must come from the ADC shortlist, and the
    # re-rank's rank-1 exact distance must be <= the exact distance of
    # the ADC-rank-1 candidate (re-ranking the same candidate set by
    # the true metric can only improve the top of the list).
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.similarity.quantize import ivfpq_residual_topk
    from hadoop_gpu_spark.tables import load_table

    X = _load_X(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    short: dict = {}
    adc1: dict = {}
    for r in ivfpq_residual_topk(emb, k=20).collect():
        short.setdefault(r["qid"], set()).add(r["nid"])
        if r["rank"] == 1:
            adc1[r["qid"]] = r["nid"]
    by_q: dict = {}
    for r in q.q_ann_ivfadc_r(spark, sf_dir).collect():
        assert r["nid"] in short[r["qid"]], (r["qid"], r["nid"])
        assert r["nid"] != r["qid"]
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == set(short)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        dists = [r["dist"] for r in rows]
        assert dists == sorted(dists)
        assert rows[0]["dist"] <= round(_seq_eucl(X[qid], X[adc1[qid]]), 9) + 1e-12


def test_ivfadc_r_shortlist_k_preserves_adc_candidate_set(spark, sf_dir):
    # shortlist == k degenerates stage 2 to a pure re-ORDER of the ADC
    # top-k: the (qid, nid) sets must coincide exactly.
    from hadoop_gpu_spark.similarity.quantize import ivfadc_r_topk, ivfpq_residual_topk
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    adc = {
        (r["qid"], r["nid"]) for r in ivfpq_residual_topk(emb, k=5).collect()
    }
    rer = {
        (r["qid"], r["nid"])
        for r in ivfadc_r_topk(emb, shortlist=5, k=5).collect()
    }
    assert adc == rer


def test_ivfadc_r_rerank_changes_the_order(spark, sf_dir):
    # The +R stage must actually DO something on this corpus: the
    # (qid, nid, rank) triples must differ from the plain residual
    # gate's ADC ordering (else the composition is the plain gate
    # wearing a new name).
    from hadoop_gpu_spark import queries as q

    adc = {
        (r["qid"], r["nid"], r["rank"])
        for r in q.q_ann_ivfpq_residual(spark, sf_dir).collect()
    }
    rer = {
        (r["qid"], r["nid"], r["rank"])
        for r in q.q_ann_ivfadc_r(spark, sf_dir).collect()
    }
    assert adc != rer


# ---------------------------------------------------------------------------
# Filtered MoreLikeThis: stdlib third impl + knob invariants
# ---------------------------------------------------------------------------


def _load_texts(spark, sf_dir):
    from hadoop_gpu_spark.tables import load_table

    return {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    }


def test_morelikethis_filtered_matches_python_reference(spark, sf_dir):
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.queries import _MLT_KNOBS

    texts = _load_texts(spark, sf_dir)
    ref, _ = _py_mlt(texts, **_MLT_KNOBS)
    want = sorted(
        (qid, i, rank, score)
        for qid, rows in ref.items()
        for (i, rank, score) in rows
    )
    got = sorted(
        (r["qid"], r["doc_id"], r["rank"], r["score"])
        for r in q.q_morelikethis_filtered(spark, sf_dir).collect()
    )
    assert got == want


def test_morelikethis_default_knobs_are_noop_identity(spark, sf_dir):
    # Explicit default knobs must reproduce the registered
    # q_morelikethis EXACTLY — the knob machinery may not perturb the
    # default path (its plan pin and oracle text are byte-frozen).
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.operators.retrieval import morelikethis_topk
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    explicit = sorted(
        tuple(r)
        for r in morelikethis_topk(
            docs,
            n_seeds=8,
            max_query_terms=8,
            top_k=10,
            min_term_freq=1,
            min_doc_freq=1,
            max_doc_freq=None,
        ).collect()
    )
    registered = sorted(
        tuple(r) for r in q.q_morelikethis(spark, sf_dir).collect()
    )
    assert explicit == registered


def test_morelikethis_every_knob_binds(spark, sf_dir):
    # Each knob must individually change the gate's output on this
    # corpus at the registered parameters — a knob that never binds is
    # untested surface wearing a feature's name.
    from hadoop_gpu_spark.queries import _MLT_KNOBS
    from hadoop_gpu_spark.tables import load_table
    from hadoop_gpu_spark.operators.retrieval import morelikethis_topk

    docs = load_table(spark, "documents", sf_dir)

    def run(**over):
        kw = dict(_MLT_KNOBS, **over)
        return sorted(
            tuple(r)
            for r in morelikethis_topk(
                docs, n_seeds=8, max_query_terms=8, top_k=10, **kw
            ).collect()
        )

    gate = run()
    assert gate, "gate empty — knob parameters degenerate on this corpus"
    assert run(min_term_freq=1) != gate
    assert run(min_doc_freq=1) != gate
    assert run(max_doc_freq=None) != gate


def test_morelikethis_filtered_eligibility_containment(spark, sf_dir):
    # Every hit shares >= 1 SELECTED term with its seed, and every
    # selected term satisfies all three knobs (tf-in-seed >=
    # min_term_freq, min_doc_freq <= df <= max_doc_freq) — the
    # eligibility rule, verified from raw text via the stdlib
    # reference's qsel.
    from collections import Counter

    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.queries import _MLT_KNOBS

    texts = _load_texts(spark, sf_dir)
    _, qsel = _py_mlt(texts, **_MLT_KNOBS)
    tf = {i: Counter(t.split()) for i, t in texts.items()}
    df = Counter()
    for i in tf:
        for term in tf[i]:
            df[term] += 1
    for qid, terms in qsel.items():
        for t in terms:
            assert tf[qid][t] >= _MLT_KNOBS["min_term_freq"]
            assert df[t] >= _MLT_KNOBS["min_doc_freq"]
            assert df[t] <= _MLT_KNOBS["max_doc_freq"]
    for r in q.q_morelikethis_filtered(spark, sf_dir).collect():
        assert r["doc_id"] != r["qid"]
        sel = set(qsel[r["qid"]])
        assert sel & set(texts[r["doc_id"]].split()), (r["qid"], r["doc_id"])


# ---------------------------------------------------------------------------
# Streaming MinHash-LSH near-dedup census
# ---------------------------------------------------------------------------


def _batch_band_census(spark, src):
    """Batch reference census over a batch frame or parquet path."""
    from hadoop_gpu_spark.dedup.minhash import band_hashes, minhash_signatures_pandas

    df = spark.read.parquet(src) if isinstance(src, str) else src
    sig = minhash_signatures_pandas(df, "text", "doc_id")
    bands = band_hashes(sig, "doc_id")
    return bands.groupBy("band", "band_hash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("members"),
    )


def test_stream_lsh_snapshot_equals_batch_census(spark, sf_dir, tmp_path):
    # The merge-algebra claim, pinned bit-for-bit INCLUDING the
    # non-collided buckets the gate filters out: the availableNow
    # snapshot must equal the batch census of the same corpus exactly.
    import os

    from hadoop_gpu_spark.streaming import docs_stream, lsh_bucket_stream_snapshot

    out = str(tmp_path / "snap")
    snap = lsh_bucket_stream_snapshot(
        docs_stream(spark, sf_dir), "text", "doc_id", out
    )
    got = sorted(tuple(r) for r in snap.collect())
    want = sorted(
        tuple(r)
        for r in _batch_band_census(
            spark, os.path.join(sf_dir, "documents.parquet")
        ).collect()
    )
    assert got == want


def test_stream_lsh_micro_batch_split_invariance(spark, sf_dir, tmp_path):
    # MIN/COUNT-SUM associativity across micro-batches, demonstrated:
    # the corpus split into two files streamed one-file-per-trigger
    # (two real micro-batches) must produce the identical census.
    import os

    from hadoop_gpu_spark.streaming import lsh_bucket_stream_snapshot

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    split_dir = str(tmp_path / "split")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        split_dir, mode="overwrite"
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        split_dir
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    out = str(tmp_path / "snap2")
    snap = lsh_bucket_stream_snapshot(stream, "text", "doc_id", out)
    got = sorted(tuple(r) for r in snap.collect())
    want = sorted(tuple(r) for r in _batch_band_census(spark, docs).collect())
    assert got == want


def test_stream_lsh_census_consistent_with_candidate_pairs(spark, sf_dir):
    # Cross-operator consistency with the BATCH near-dedup pipeline:
    # every lsh_candidate_pairs pair shares >= 1 collided census
    # bucket; every collided bucket's canonical is the true MIN of its
    # members; bucket membership recomputed from the batch bands frame
    # agrees with the census member counts.
    import os

    from collections import defaultdict

    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.dedup.minhash import (
        band_hashes,
        lsh_candidate_pairs,
        minhash_signatures_pandas,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sig = minhash_signatures_pandas(docs, "text", "doc_id")
    members = defaultdict(set)
    for r in band_hashes(sig, "doc_id").collect():
        members[(r["band"], r["band_hash"])].add(r["doc_id"])
    census = q.QUERIES["q_stream_lsh_dedup"](spark, sf_dir).collect()
    assert census, "no collided buckets — corpus has no near-dups?"
    collided = {}
    for r in census:
        key = (r["band"], r["band_hash"])
        assert r["members"] == len(members[key]), key
        assert r["canonical_id"] == min(members[key]), key
        collided[key] = members[key]
    for r in lsh_candidate_pairs(docs, "text", "doc_id").collect():
        a, b = r["a"], r["b"]
        assert any(a in ids and b in ids for ids in collided.values()), (a, b)


# ---------------------------------------------------------------------------
# BM25F multi-field retrieval: stdlib third impl + algebraic anchors
# ---------------------------------------------------------------------------


def _py_bm25f(
    texts_by_id,
    queries,
    title_len=8,
    w_title=2.0,
    w_body=1.0,
    b_title=0.5,
    b_body=0.75,
    k1=1.2,
    top_k=10,
):
    """Stdlib BM25F: per-field soft-normalized tf, weighted combination,
    one shared (k1+1) saturation, doc-level plus-one idf round-9,
    decimal accumulation, (score desc, id) ranks."""
    import math
    from collections import Counter
    from decimal import Decimal

    toks = {i: t.split() for i, t in texts_by_id.items()}
    n = len(texts_by_id)
    tt_t = sum(min(len(v), title_len) for v in toks.values())
    tt_b = sum(len(v) - min(len(v), title_len) for v in toks.values())
    tf_t = {i: Counter(v[:title_len]) for i, v in toks.items()}
    tf_b = {i: Counter(v[title_len:]) for i, v in toks.items()}
    df = Counter()
    for i in toks:
        for term in set(toks[i]):
            df[term] += 1

    def idf9(t):
        return round(math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0), 9)

    out = {}
    for qid, qtext in queries:
        terms = sorted(set(qtext.split()))
        scores = {}
        for i in toks:
            s = Decimal(0)
            hit = False
            for t in terms:
                ct, cb = tf_t[i].get(t, 0), tf_b[i].get(t, 0)
                if not (ct or cb):
                    continue
                hit = True
                lt = float(min(len(toks[i]), title_len))
                lb = float(len(toks[i]) - min(len(toks[i]), title_len))
                tfc = 0.0
                if tt_t:
                    tfc += w_title * (ct / (1.0 + b_title * ((lt * n) / tt_t - 1.0)))
                if tt_b:
                    tfc += w_body * (cb / (1.0 + b_body * ((lb * n) / tt_b - 1.0)))
                sat = (tfc * (k1 + 1.0)) / (k1 + tfc)
                s += Decimal(repr(round(idf9(t) * sat, 9)))
            if hit:
                scores[i] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        out[qid] = [
            (i, r + 1, round(float(s), 6)) for r, (i, s) in enumerate(ranked)
        ]
    return out


def test_bm25f_matches_python_reference(spark, sf_dir):
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.queries import _BM25F_PARAMS, _BM25_QUERIES

    texts = _load_texts(spark, sf_dir)
    ref = _py_bm25f(texts, _BM25_QUERIES, **_BM25F_PARAMS)
    want = sorted(
        (qid, i, rank, score)
        for qid, rows in ref.items()
        for (i, rank, score) in rows
    )
    got = sorted(
        (r["qid"], r["doc_id"], r["rank"], r["score"])
        for r in q.q_bm25f_topk(spark, sf_dir).collect()
    )
    assert got == want


def test_bm25f_unit_weights_b_zero_is_bm25_b_zero(spark, sf_dir):
    # The exact algebraic anchor: with b_title=b_body=0 the per-field
    # normalizers vanish, unit weights collapse tfc to the doc-level
    # tf, and BM25F must equal plain BM25 with b=0 — row for row,
    # including the round-6 score. Any drift in the field split, the
    # conditional tf aggregates, df, or the saturation breaks this.
    from hadoop_gpu_spark.operators.retrieval import bm25_topk, bm25f_topk
    from hadoop_gpu_spark.queries import _BM25_QUERIES
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    f = sorted(
        tuple(r)
        for r in bm25f_topk(
            docs,
            _BM25_QUERIES,
            title_len=8,
            w_title=1.0,
            w_body=1.0,
            b_title=0.0,
            b_body=0.0,
            top_k=10,
        ).collect()
    )
    plain = sorted(
        tuple(r)
        for r in bm25_topk(docs, _BM25_QUERIES, b=0.0, top_k=10).collect()
    )
    assert f == plain


def test_bm25f_boost_and_field_norm_bind(spark, sf_dir):
    # The gate's parameters must actually change the ranking on this
    # corpus: the registered gate differs from plain BM25, from the
    # unboosted (w_title=1) variant, and from the b_title=b_body
    # single-norm variant.
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.operators.retrieval import bm25f_topk
    from hadoop_gpu_spark.queries import _BM25F_PARAMS, _BM25_QUERIES
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    gate = sorted(tuple(r) for r in q.q_bm25f_topk(spark, sf_dir).collect())
    assert gate, "gate empty"
    plain = sorted(
        tuple(r) for r in q.QUERIES["q_bm25_topk"](spark, sf_dir).collect()
    )
    assert gate != plain

    def run(**over):
        kw = dict(_BM25F_PARAMS, **over)
        return sorted(
            tuple(r)
            for r in bm25f_topk(docs, _BM25_QUERIES, top_k=10, **kw).collect()
        )

    assert run(w_title=1.0) != gate
    assert run(b_title=0.0) != gate
    assert run(b_body=0.0) != gate


def test_bm25f_structure_invariants(spark, sf_dir):
    # Ranks 1..n consecutive per query with scores non-increasing;
    # every hit contains >= 1 query term (in either field).
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.queries import _BM25_QUERIES

    texts = _load_texts(spark, sf_dir)
    qterms = {qid: set(qt.split()) for qid, qt in _BM25_QUERIES}
    by_q: dict = {}
    for r in q.q_bm25f_topk(spark, sf_dir).collect():
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        for r in rows:
            assert qterms[qid] & set(texts[r["doc_id"]].split()), (qid, r["doc_id"])


# ---------------------------------------------------------------------------
# Plan pins
# ---------------------------------------------------------------------------


def test_ivfadc_r_plan_corpus_never_shuffles(spark, sf_dir):
    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    df = q.q_ann_ivfadc_r(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2  # stage-2 fetch + qvec join
    assert "embedding" not in plans.shuffled_columns(df)


def test_morelikethis_filtered_plan_text_never_shuffles(spark, sf_dir):
    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    assert "text" not in plans.shuffled_columns(
        q.q_morelikethis_filtered(spark, sf_dir)
    )


def test_bm25f_plan_text_never_shuffles(spark, sf_dir):
    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    assert "text" not in plans.shuffled_columns(q.q_bm25f_topk(spark, sf_dir))
