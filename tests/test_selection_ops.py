"""Semantic properties of the r13 data-selection / analytics tier —
invariants the DuckDB hash-parity check can't express (it proves both
engines agree, not that the math does what the method claims)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def test_unimax_allocation_meets_budget_and_caps(spark):
    from sc_crawler_spark.queries.curation import (
        _UNIMAX_BUDGET_FRAC, unimax_mixture_weights)

    rows = unimax_mixture_weights(spark, SF).collect()
    total_tokens = sum(r.n_tokens for r in rows)
    budget = int(total_tokens * _UNIMAX_BUDGET_FRAC)
    # every allocation respects its epoch cap
    for r in rows:
        assert r.alloc_tokens <= r.token_cap + 1e-6
        assert abs(r.epochs_used - r.alloc_tokens / r.n_tokens) < 1e-4
    # water level exhausts the budget exactly (nothing saturated ->
    # sum(min(cap, t)) == B by construction; allow rounding slack)
    assert abs(sum(r.alloc_tokens for r in rows) - budget) < 1.0


def test_dsir_excludes_target_and_ranks_are_dense(spark):
    from sc_crawler_spark.queries.curation import (
        _DSIR_K, _DSIR_TARGET, dsir_select)

    rows = dsir_select(spark, SF).collect()
    assert len(rows) == _DSIR_K
    assert all(r.source != _DSIR_TARGET for r in rows)
    assert sorted(r.sel_rank for r in rows) == list(range(1, _DSIR_K + 1))
    # selection follows the Gumbel key order
    by_rank = sorted(rows, key=lambda r: r.sel_rank)
    keys = [r.gumbel_key for r in by_rank]
    assert keys == sorted(keys, reverse=True)


def test_perplexity_buckets_are_ordered_and_partition(spark):
    from sc_crawler_spark.queries.pipeline import perplexity_bucket_filter

    rows = perplexity_bucket_filter(spark, SF).collect()
    assert len(rows) == 500  # every doc gets a bucket
    means = {}
    for b in ("head", "middle", "tail"):
        vals = [r.bits_per_token for r in rows if r.ppl_bucket == b]
        assert vals, f"bucket {b} empty"
        means[b] = sum(vals) / len(vals)
    assert means["head"] < means["middle"] < means["tail"]
    for r in rows:
        assert r.kept == (r.ppl_bucket != "tail")


def test_bm25_prefers_docs_containing_query_terms(spark):
    from sc_crawler_spark.queries.pipeline import bm25_retrieval
    from sc_crawler_spark.functions.text import tokens
    from sc_crawler_spark.tables import load

    hits = bm25_retrieval(spark, SF).collect()
    toks = {r.doc_id: r.toks for r in
            load(spark, SF, "documents")
            .select("doc_id", tokens(F.col("text")).alias("toks"))
            .collect()}
    # every retrieved doc shares at least one term with its query's
    # first-8-token prompt (BM25 only scores postings of query terms),
    # and retrieved docs are never query docs (corpus excludes them)
    for h in hits:
        assert h.doc_id % 13 != 0
        prompt = set(toks[h.query_id][:8])
        assert prompt & set(toks[h.doc_id]), (h.query_id, h.doc_id)


def test_retrieval_eval_scoreboard(spark):
    """r17 (r16 verdict task 2): the ranked-retrieval scoreboard
    grades every arm on the deterministic bigram-containment qrel
    fixture. Floors are the regression gates for the r17 Lucene-idf
    switch: Robertson idf scored the exact arm 0.000 across ALL
    metrics on this fixture (negative idf for every prompt term —
    ranked by term ABSENCE); Lucene idf measured
    nDCG@5/MRR/P@5/R@5 = 0.145/0.292/0.108/0.131."""
    from sc_crawler_spark.queries.pipeline import retrieval_eval

    rows = {r.arm: r for r in retrieval_eval(spark, SF).collect()}
    assert set(rows) == {"bm25", "bm25_pruned", "hybrid_rrf"}
    for r in rows.values():
        for m in ("ndcg_at_5", "mrr_at_5", "precision_at_5",
                  "recall_at_5"):
            assert 0.0 <= getattr(r, m) <= 1.0, (r.arm, m)
    # every %13 query has >= 1 relevant doc at tau=3 on this fixture;
    # the hybrid serves its 10-query subset
    assert rows["bm25"].n_queries == 39
    assert rows["bm25_pruned"].n_queries == 39
    assert rows["hybrid_rrf"].n_queries == 10
    # the Lucene-idf regression gates (Robertson scored 0.000)
    assert rows["bm25"].ndcg_at_5 >= 0.1
    assert rows["bm25_pruned"].ndcg_at_5 >= 0.1
    assert rows["hybrid_rrf"].ndcg_at_5 >= 0.03
    # pruning approximates the exact arm from below on this fixture
    assert rows["bm25"].ndcg_at_5 >= rows["bm25_pruned"].ndcg_at_5


def test_ann_recall_eval_scoreboard(spark):
    """r17: the ANN ladder's recall@5 as a registry row — the same
    floors test_ann_recall gates, now driver-visible."""
    from sc_crawler_spark.queries.pipeline import ann_recall_eval

    rows = {r.arm: r for r in ann_recall_eval(spark, SF).collect()}
    assert set(rows) == {"lsh", "ivf", "sq", "ivf_pq"}
    assert all(r.n_queries == 10 for r in rows.values())
    # the documented fixture floors (measured 0.88/0.82/1.00/0.90)
    assert rows["lsh"].recall_at_5 >= 0.8
    assert rows["ivf"].recall_at_5 >= 0.8
    assert rows["sq"].recall_at_5 >= 0.9
    assert rows["ivf_pq"].recall_at_5 >= 0.88


def test_rrf_fuses_only_arm_candidates(spark):
    from sc_crawler_spark.queries.pipeline import (
        _RRF_TOP_K, hybrid_rrf_retrieval)

    fused = hybrid_rrf_retrieval(spark, SF).collect()
    # per query exactly top-k rows, every fused doc carries at least
    # one arm rank, and both-arm docs outrank same-rank single-arm docs
    by_q = {}
    for r in fused:
        by_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == _RRF_TOP_K for v in by_q.values())
    for r in fused:
        assert r.rank_b is not None or r.rank_v is not None
        both = (1.0 / (60 + r.rank_b) if r.rank_b else 0.0) + \
               (1.0 / (60 + r.rank_v) if r.rank_v else 0.0)
        assert abs(r.rrf_score - both) < 1e-5
    # fusion consumed BOTH arms: some fused doc is the lexical arm's
    # #1 and some is the dense arm's #1 (rank 1 gives RRF >= 1/61,
    # which a single-arm doc cannot be displaced from top-5 without
    # five better-fused docs — holds on this fixture)
    assert any(r.rank_b == 1 for r in fused)
    assert any(r.rank_v == 1 for r in fused)


def test_hybrid_rrf_serves_from_landed_artifacts(spark, tmp_path):
    """r15 (r14 verdict task 1): the hybrid query's production arms.
    With a matching pruned-postings artifact the LEXICAL arm serves
    BIT-EQUAL (integer-derived contributions), so the full fused
    output is unchanged; with the IVF artifact the DENSE arm probes
    the landed inverted lists (approximate — contract checks only,
    the oracle path never sets the env var)."""
    import os

    from sc_crawler_spark.queries.pipeline import (
        _RRF_TOP_K, hybrid_rrf_retrieval)
    from sc_crawler_spark.sinks import ann_store, postings_store
    from sc_crawler_spark.tables import load

    sf = "/root/testdata/sf0.001"
    inplan = sorted(
        (r.query_id, r.doc_id, r.rank_b, r.rank_v, r.rrf_score, r.rank)
        for r in hybrid_rrf_retrieval(spark, sf).collect())
    assert inplan

    bidx = str(tmp_path / "bm25_idx")
    postings_store.write_bm25_index(
        load(spark, sf, "documents"), bidx, "text", "doc_id",
        max_postings=256)
    os.environ["SC_SPARK_BM25_INDEX_DIR"] = bidx
    try:
        served_lex = sorted(
            (r.query_id, r.doc_id, r.rank_b, r.rank_v, r.rrf_score,
             r.rank)
            for r in hybrid_rrf_retrieval(spark, sf).collect())
        # lexical serve is bit-equal -> the WHOLE fused result matches
        assert served_lex == inplan

        aidx = str(tmp_path / "ivf_idx")
        ann_store.write_ivf_index(
            load(spark, sf, "embeddings"), aidx, "embedding", "vec_id",
            n_cells=8, iters=2)
        os.environ["SC_SPARK_ANN_INDEX_DIR"] = aidx
        try:
            both = hybrid_rrf_retrieval(spark, sf).collect()
            by_q = {}
            for r in both:
                by_q.setdefault(r.query_id, []).append(r)
            assert set(by_q) == {t[0] for t in inplan}
            assert all(len(v) == _RRF_TOP_K for v in by_q.values())
            # dense arm is approximate but never surfaces a query doc
            for r in both:
                assert r.doc_id % 13 != 0
                assert r.rank_b is not None or r.rank_v is not None
        finally:
            os.environ.pop("SC_SPARK_ANN_INDEX_DIR", None)
    finally:
        os.environ.pop("SC_SPARK_BM25_INDEX_DIR", None)


def test_contrastive_negatives_avoid_top20(spark):
    from sc_crawler_spark.operators import similarity
    from sc_crawler_spark.queries.pipeline import contrastive_triplets
    from sc_crawler_spark.tables import load
    from pyspark.sql import functions as F

    trips = contrastive_triplets(spark, SF).collect()
    emb = load(spark, SF, "embeddings")
    qv = emb.filter((F.col("vec_id") % 13 == 0) & (F.col("vec_id") < 130))
    cand = emb.filter(F.col("vec_id") % 13 != 0)
    top = {(r.query_id, r.neighbor_id)
           for r in similarity.cosine_topk_bruteforce(
               qv, cand, "embedding", "vec_id", k=20).collect()}
    for t in trips:
        assert (t.query_id, t.pos_id) in top          # positive is top-1
        assert (t.query_id, t.neg_id) not in top      # negative guarded
        assert t.neg_id % 13 != 0                     # never a query doc


def test_qnorm_keep_floor_is_uniform_across_sources(spark):
    from sc_crawler_spark.queries.pipeline import quality_quantile_normalize

    rows = quality_quantile_normalize(spark, SF).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        kept = sum(1 for r in rs if r.kept) / len(rs)
        # percent_rank >= 0.25 keeps ~75% of EVERY source regardless
        # of its raw score distribution — the calibration claim
        assert 0.70 <= kept <= 0.80, (src, kept)


def test_oov_rate_consistent_with_vocab(spark):
    from sc_crawler_spark.queries.pipeline import (
        _OOV_VOCAB_K, doc_oov_rate)

    rows = doc_oov_rate(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert abs(r.oov_rate - r.n_oov / r.n_tokens) < 1e-4
    # with a 31-term vocabulary and K=16, some docs must carry OOV
    # tokens and none can be fully OOV (top-16 covers common tokens)
    assert any(r.n_oov > 0 for r in rows)
    assert all(r.n_oov < r.n_tokens for r in rows)


def test_bm25_pruned_matches_unpruned_at_full_depth(spark):
    """M >= corpus makes the pruned index a no-op: the pruned scorer
    must then be BIT-EQUAL to its own unpruned run (same Lucene idf,
    same rounding chain) — proves pruning only ever removes postings,
    never perturbs surviving scores."""
    from sc_crawler_spark.queries.pipeline import bm25_pruned_retrieval

    a = sorted((r.query_id, r.doc_id, r.bm25_score, r.rank)
               for r in bm25_pruned_retrieval(
                   spark, "/root/testdata/sf0.001",
                   max_postings=10**6).collect())
    b = sorted((r.query_id, r.doc_id, r.bm25_score, r.rank)
               for r in bm25_pruned_retrieval(
                   spark, "/root/testdata/sf0.001",
                   max_postings=10**7).collect())
    assert a == b and len(a) > 0


def test_bm25_pruned_self_recall_floor(spark):
    """Recall@5 of the M=256 pruned index vs the unpruned run of the
    SAME scorer. This fixture is the adversarial worst case — a
    31-token vocabulary makes every query term a stopword whose
    ranking signal lives exactly in the pruned tail (measured 0.55
    here vs ~1.0 on a Zipfian vocabulary, PLANS.md r14) — so the gate
    pins the measured floor rather than a production target."""
    from sc_crawler_spark.queries.pipeline import bm25_pruned_retrieval

    sf = "/root/testdata/sf0.001"
    full = {(r.query_id, r.doc_id)
            for r in bm25_pruned_retrieval(
                spark, sf, max_postings=10**6).collect()}
    pruned = {(r.query_id, r.doc_id)
              for r in bm25_pruned_retrieval(spark, sf).collect()}
    assert len(full & pruned) / len(full) >= 0.45


def test_bm25_query_stride_subsets_queries(spark):
    """stride=26 queries are exactly the even-%13 prompts, scored
    identically to their stride=13 rows (the bounded-batch knob must
    not perturb scoring — only the query set)."""
    from sc_crawler_spark.queries.pipeline import bm25_retrieval

    sf = "/root/testdata/sf0.001"
    base = {(r.query_id, r.doc_id): (r.bm25_score, r.rank)
            for r in bm25_retrieval(spark, sf).collect()}
    sub = {(r.query_id, r.doc_id): (r.bm25_score, r.rank)
           for r in bm25_retrieval(spark, sf, query_stride=26).collect()}
    assert sub and set(sub) < set(base)
    assert all(q % 26 == 0 for q, _ in sub)
    for k, v in sub.items():
        assert base[k] == v


def test_bm25_postings_artifact_bit_equal_and_gated(spark, tmp_path):
    """sinks/postings_store e2e: the landed pruned postings serve a
    result BIT-EQUAL to the in-plan pruned query (every contribution
    is integer-derived and rounded before landing — no float-order
    caveat), the digest/param gate refuses mismatches, and the
    env-gated query consumes the artifact only when both match:
    artifacts.serve names why it did not (``unset`` with no env var,
    ``digest`` for an artifact of another corpus)."""
    import os

    from sc_crawler_spark.queries.pipeline import (
        _BM25_B, _BM25_K1, bm25_pruned_retrieval)
    from sc_crawler_spark.sinks import artifacts, postings_store
    from sc_crawler_spark.tables import load

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "bm25_idx")
    docs = load(spark, sf, "documents")
    meta = postings_store.write_bm25_index(docs, out, "text", "doc_id",
                                           max_postings=256)
    digest = artifacts.corpus_digest(docs, "text", "doc_id")
    assert meta["digest"] == digest
    gate = artifacts.gate
    assert gate(out, "bm25", digest, max_postings=256) == (True, "hit")
    assert gate(out, "bm25", digest, max_postings=64) == (
        False, "param:max_postings")
    assert gate(out, "bm25", "bogus_0", max_postings=256) == (
        False, "digest")
    # a BM25 artifact offered to the MinHash gate is refused by kind,
    # not by a parameter the two stores happen not to share
    assert gate(out, "minhash", digest) == (False, "kind")

    def _rows():
        return sorted((r.query_id, r.doc_id, r.bm25_score, r.rank)
                      for r in bm25_pruned_retrieval(spark, sf).collect())

    served_params = dict(max_postings=256, k1=_BM25_K1, b=_BM25_B,
                         query_stride=13)
    os.environ.pop("SC_SPARK_BM25_INDEX_DIR", None)
    assert artifacts.serve("bm25", docs, "text", "doc_id",
                           **served_params) == (None, "unset")
    inplan = _rows()
    # an artifact built from ANOTHER corpus (the first 250 docs)
    stale = str(tmp_path / "bm25_stale")
    postings_store.write_bm25_index(
        docs.filter(F.col("doc_id") < 250), stale, "text", "doc_id",
        max_postings=256)
    os.environ["SC_SPARK_BM25_INDEX_DIR"] = stale
    try:
        assert artifacts.serve("bm25", docs, "text", "doc_id",
                               **served_params) == (None, "digest")
        assert _rows() == inplan
        os.environ["SC_SPARK_BM25_INDEX_DIR"] = out
        assert artifacts.serve("bm25", docs, "text", "doc_id",
                               **served_params) == (out, "hit")
        served = _rows()
        assert served == inplan and len(served) > 0
        # mismatched params fall back in-plan (M=64 != artifact's 256)
        fell_back = sorted(
            (r.query_id, r.doc_id, r.bm25_score, r.rank)
            for r in bm25_pruned_retrieval(spark, sf, max_postings=64)
            .collect())
        assert fell_back != served
    finally:
        os.environ.pop("SC_SPARK_BM25_INDEX_DIR", None)

    # scoring constants are recorded and gated (r15 advice): if
    # _BM25_K1/_BM25_B ever change, an artifact built under the old
    # constants must refuse to serve — the query gates on k1/b now
    assert meta["k1"] == _BM25_K1 and meta["b"] == _BM25_B
    assert gate(out, "bm25", digest, max_postings=256, k1=_BM25_K1,
                b=_BM25_B)[0]
    assert gate(out, "bm25", digest, max_postings=256,
                k1=_BM25_K1 + 0.1, b=_BM25_B) == (False, "param:k1")

    # an artifact committed under an older FORMAT misses with reason
    # "format" — derived data rebuilds, it is never shimmed
    import pytest as _pytest
    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(artifacts, "FORMAT", artifacts.FORMAT - 1)
        artifacts.commit_meta(out, meta)
    assert gate(out, "bm25", digest, max_postings=256) == (
        False, "format")


def test_tf_from_toked_empty_token_array(spark):
    """r15 advice #4: an empty toks array must yield zero (term, tf)
    rows, not a runtime 'array indices start at 1' error (sequence(1,0)
    is DESCENDING [1,0] and the old filter evaluated element_at(s,0)).
    Unreachable via tokens() but the helper feeds the artifact
    build/fold paths, which may see arbitrary corpora."""
    from sc_crawler_spark.queries.pipeline import _tf_from_toked

    df = spark.createDataFrame(
        [(1, ["b", "a", "b"]), (2, []), (3, ["x"])],
        "doc_id long, toks array<string>")
    got = sorted((r.doc_id, r.term, r.tf)
                 for r in _tf_from_toked(df).collect())
    assert got == [(1, "a", 1), (1, "b", 2), (3, "x", 1)]


def test_bm25_fold_equals_one_shot_build(spark, tmp_path):
    """r15 (r14 verdict task 8): folding a new batch into a landed
    postings artifact — no base text pass — must be BIT-EQUAL to a
    one-shot build over base ∪ batch: identical pruned postings,
    identical merged digest (partials == direct), identical served
    top-k. An empty batch folds to the base (digest and top-k). Also
    pins the refusal paths."""
    import pytest as _pytest

    from sc_crawler_spark.queries.pipeline import tokens
    from sc_crawler_spark.sinks import artifacts, postings_store
    from sc_crawler_spark.tables import load

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    base_dir = str(tmp_path / "base")
    fold_dir = str(tmp_path / "folded")
    full_dir = str(tmp_path / "oneshot")

    postings_store.write_bm25_index(base, base_dir, "text", "doc_id",
                                    max_postings=64)
    folded = postings_store.fold_bm25_index(spark, base_dir, batch,
                                            fold_dir)
    oneshot = postings_store.write_bm25_index(docs, full_dir, "text",
                                              "doc_id", max_postings=64)
    # digest: partial-merged == computed directly from the union text
    assert folded["digest"] == oneshot["digest"]
    assert folded["n_docs"] == oneshot["n_docs"]

    def _postings(d):
        return sorted((r.term, r.doc_id, str(r.c)) for r in
                      postings_store.load_postings(spark, d).collect())

    assert _postings(fold_dir) == _postings(full_dir)
    assert len(_postings(fold_dir)) > 0

    # served top-k from the folded artifact == from the one-shot one
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    q_terms = (toked.filter(F.col("doc_id") % 13 == 0)
               .select(F.col("doc_id").alias("query_id"),
                       F.explode(F.array_distinct(
                           F.slice("toks", 1, 8))).alias("term")))

    def _served(d):
        return sorted((r.query_id, r.doc_id, r.bm25_score, r.rank)
                      for r in postings_store.bm25_topk_served(
                          q_terms, spark, d).collect())

    a = _served(fold_dir)
    assert a == _served(full_dir) and len(a) > 0

    # an empty batch folds to the base: same digest, same served top-k
    empty_dir = str(tmp_path / "folded_empty")
    empty = postings_store.fold_bm25_index(spark, base_dir,
                                           batch.limit(0), empty_dir)
    assert empty["digest"] == artifacts.read_meta(base_dir)["digest"]
    assert _served(empty_dir) == _served(base_dir) != []

    # the folded artifact's digest gate accepts the UNION corpus and
    # refuses the base corpus
    union_digest = artifacts.corpus_digest(docs, "text", "doc_id")
    assert artifacts.gate(fold_dir, "bm25", union_digest,
                          max_postings=64)[0]
    base_digest = artifacts.corpus_digest(base, "text", "doc_id")
    assert artifacts.gate(fold_dir, "bm25", base_digest) == (False,
                                                             "digest")

    # refusal paths: fold into the base dir; fold from an incomplete base
    with _pytest.raises(ValueError):
        postings_store.fold_bm25_index(spark, base_dir, batch, base_dir)
    with _pytest.raises(ValueError):
        postings_store.fold_bm25_index(
            spark, str(tmp_path / "nothing"), batch,
            str(tmp_path / "f2"))


def test_bm25_fold_rejects_format_mismatched_base(spark, tmp_path):
    """A fold base committed under an older artifact FORMAT is
    refused with a ValueError naming the gate reason — derived
    artifacts rebuild, they are never upgraded by a shim — and the
    refused fold leaves no artifact at its target."""
    import pytest as _pytest

    from sc_crawler_spark.sinks import artifacts, postings_store
    from sc_crawler_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    base_dir = str(tmp_path / "base")
    fold_dir = str(tmp_path / "folded")
    meta = postings_store.write_bm25_index(
        docs.filter(F.col("doc_id") < 250), base_dir, "text", "doc_id",
        max_postings=64)
    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(artifacts, "FORMAT", artifacts.FORMAT - 1)
        artifacts.commit_meta(base_dir, meta)
    with _pytest.raises(ValueError, match=r"\(format\)"):
        postings_store.fold_bm25_index(
            spark, base_dir, docs.filter(F.col("doc_id") >= 250),
            fold_dir)
    assert artifacts.gate(fold_dir, "bm25") == (False, "absent")


def test_contrastive_triplets_ivf_served_variant(spark, tmp_path):
    """r15 (r14 verdict task 7): with a matching IVF artifact the
    triplet query's positive/exclusion top-20 probes the landed
    inverted lists. Approximate (opt-in production serve; the oracle
    path never sets the env var), so the pins are contractual: the
    positive is the IVF top-1, negatives avoid the IVF top-20 and the
    query set, and the negative WINDOW (md5-threshold pre-sample) is
    unchanged."""
    import os

    from sc_crawler_spark.operators import similarity
    from sc_crawler_spark.queries.pipeline import (
        _SERVE_IVF_N_PROBE, _TRIPLET_NEGS, contrastive_triplets)
    from sc_crawler_spark.sinks import ann_store
    from sc_crawler_spark.tables import load

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    aidx = str(tmp_path / "ivf_idx")
    ann_store.write_ivf_index(emb, aidx, "embedding", "vec_id",
                              n_cells=8, iters=2)
    os.environ["SC_SPARK_ANN_INDEX_DIR"] = aidx
    try:
        trips = contrastive_triplets(spark, sf).collect()
        assert trips
        cents, assigned = ann_store.load_ivf_index(spark, aidx)
        qv = emb.filter((F.col("vec_id") % 13 == 0)
                        & (F.col("vec_id") < 130))
        ivf_top = {(r.query_id, r.neighbor_id): r.rank
                   for r in similarity.ivf_probe_topk(
                       qv, cents,
                       assigned.filter(F.col("neighbor_id") % 13 != 0),
                       "embedding", "vec_id", k=20,
                       n_probe=_SERVE_IVF_N_PROBE)
                   .collect()}
        by_q = {}
        for t in trips:
            by_q.setdefault(t.query_id, []).append(t)
            assert ivf_top.get((t.query_id, t.pos_id)) == 1
            assert (t.query_id, t.neg_id) not in ivf_top
            assert t.neg_id % 13 != 0
        assert all(len(v) == _TRIPLET_NEGS for v in by_q.values())
    finally:
        os.environ.pop("SC_SPARK_ANN_INDEX_DIR", None)
