"""Fixture tests for substring-span dedup (operators/dedup.py:
duplicate_spans) — exact boundary semantics + the two-shuffle plan
contract. The sf-scale oracle comparison runs in test_queries_oracle
via the dedup_substring_spans registry entry."""

from __future__ import annotations

import re

from sc_crawler_spark.operators.dedup import duplicate_spans

UNIQ_A = "aaaa bbbb cccc dddd eeee ffff gggg hhhh "   # 40 chars
UNIQ_B = "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss "   # 40 chars
SHARED = "the quick brown fox jumps over the lazy dog repeatedly at dawn "  # 64


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, UNIQ_A + SHARED + UNIQ_A),      # shared span mid-doc
            (2, UNIQ_B + SHARED + UNIQ_B),      # same shared span
            (3, "completely unrelated text with no forty-char overlap anywhere here"),
        ],
        "doc_id long, text string",
    )


def test_span_boundaries_exact(spark):
    out = {r["doc_id"]: r for r in
           duplicate_spans(_docs(spark), "text", "doc_id", width=40).collect()}
    # doc 3 shares nothing
    assert set(out) == {1, 2}
    for d in (1, 2):
        r = out[d]
        # SHARED (63 chars) occupies 1-based positions 41..103 in both
        # docs. Duplicated windows start at 41..64 (fully inside) AND
        # at 40: both UNIQ blocks end with a space, so the window
        # "<space> + SHARED[:39]" is also identical across docs —
        # maximal span [40, 103] = 64 chars, exactly the duplicated
        # character run
        assert r["n_dup_spans"] == 1
        assert r["dup_chars"] == 64
        assert r["max_span_chars"] == 64


def test_within_doc_repeat_is_not_cross_doc_dup(spark):
    # the SAME 40-char block twice in one doc, nowhere else: the
    # cross-document criterion (min(doc)!=max(doc)) must NOT fire
    df = _docs(spark).sparkSession.createDataFrame(
        [(1, UNIQ_A + "filler middle text here " + UNIQ_A),
         (2, UNIQ_B)],
        "doc_id long, text string",
    )
    assert duplicate_spans(df, "text", "doc_id", width=40).count() == 0


def test_disjoint_spans_stay_separate(spark):
    # two shared regions separated by > width chars that are UNIQUE to
    # each doc (a shared gap would itself be a duplicated span)
    gap1 = "p q r s t u v w x y z p q r s t u v w x y z p q r s t u v "
    gap2 = "9 8 7 6 5 4 3 2 1 0 9 8 7 6 5 4 3 2 1 0 9 8 7 6 5 4 3 2 1 "
    df = _docs(spark).sparkSession.createDataFrame(
        [(1, SHARED + gap1 + SHARED),
         (2, SHARED + gap2 + SHARED)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           duplicate_spans(df, "text", "doc_id", width=40).collect()}
    # island 1: doc-leading SHARED, starts 1..24 -> [1, 63] = 63 chars;
    # island 2: both gaps end with a space, so the "<space>+SHARED[:39]"
    # window at 121 duplicates too -> [121, 184] = 64 chars
    assert out[1]["n_dup_spans"] == 2
    assert out[1]["dup_chars"] == 127
    assert out[1]["max_span_chars"] == 64


def test_stride_coarsens_but_still_detects(spark):
    out = {r["doc_id"]: r for r in
           duplicate_spans(_docs(spark), "text", "doc_id",
                           width=40, stride=20).collect()}
    # stride 20 samples starts 1,21,41,61,81,...; starts 41 and 61 fall
    # inside SHARED -> one merged island, coarser right edge
    assert set(out) == {1, 2}
    assert out[1]["n_dup_spans"] == 1


def test_two_shuffle_plan(spark):
    """The plan contract from the docstring: ONE exchange for the span
    window + ONE doc-keyed exchange shared by the island window, the
    island groupBy and the per-doc rollup (subset-key clustering) —
    and no join anywhere (the min!=max window replaces the frequency
    join-back)."""
    df = duplicate_spans(_docs(spark), "text", "doc_id", width=40)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "Join" not in plan, "span marking must not join back"
    exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert exchanges == 2, f"expected 2 exchanges, got {exchanges}"


def test_digest_key_equals_text_key(spark):
    """The 100 TB shuffle-width knob (md5 digest as the span-window
    partition key) must produce byte-identical results to the text
    key — digests only change the shuffled key, not the dup decision."""
    base = duplicate_spans(_docs(spark), "text", "doc_id",
                           width=40).collect()
    hashed = duplicate_spans(_docs(spark), "text", "doc_id",
                             width=40, digest_key=True).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, hashed))


def test_contaminated_spans_cross_corpus_only(spark):
    """Decontamination marks train spans found in EVAL text only —
    train-train duplication must NOT fire, and the span boundary is
    the eval-covered region exactly."""
    from sc_crawler_spark.operators.dedup import contaminated_spans

    train = spark.createDataFrame(
        [
            (1, UNIQ_A + SHARED + UNIQ_A),   # carries the eval item
            (2, UNIQ_B + UNIQ_B),            # shares UNIQ_B with doc 3
            (3, UNIQ_B + "something else entirely different here ok"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, SHARED)], "doc_id long, text string")
    out = {r.doc_id: r for r in contaminated_spans(
        train, eval_df, "text", "doc_id", width=40).collect()}
    # docs 2/3 share text with EACH OTHER but not with eval: clean
    assert set(out) == {1}
    # SHARED (63 chars) sits at 41..103 in doc 1; only windows fully
    # inside the eval text match (no shared boundary chars with eval,
    # whose window set is exactly SHARED's own 24 starts)
    assert out[1].n_contaminated_spans == 1
    assert out[1].contaminated_chars == 63
    assert out[1].max_span_chars == 63


def test_incremental_minhash_no_base_x_base(spark):
    """The incremental contract: near-dup pairs WITHIN the precomputed
    corpus must not be re-emitted (they were resolved when the corpus
    was built); new-vs-corpus and new-vs-new pairs must both surface
    with the right is_cross flag and canonical (min, max) orientation."""
    from sc_crawler_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_index, minhash_lsh_pairs)

    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base = spark.createDataFrame(
        [(1, txt), (2, txt),                       # base x base dup pair
         (3, "totally different words entirely unrelated here now")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, txt), (11, txt)],                    # dup of base AND of each other
        "doc_id long, text string")
    idx = minhash_index(base, "text", "doc_id", k=3, n_hashes=8)
    out = {(r.id_a, r.id_b): r for r in incremental_minhash_pairs(
        new, idx, "text", "doc_id", k=3, n_hashes=8, band_rows=2,
        threshold=0.5).collect()}
    assert (1, 2) not in out                       # base x base suppressed
    assert out[(10, 11)].is_cross is False         # within-batch pair
    for pair in ((1, 10), (2, 10), (1, 11), (2, 11)):
        assert out[pair].is_cross is True          # new x corpus pairs
        assert out[pair].jaccard == 1.0
    assert set(out) == {(10, 11), (1, 10), (2, 10), (1, 11), (2, 11)}
    # cross-check against the batch operator restricted to new-involving
    full = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(
        base.unionByName(new), "text", "doc_id", k=3, n_hashes=8,
        band_rows=2, threshold=0.5).collect()}
    want = {p: j for p, j in full.items() if p[0] >= 10 or p[1] >= 10}
    assert {p: r.jaccard for p, r in out.items()} == want


def test_incremental_minhash_holds_no_session_cache(spark):
    """Without ``new_index`` the batch's shingle and band tables are
    part of the returned lazy plan: collecting it leaves the session's
    persisted RDDs as they were."""
    from sc_crawler_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_index)

    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base = spark.createDataFrame(
        [(1, txt), (2, "totally different words entirely unrelated here")],
        "doc_id long, text string")
    new = spark.createDataFrame([(10, txt), (11, txt)],
                                "doc_id long, text string")
    idx = minhash_index(base, "text", "doc_id", k=3, n_hashes=8)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    rows = incremental_minhash_pairs(
        new, idx, "text", "doc_id", k=3, n_hashes=8, band_rows=2,
        threshold=0.5).collect()
    assert sorted((r.id_a, r.id_b) for r in rows) == [
        (1, 10), (1, 11), (10, 11)]
    assert set(persisted().keys()) == before


def test_incremental_minhash_reingested_ids(spark):
    """r9's re-ingestion guard + r9-advice edge collapse, now tested:
    a replayed batch carries ids that ALREADY sit in the corpus index.
    The degenerate self-pair (id, id) must not surface, and a pair of
    TWO re-ingested docs — which matches through both the cross arm and
    the within-batch arm — must come out as ONE edge (is_cross=True:
    it did match the standing index), never two rows with conflicting
    flags."""
    from sc_crawler_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_index)

    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base = spark.createDataFrame(
        [(1, txt), (2, txt),
         (3, "totally different words entirely unrelated here now")],
        "doc_id long, text string")
    # replay docs 1 and 2 verbatim, plus doc 3 with CHANGED text that
    # now near-dups the others (a corrected record)
    new = spark.createDataFrame(
        [(1, txt), (2, txt),
         (3, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string")
    idx = minhash_index(base, "text", "doc_id", k=3, n_hashes=8)
    rows = incremental_minhash_pairs(
        new, idx, "text", "doc_id", k=3, n_hashes=8, band_rows=2,
        threshold=0.5).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs))          # one row per edge
    out = {(r.id_a, r.id_b): r for r in rows}
    assert all(a != b for a, b in out)            # no self-pairs
    # the two re-ingested dups: one edge, cross flag wins
    assert out[(1, 2)].is_cross is True
    assert out[(1, 2)].jaccard == 1.0
    # corrected doc 3 matches 1 and 2 (old text of 3 matched nothing)
    assert (1, 3) in out and (2, 3) in out


def test_incremental_minhash_probe_prefilter_identical(spark):
    """r18 (r17 verdict task 2): the streaming probe's opt-in
    candidate pushdown (bounded-collect of the candidate set + In
    filter on the base shingle scan) must be result-identical to the
    collect-free plan — both when the candidate set fits the gate and
    when it overflows (fallback). The admitted candidate table goes
    through Arrow both ways: a LocalTableScan decoded by the JVM, never
    a Python RDD (ExistingRDD) that starts Python workers per batch."""
    import pyarrow as pa

    from sc_crawler_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_index)

    def frame(rows):
        # Arrow-built, so the only Python-row scan a plan could hold
        # is the probe's own candidate table
        ids, texts = zip(*rows)
        return spark.createDataFrame(pa.table(
            {"doc_id": pa.array(ids, pa.int64()), "text": texts}))

    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base = frame(
        [(1, txt), (2, txt),
         (3, "totally different words entirely unrelated here now")])
    new = frame(
        [(10, txt), (11, txt),
         (12, "nothing in common with anything whatsoever at all")])
    idx = minhash_index(base, "text", "doc_id", k=3, n_hashes=8)

    def pairs(pre_max):
        return incremental_minhash_pairs(
            new, idx, "text", "doc_id", k=3, n_hashes=8, band_rows=2,
            threshold=0.5, probe_prefilter_max=pre_max)

    def run(pre_max):
        return sorted((r.id_a, r.id_b, r.jaccard, r.is_cross)
                      for r in pairs(pre_max).collect())

    off = run(0)
    assert off == run(10_000)       # gate admits: pushdown plan
    assert off == run(1)            # gate overflows: fallback plan
    assert len(off) == 5            # same edges as the contract test

    admitted = pairs(10_000)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "LocalTableScan" in admitted
    assert "ExistingRDD" not in admitted

    # a batch with NO candidates at all: the pushdown must produce
    # the empty result, not error on an empty In list
    alien = spark.createDataFrame(
        [(20, "completely novel vocabulary nothing shared here")],
        "doc_id long, text string")
    assert incremental_minhash_pairs(
        alien, idx, "text", "doc_id", k=3, n_hashes=8, band_rows=2,
        threshold=0.5, probe_prefilter_max=10_000).count() == 0
