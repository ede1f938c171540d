"""Scale profiles (VERDICT r04 "Next round" #2): the 100 TB guards become
one ``scale="corpus"`` knob instead of 3+ per-operator defaults the user
must know to flip.  Asserts the two contract properties:

- **engaged**: the profile actually fills the guard knobs (drop metrics
  fire on a degenerate corpus exactly as the explicit knob does);
- **unchanged values**: on benign/small data the corpus profile is
  value-identical to the unguarded default (caps sized for 100 TB never
  fire at test scale), and an explicitly passed knob always beats the
  profile.
"""

from __future__ import annotations

import math

import pytest

from scrapontologies_spark import profiles
from scrapontologies_spark.operators import dedup, similarity


# ---------------------------------------------------------------------------
# resolution semantics (pure)
# ---------------------------------------------------------------------------


def test_resolve_profile():
    assert profiles.resolve_profile(None) is profiles.SMALL
    assert profiles.resolve_profile("corpus") is profiles.CORPUS
    assert profiles.resolve_profile("small") is profiles.SMALL
    custom = profiles.ScaleProfile(name="x", max_bucket_df=7)
    assert profiles.resolve_profile(custom) is custom
    with pytest.raises(ValueError, match="unknown scale profile"):
        profiles.resolve_profile("huge")


def test_pick_explicit_wins():
    assert profiles.pick(5, 10_000) == 5
    assert profiles.pick(None, 10_000) == 10_000
    assert profiles.pick(None, None) is None
    # 0 is explicit, not "unset"
    assert profiles.pick(0, 8) == 0


def test_small_profile_is_all_off():
    assert profiles.SMALL == profiles.ScaleProfile(name="small")


# ---------------------------------------------------------------------------
# guard engagement + value identity on the batch operators
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"document {i} talks about spark shuffle plans and joins {i % 5}")
        for i in range(30)
    ]
    rows += [(100, "the quick brown fox"), (101, "the quick brown fox!")]
    return spark.createDataFrame(rows, "doc_id bigint, text string").persist()


@pytest.fixture(scope="module")
def hot_docs(spark):
    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(60)]
    rows += [
        (100, "completely different content about spark shuffle plans"),
        (101, "completely different content about spark shuffle plan"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").persist()


@pytest.fixture(scope="module")
def embeddings(spark):
    rows = [
        (i, [math.sin(0.7 * i + j) for j in range(8)]) for i in range(24)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_profile_fills_bucket_cap_like_explicit_knob(spark, hot_docs):
    sigs = dedup.minhash_signatures(dedup.shingles(hot_docs), num_hashes=8)
    tight = profiles.ScaleProfile(name="tight", max_bucket_df=10)
    m_prof: dict = {}
    via_profile = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            sigs, scale=tight, bucket_metrics=m_prof
        ).collect()
    }
    m_expl: dict = {}
    via_explicit = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            sigs, max_bucket_df=10, bucket_metrics=m_expl
        ).collect()
    }
    assert via_profile == via_explicit
    assert m_prof == m_expl
    assert m_prof["hot_buckets"] > 0  # the guard really engaged


def test_explicit_knob_beats_profile(spark, hot_docs):
    sigs = dedup.minhash_signatures(dedup.shingles(hot_docs), num_hashes=8)
    base = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    # profile says cap=1 (would drop everything shared); explicit loose cap
    # wins → identical to unguarded
    one = profiles.ScaleProfile(name="one", max_bucket_df=1)
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            sigs, max_bucket_df=10**9, scale=one
        ).collect()
    }
    assert got == base


def test_corpus_profile_value_identical_on_small_data(spark, docs, embeddings):
    # the 10⁴ caps cannot fire at test scale → bit-identical results
    base_j = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    got_j = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.2, scale="corpus"
        ).collect()
    }
    assert got_j == base_j

    base_k = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk_lsh(embeddings, k=2).collect()
    }
    got_k = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk_lsh(
            embeddings, k=2, scale="corpus"
        ).collect()
    }
    assert got_k == base_k

    base_e = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(
            embeddings, threshold=0.5, lsh_tables=2, lsh_planes=3
        ).collect()
    }
    got_e = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(
            embeddings, threshold=0.5, lsh_tables=2, lsh_planes=3,
            scale=profiles.CORPUS,
        ).collect()
    }
    assert got_e == base_e
