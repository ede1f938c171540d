"""Training-data pipeline operators: dedup / similarity / text analysis /
multimodal plumbing — validated against driver-side pure-Python oracles on
the driver's documents/embeddings tables (sf0.001 for speed)."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from scrapontologies_spark.operators import dedup, multimodal, similarity, textops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


@pytest.fixture(scope="module")
def docs_pd(docs):
    return docs.toPandas()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").persist()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _shingles(text: str, k: int = 3) -> set:
    toks = text.split(" ")
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)} if len(toks) >= k else set()


def test_exact_dedup(spark, docs, docs_pd):
    got = {r.content_hash: (r.keep_id, r.n_dups) for r in dedup.exact_dedup(docs).collect()}
    expected: dict = {}
    for _, row in docs_pd.iterrows():
        h = _md5(row.text)
        kid, n = expected.get(h, (row.doc_id, 0))
        expected[h] = (min(kid, row.doc_id), n + 1)
    assert got == expected


def test_exact_dedup_with_duplicates(spark):
    """The sf fixture has 500/500 DISTINCT texts, so test_exact_dedup never
    exercises a group of size > 1 — this synthetic corpus pins the min-id
    tie-break and the n_dups group count on actual duplicates."""
    docs = spark.createDataFrame(
        [(5, "alpha beta"), (1, "alpha beta"), (3, "alpha beta"), (2, "gamma")],
        "doc_id long, text string",
    )
    got = {r.keep_id: r.n_dups for r in dedup.exact_dedup(docs).collect()}
    assert got == {1: 3, 2: 1}


def test_shingles_and_minhash(spark, docs, docs_pd):
    sh = dedup.shingles(docs)
    got = {}
    for r in sh.collect():
        got.setdefault(r.doc_id, set()).add(r.shingle)
    for _, row in docs_pd.iterrows():
        assert got.get(row.doc_id, set()) == _shingles(row.text), row.doc_id

    sigs = dedup.minhash_signatures(sh, num_hashes=4)
    row0 = sigs.filter(F.col("doc_id") == docs_pd.doc_id.iloc[0]).collect()[0]
    shs = _shingles(docs_pd.text.iloc[0])
    for i in range(4):
        assert row0[f"sig_{i}"] == min(_md5(s + f"#{i}") for s in shs)


def test_lsh_candidates_superset_of_high_jaccard(spark, docs, docs_pd):
    """Every pair with Jaccard ≥ 0.9 must be an LSH candidate (banding
    guarantee direction we can assert deterministically)."""
    sigs = dedup.minhash_signatures(dedup.shingles(docs), num_hashes=8)
    cands = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(sigs, 8, 2).collect()}
    sh_map = {row.doc_id: _shingles(row.text) for _, row in docs_pd.iterrows()}
    ids = sorted(sh_map)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sh_map[a], sh_map[b]
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.9:
                assert (a, b) in cands, f"missed near-dup pair ({a},{b}) j={j}"


def test_ngram_jaccard_pairs_exhaustive(spark, docs, docs_pd):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.2, candidates=None
        ).collect()
    }
    sh_map = {row.doc_id: _shingles(row.text) for _, row in docs_pd.iterrows()}
    ids = sorted(sh_map)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sh_map[a], sh_map[b]
            if sa and sb and (sa & sb):
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.2:
                    expected[(a, b)] = j
    assert set(got) == set(expected)
    for pair, j in expected.items():
        assert got[pair] == pytest.approx(j, abs=1e-12)


def test_ngram_jaccard_default_lsh_path(spark, docs, docs_pd):
    """DEFAULT = LSH candidate space: output ⊆ exhaustive with identical
    jaccard values, and every high-similarity pair (j ≥ 0.9 — the banding
    guarantee direction) is present."""
    exhaustive = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.2, candidates=None
        ).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert set(got) <= set(exhaustive)
    for pair, j in got.items():
        assert j == pytest.approx(exhaustive[pair], abs=1e-12)
    for pair, j in exhaustive.items():
        if j >= 0.9:
            assert pair in got, f"LSH default missed near-dup {pair} j={j}"


def test_ngram_jaccard_shingle_df_cap(spark, docs, docs_pd):
    """max_shingle_df drops stop-phrase shingles from the Jaccard space
    (intersections AND sizes) — matches a python oracle on the capped sets."""
    cap = 3
    sh_map = {row.doc_id: _shingles(row.text) for _, row in docs_pd.iterrows()}
    df_count: dict = {}
    for s in sh_map.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    capped = {d: {g for g in s if df_count[g] <= cap} for d, s in sh_map.items()}
    ids = sorted(capped)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = capped[a], capped[b]
            if sa and sb and (sa & sb):
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.2:
                    expected[(a, b)] = j
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.2, candidates=None, max_shingle_df=cap
        ).collect()
    }
    assert set(got) == set(expected)
    for pair, j in expected.items():
        assert got[pair] == pytest.approx(j, abs=1e-12)


def test_minhash_estimate_sane_vs_exact(spark, docs, docs_pd):
    """Signature-only estimate tracks exact jaccard within the 8-hash
    std-error (~0.35).  The fixture holds NO exact-duplicate pair, so the
    j==1.0 branch below is dormant here — the duplicate case is pinned by
    test_minhash_estimate_exact_duplicate_is_one on a synthetic corpus."""
    sh = dedup.shingles(docs)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    cand = dedup.lsh_candidate_pairs(sigs, 8, 2)
    est = {
        (r.doc_a, r.doc_b): r.jaccard_est
        for r in dedup.minhash_jaccard_estimate(sigs, cand, 8).collect()
    }
    assert est
    sh_map = {row.doc_id: _shingles(row.text) for _, row in docs_pd.iterrows()}
    for (a, b), e in est.items():
        sa, sb = sh_map[a], sh_map[b]
        j = len(sa & sb) / len(sa | sb) if (sa | sb) else 0.0
        if j == 1.0:
            assert e == 1.0, (a, b)
        assert abs(e - j) <= 0.4, (a, b, e, j)


def test_minhash_estimate_exact_duplicate_is_one(spark):
    """Identical texts ⇒ identical shingle sets ⇒ identical signatures ⇒
    every band collides (guaranteed candidate) and the estimate is exactly
    1.0 — a per-doc salt leaking into the hash would break this."""
    docs = spark.createDataFrame(
        [(11, "a b c d e f"), (22, "a b c d e f"), (33, "x y z w v u")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(dedup.shingles(docs), num_hashes=8)
    cand = dedup.lsh_candidate_pairs(sigs, 8, 2)
    est = {
        (r.doc_a, r.doc_b): r.jaccard_est
        for r in dedup.minhash_jaccard_estimate(sigs, cand, 8).collect()
    }
    assert est[(11, 22)] == 1.0
    assert all(e < 1.0 for p, e in est.items() if p != (11, 22))


def test_duplicate_clusters_transitive_and_numeric_min(spark):
    """pairs (9,10),(10,11) chain into ONE cluster with canonical 9 — the
    numeric minimum, not the lexicographic one ('10' < '9' as strings);
    singletons cluster to themselves."""
    docs = spark.createDataFrame([(i,) for i in (2, 9, 10, 11)], "doc_id long")
    pairs = spark.createDataFrame([(9, 10), (10, 11)], "doc_a long, doc_b long")
    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.duplicate_clusters(docs, pairs).collect()
    }
    assert got == {
        2: (2, True),
        9: (9, True),
        10: (9, False),
        11: (9, False),
    }


def test_simhash_oracle(spark, docs, docs_pd):
    got = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=16).collect()}
    for _, row in docs_pd.head(20).iterrows():
        toks = [t for t in row.text.split(" ") if t]
        fp = 0
        for bit in range(16):
            vote = sum(
                1 if (int(_md5(t)[:15], 16) >> bit) & 1 else -1 for t in toks
            )
            if vote > 0:
                fp |= 1 << bit
        assert got[row.doc_id] == fp, row.doc_id


def test_cosine_topk_bruteforce(spark, emb):
    epd = emb.toPandas()
    queries = emb.filter(F.col("vec_id") < 3)
    got = dedup_sorted = (
        similarity.cosine_topk_bruteforce(emb, queries, k=3)
        .orderBy("query_id", "rank")
        .collect()
    )
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64) for _, r in epd.iterrows()}
    for qid in range(3):
        q = vecs[qid]
        sims = []
        for nid, v in vecs.items():
            if nid == qid:
                continue
            c = float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
            sims.append((-c, nid))
        sims.sort()
        expect = [nid for _, nid in sims[:3]]
        mine = [r.neighbor_id for r in got if r.query_id == qid]
        assert mine == expect, f"query {qid}"
        neg_by_id = {n: s for s, n in sims}
        for r in got:
            if r.query_id == qid:
                assert r.cosine == pytest.approx(-neg_by_id[r.neighbor_id], abs=1e-9)


def _sign_lsh_theory_recall(mean_top_cos: float, planes: int, tables: int) -> float:
    """The engine's own formula (similarity.sign_lsh_union_recall) — one
    home, so the gate and the documented curves cannot drift apart."""
    return similarity.sign_lsh_union_recall(mean_top_cos, planes, tables)


def test_lsh_topk_recall(spark, emb):
    """LSH top-k recall vs brute force tracks sign-LSH theory on sf0.001's
    ISOTROPIC embeddings (the worst case for any ANN — mean top-k cosine
    ~0.3, so theory itself caps recall; the sf0.01 sweep in
    BENCH_SCALING.md matches theory within ±0.01 across a 10-point grid).
    The gate is implementation-shaped — measured ≥ theory − 0.15 — not a
    data-dependent magic floor; the quality gate at realistic data lives in
    test_lsh_topk_recall_clustered."""
    bf_rows = similarity.cosine_topk_bruteforce(emb, emb, k=3).collect()
    lsh = similarity.cosine_topk_lsh(emb, k=3, n_planes=4, n_tables=8)
    bf_set = {(r.query_id, r.neighbor_id) for r in bf_rows}
    mean_top_cos = sum(r.cosine for r in bf_rows) / len(bf_rows)
    lsh_set = {(r.query_id, r.neighbor_id) for r in lsh.collect()}
    recall = len(bf_set & lsh_set) / len(bf_set)
    theory = _sign_lsh_theory_recall(mean_top_cos, planes=4, tables=8)
    assert recall >= theory - 0.15, (recall, theory)
    assert recall >= 0.4, recall
    # pin the theory function itself at hardcoded values (1-(1-p^k)^L with
    # p = 1 - acos(cos)/pi): the gate above is measured-vs-theory, so a
    # regression in sign_lsh_union_recall would otherwise drift BOTH sides
    # of the comparison together and the gate would never fire
    assert similarity.sign_lsh_union_recall(0.3, 4, 8) == pytest.approx(
        0.6626737768312254
    )
    assert similarity.sign_lsh_union_recall(0.9, 6, 8) == pytest.approx(
        0.9819569054248056
    )
    assert similarity.sign_lsh_union_recall(0.5, 8, 16) == pytest.approx(
        0.47101805340916303
    )
    # bucket sizes: deterministic md5 planes on the fixed fixture put at
    # most 22 of 500 vectors in one 6-plane bucket; n/10 is a tight-enough
    # skew guard with margin (the old n/2 bound was near-unfailable)
    from scrapontologies_spark.operators.similarity import hyperplane_bucket

    sizes = hyperplane_bucket(emb, 6).groupBy("bucket").count().collect()
    assert max(r["count"] for r in sizes) <= emb.count() / 10


@pytest.fixture(scope="module")
def emb_clustered(spark):
    """Deterministic clustered embeddings (the realistic corpus-embedding
    shape: mean top-k cosine ~0.97) — the quality-gate fixture for the
    approximate similarity paths.  Literally the sf1 bench generator
    (sources/corpus.clustered_embeddings) at a smaller size, so the gate
    and the documented recall curves cannot drift apart."""
    from scrapontologies_spark.sources.corpus import clustered_embeddings

    return (
        clustered_embeddings(spark, 400, dim=32, n_clusters=16, partitions=8)
        .persist()
    )


def test_lsh_topk_recall_clustered(spark, emb_clustered):
    """Quality gate at the DEFAULT knobs (n_tables=8, n_planes=4) on
    clustered data: recall ≥ 0.95 (measured 1.000 at n=2000 in the sf0.01
    sweep, BENCH_SCALING.md)."""
    emb = emb_clustered
    bf = similarity.cosine_topk_bruteforce(emb, emb, k=5)
    lsh = similarity.cosine_topk_lsh(emb, k=5, n_planes=4, n_tables=8)
    bf_set = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    lsh_set = {(r.query_id, r.neighbor_id) for r in lsh.collect()}
    recall = len(bf_set & lsh_set) / len(bf_set)
    assert recall >= 0.95, recall


def test_ivf_topk_recall_clustered(spark, emb_clustered):
    """Quality gate at the DEFAULT knobs (k_cells=16, n_probe=4) on
    clustered data: recall ≥ 0.95 (measured 0.997 at n=2000 in the sf0.01
    sweep, BENCH_SCALING.md)."""
    emb = emb_clustered
    bf = similarity.cosine_topk_bruteforce(emb, emb, k=5)
    ivf = similarity.cosine_topk_ivf(emb, emb, k=5, k_cells=16, n_probe=4)
    bf_set = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.95, recall


def test_ivf_topk_recall_and_candidate_bound(spark, emb):
    """IVF top-k: recall vs brute force ≥ 0.4 at 16 cells / 4 probes on
    sf0.001, every vector lands in exactly one cell, and candidates are
    restricted to probed cells (the inverted-file contract)."""
    from scrapontologies_spark.operators.similarity import (
        cosine_topk_ivf,
        ivf_assign,
        ivf_centroids,
    )

    bf = similarity.cosine_topk_bruteforce(emb, emb, k=3)
    ivf = cosine_topk_ivf(emb, emb, k=3, k_cells=16, n_probe=4)
    bf_set = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.4, recall

    cents = ivf_centroids(emb, 16)
    assert cents.count() == 16
    assign = ivf_assign(emb, cents)
    assert assign.count() == emb.count()  # exactly one cell per vector
    assert assign.select("vec_id").distinct().count() == emb.count()


def test_language_id(spark, docs, docs_pd):
    got = {r.doc_id: r.pred_lang for r in textops.language_id(docs).collect()}
    import re

    def oracle(text):
        # independent re-derivation of the ENGINE-AGNOSTIC semantics the
        # implementation documents (_count_markers): token-split ASCII
        # membership + CJK substring counts — NOT \b, whose word-character
        # set the impl deliberately avoids (Java/RE2/Python disagree); the
        # boundary cases where \b and token-split diverge are pinned with
        # hardcoded counts in test_language_id_boundary_semantics
        toks = re.split(r"[^A-Za-z0-9_]+", text)
        best_hits, best_lang = -1, None
        for lang in sorted(textops.LANG_MARKERS):
            ascii_m = {m for m in textops.LANG_MARKERS[lang] if m.isascii()}
            hits = sum(1 for t in toks if t in ascii_m)
            hits += sum(
                text.count(m)
                for m in textops.LANG_MARKERS[lang]
                if not m.isascii()
            )
            if hits > best_hits:
                best_hits, best_lang = hits, lang
        return best_lang

    agree = sum(
        1 for _, row in docs_pd.iterrows() if got[row.doc_id] == oracle(row.text)
    )
    assert agree == len(docs_pd)
    # NOTE: the driver's documents table draws the SAME analytics vocabulary
    # for every lang label, so no marker gazetteer can recover the label —
    # the contract here is Spark == oracle == SQL, not label accuracy.


def test_language_id_boundary_semantics(spark):
    """Hardcoded marker-hit counts on texts where token-split and \\b
    semantics DIVERGE — a regression back to Java-\\b counting (or a
    corrupted LANG_MARKERS table) fails these exact numbers.

    'theé fast': é splits the token, so 'the' matches (2 en hits); a
    Python/Java unicode \\b sees é as a word char and finds only 'fast'.
    '的和的 表': CJK substring counts (2+1+1=4 zh hits); \\b alternations
    never match CJK consistently across engines."""
    docs = spark.createDataFrame(
        [(1, "theé fast"), (2, "的和的 表")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.pred_lang, r.marker_hits)
        for r in textops.language_id(docs).collect()
    }
    assert got == {1: ("en", 2), 2: ("zh", 4)}


def test_token_stats_and_quality(spark, docs, docs_pd):
    ts = {r.doc_id: r for r in textops.token_stats(docs).collect()}
    qs = {r.doc_id: r for r in textops.quality_score(docs).collect()}
    for _, row in docs_pd.head(30).iterrows():
        toks = [t for t in row.text.split() if t]
        assert ts[row.doc_id].n_tokens == len(toks)
        assert ts[row.doc_id].n_distinct_tokens == len(set(toks))
        assert qs[row.doc_id].n_chars_measured == len(row.text)
        assert qs[row.doc_id].mean_word_len == pytest.approx(
            sum(len(t) for t in toks) / len(toks), abs=1e-9
        )


def test_fingerprint(spark, docs, docs_pd):
    import re

    got = {r.doc_id: r.fingerprint for r in textops.fingerprint(docs).collect()}
    for _, row in docs_pd.head(30).iterrows():
        norm = re.sub(r"\s+", " ", row.text.lower()).strip()
        assert got[row.doc_id] == _md5(norm)


def test_repetition_stats_oracle_and_edges(spark, docs, docs_pd):
    from collections import Counter

    got = {r.doc_id: r for r in textops.repetition_stats(docs).collect()}
    for _, row in docs_pd.head(30).iterrows():
        toks = [t for t in row.text.split() if t]
        uni = Counter(toks)
        big = Counter(" ".join(p) for p in zip(toks, toks[1:]))
        r = got[row.doc_id]
        assert r.n_tokens == len(toks)
        assert abs(r.top_unigram_frac - max(uni.values()) / len(toks)) < 1e-9
        rep = sum(c for c in uni.values() if c > 1)
        assert abs(r.repeated_token_frac - rep / len(toks)) < 1e-9
        exp_big = max(big.values()) / sum(big.values()) if big else 0.0
        assert abs(r.top_bigram_frac - exp_big) < 1e-9

    # edge cases: single-token and repeated-token docs
    tiny = spark.createDataFrame(
        [(1, "solo"), (2, "a a a b"), (3, "x y x y x y")], "doc_id long, text string"
    )
    t = {r.doc_id: r for r in textops.repetition_stats(tiny).collect()}
    assert t[1].n_tokens == 1 and t[1].top_bigram_frac == 0.0  # no bigrams
    assert abs(t[2].top_unigram_frac - 3 / 4) < 1e-9
    assert abs(t[2].repeated_token_frac - 3 / 4) < 1e-9
    assert abs(t[3].top_bigram_frac - 3 / 5) < 1e-9  # 'x y' 3× of 5 bigrams


def test_decontaminate_broadcast_and_semantics(spark):
    train = spark.createDataFrame(
        [
            (1, "one two three four five six"),      # shares gram with eval
            (2, "totally different words here now"), # clean
            (3, "one two three four five"),          # exactly one gram, shared
            (4, "tiny doc"),                         # < ngram tokens → clean
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "zzz one two three four five zzz")], "doc_id long, text string"
    )
    out = textops.decontaminate(train, ev, ngram=5)
    got = {r.doc_id: r.n_shared_grams for r in out.collect()}
    # eval grams: 'zzz one two three four', 'one two three four five',
    # 'two three four five zzz'
    assert got == {1: 1, 3: 1}
    # plan: eval side must be broadcast (it's a benchmark — tiny)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_multimodal_plumbing(spark):
    media = multimodal.synthetic_media(spark, 30)
    # stub raises without an injected codec
    with pytest.raises(Exception):
        multimodal.extract_features(media).collect()

    def fake_decode(kind: str, payload: bytes) -> list:
        return [float(len(payload)), float(payload[0]), {"image": 1.0, "audio": 2.0, "video": 3.0}[kind]]

    feats = multimodal.extract_features(media, decode_fn=fake_decode).collect()
    assert len(feats) == 30
    for r in feats:
        assert r.n_bytes == r.feature[0]
        assert len(r.feature) == 3

    b64 = multimodal.base64_encode(media).collect()
    import base64 as b64mod

    raw = {r.media_id: bytes(r.payload) for r in media.collect()}
    for r in b64:
        assert r.payload_b64.replace("\r\n", "") == b64mod.b64encode(raw[r.media_id]).decode()

    frames = multimodal.frame_sample(media, every_ms=500)
    n_videos = media.filter("kind = 'video'").count()
    assert frames.select("media_id").distinct().count() == n_videos


def test_stdlib_decode_real_wav_and_pgm(spark):
    """REAL decode path, no injected fake: valid WAV/PGM payloads through
    the distributed extract_features with stdlib_decode match a driver-side
    decode of the same bytes; unknown magic still raises."""
    import io as _io
    import struct as _struct
    import wave as _wave

    media = multimodal.synthetic_real_media(spark, 20)
    feats = {
        r.media_id: r.feature
        for r in multimodal.extract_features(
            media, decode_fn=multimodal.stdlib_decode
        ).collect()
    }
    raw = {r.media_id: (r.kind, bytes(r.payload)) for r in media.collect()}
    assert len(feats) == 20
    for mid, (kind, payload) in raw.items():
        expected = multimodal.stdlib_decode(kind, payload)
        got = feats[mid]
        assert len(got) == 4
        for g, e in zip(got, expected):
            assert g == pytest.approx(e, rel=1e-6), mid
        if kind == "audio":
            # cross-check duration against an independent wave read
            with _wave.open(_io.BytesIO(payload), "rb") as w:
                assert got[2] == pytest.approx(
                    w.getnframes() * 1000.0 / w.getframerate(), rel=1e-6
                )
            assert 0.0 <= got[3] <= 1.0
        else:
            assert got[0] * got[1] > 0 and 0.0 <= got[3] <= 1.0
    with pytest.raises(NotImplementedError):
        multimodal.stdlib_decode("video", b"\x00\x01\x02\x03junk")


def test_embedding_near_dup_exact_vs_numpy(spark, emb):
    """Exact near-dup pairs == numpy oracle (cosine >= t, id_a < id_b)."""
    t = 0.3
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_near_dup_pairs(emb, threshold=t).collect()
    }
    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    want = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cos[i, j] >= t - 1e-9:
                want[(int(ids[i]), int(ids[j]))] = cos[i, j]
    # allow boundary wobble at the threshold itself
    assert set(want) - set(got) <= {k for k, v in want.items() if abs(v - t) < 1e-6}
    for k, v in got.items():
        assert k in want and abs(want[k] - v) < 1e-5


def test_embedding_near_dup_lsh_subset_of_exact(spark, emb):
    """Scale path: LSH-bucketed pairs ⊆ exact pairs (precision 1.0) with
    usable recall on the sf0.001 vectors."""
    t = 0.25
    exact = set(
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(emb, threshold=t).collect()
    )
    approx = set(
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            emb, threshold=t, lsh_tables=8, lsh_planes=4
        ).collect()
    )
    assert approx <= exact
    assert len(exact) > 0
    assert len(approx) / len(exact) >= 0.5  # recall floor at 8 tables


def test_sample_stratified_deterministic_and_matches_oracle(spark, docs, docs_pd):
    """Keep decisions are a pure md5 function of the id: python-oracle
    exact, invariant under repartitioning, unlisted strata dropped when
    default_rate is None."""
    from scrapontologies_spark.operators.sampling import sample_stratified

    rates = {"src0": 1.0, "src1": 0.5}

    def keep(doc_id, source, default):
        r = rates.get(source, default)
        if r is None:
            return False
        h = int(_md5(f"{doc_id}#strat")[:8], 16) / 16 ** 8
        return h < r

    expected = {
        int(row.doc_id)
        for _, row in docs_pd.iterrows()
        if keep(row.doc_id, row.source, 0.2)
    }
    got = {
        r.doc_id
        for r in sample_stratified(docs, rates, default_rate=0.2).collect()
    }
    assert got == expected and 0 < len(got) < len(docs_pd)

    # partitioning-independent
    got_rep = {
        r.doc_id
        for r in sample_stratified(
            docs.repartition(13), rates, default_rate=0.2
        ).collect()
    }
    assert got_rep == got

    # default None drops unlisted strata entirely
    only = sample_stratified(docs, rates).select("source").distinct().collect()
    assert {r.source for r in only} <= {"src0", "src1"}


def test_pack_sequences_invariants(spark, docs, docs_pd):
    """Packing: start-offset binning per group — pack ids monotone in doc
    order, offsets < capacity, python-oracle exact, repartition-invariant."""
    from scrapontologies_spark.operators.sampling import pack_sequences

    cap = 1000
    got = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in pack_sequences(docs, capacity=cap).collect()
    }
    expected = {}
    for source, grp in docs_pd.sort_values("doc_id").groupby("source"):
        cum = 0
        for _, row in grp.iterrows():
            expected[int(row.doc_id)] = (cum // cap, cum % cap)
            cum += int(row.n_chars)
    assert got == expected
    assert all(off < cap for _, off in got.values())
    got_rep = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in pack_sequences(docs.repartition(7), capacity=cap).collect()
    }
    assert got_rep == got


def test_lsh_ops_tolerate_empty_embeddings(spark, emb):
    """_vector_dim must not raise on an empty input: every LSH-backed
    operator returns an empty result instead of TypeError."""
    empty = emb.filter(F.col("vec_id") < 0)
    assert similarity.hyperplane_bucket(empty, n_planes=2).count() == 0
    assert similarity.cosine_topk_lsh(empty, k=3, n_planes=2, n_tables=2).count() == 0
    assert (
        dedup.embedding_near_dup_pairs(
            empty, threshold=0.5, lsh_tables=2, lsh_planes=2
        ).count()
        == 0
    )


def test_bucket_udf_null_and_ragged_rows(spark, emb):
    """NULL embeddings and rows whose length differs from the probed dim
    yield NULL bucket keys (graceful NULL propagation) instead of crashing
    the Arrow kernel; non-degenerate rows keep their exact keys."""
    base = {r["vec_id"]: r["bucket"] for r in
            similarity.hyperplane_bucket(emb, n_planes=4).collect()}
    degraded = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 11 == 0, F.lit(None))          # NULL rows
        .when(F.col("vec_id") % 7 == 0, F.slice("embedding", 1, 3))  # ragged
        .otherwise(F.col("embedding")),
    )
    got = {r["vec_id"]: r["bucket"] for r in
           similarity.hyperplane_bucket(degraded, n_planes=4).collect()}
    assert set(got) == set(base)
    for vid, bucket in got.items():
        if vid % 11 == 0 or vid % 7 == 0:
            assert bucket is None, vid
        else:
            assert bucket == base[vid], vid
    # the near-dup scale path must survive the same degradation and never
    # emit a degraded id (NULL keys fall out of the bucket join)
    pairs = dedup.embedding_near_dup_pairs(
        degraded, threshold=0.2, lsh_tables=2, lsh_planes=3
    ).collect()
    assert all(
        r["id_a"] % 11 != 0 and r["id_a"] % 7 != 0
        and r["id_b"] % 11 != 0 and r["id_b"] % 7 != 0
        for r in pairs
    )


def test_bucket_udf_nan_matches_sql_semantics(spark, emb):
    """A NaN projection must take the '1' sign bit: both Spark SQL and
    DuckDB order NaN above every number (`NaN >= 0` is true), so the Arrow
    kernel mirrors that — np.where(proj >= 0) alone would flip it."""
    import duckdb

    one = emb.limit(1).withColumn(
        "embedding",
        F.transform("embedding", lambda _: F.lit(float("nan")).cast("float")),
    )
    n_planes = 4
    [row] = similarity.hyperplane_bucket(one, n_planes=n_planes).collect()
    assert row["bucket"] == "1" * n_planes
    # independent engine check of the comparison semantics the kernel mirrors
    assert duckdb.sql("SELECT 'nan'::DOUBLE >= 0").fetchone()[0] is True
    assert spark.sql("SELECT double('NaN') >= 0").collect()[0][0] is True


def test_decode_pgm_whitespace_leading_raster():
    """P5 raster bytes that happen to be whitespace codes (9-13, 32) are
    pixel data, not header separators: exactly one whitespace byte follows
    maxval.  A split(None)-based parser silently truncates this raster."""
    pixels = bytes([32, 10, 65, 66, 67, 68])
    payload = b"P5\n3 2\n255\n" + pixels
    w, h, maxval, mean = multimodal.decode_pgm(payload)
    assert (w, h, maxval) == (3.0, 2.0, 255.0)
    assert mean == pytest.approx(sum(pixels) / 6 / 255)
    # multi-whitespace header tokens still parse
    w2, h2, maxval2, mean2 = multimodal.decode_pgm(
        b"P5  \n 2   2 \n255 " + bytes([1, 2, 3, 4])
    )
    assert (w2, h2, maxval2, mean2) == (2.0, 2.0, 255.0, pytest.approx(10 / 4 / 255))
    with pytest.raises(ValueError):
        multimodal.decode_pgm(b"P5\n3 2")  # truncated header


def test_job_cli_rejects_typos_and_missing_values():
    """A mistyped flag or a flag missing its value is a usage error, not a
    silent positional (the old hand-rolled parser routed '--allowed-kind'
    into warehouse_root)."""
    from scrapontologies_spark.plans.job import _arg_parser

    ap = _arg_parser()
    args = ap.parse_args(
        ["/tmp/wh", "123", "--allowed-terms", "x", "--allowed-kinds", "function,class"]
    )
    assert args.warehouse_root == "/tmp/wh" and args.n_rows == 123
    assert args.allowed_terms == "x" and args.allowed_kinds == "function,class"
    with pytest.raises(SystemExit):
        ap.parse_args(["--allowed-kind", "function", "/tmp/wh"])  # typo
    with pytest.raises(SystemExit):
        ap.parse_args(["--allowed-terms"])  # missing value


def test_marker_counts_cross_engine_on_hostile_text(spark):
    """language_id parity survives non-ASCII text: \\b diverges between
    Java, RE2 and Python on CJK/accented neighbors, so marker counting
    uses token-split (ASCII words) + substring counts (CJK) — identical in
    Spark and DuckDB by construction."""
    import duckdb
    import pandas as pd

    texts = [
        "the fast and slow",
        "joiné the naïve and",
        "的 和 表 快 慢",
        "的和表快慢大小",
        "a_the b the,fast der die das",
        "",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    got = (
        textops.language_id(sdf)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    from scrapontologies_spark.plans import dataset_queries as DQ

    sql = DQ.oracle_sql()["text_lang_id"]
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(sql).df().sort_values("doc_id").reset_index(drop=True)
    assert got["pred_lang"].tolist() == want["pred_lang"].tolist()
    assert got["marker_hits"].tolist() == [int(x) for x in want["marker_hits"]]
    # CJK markers are counted in-run (no word boundaries in Chinese)
    assert got.loc[3, "pred_lang"] == "zh" and got.loc[3, "marker_hits"] == 7


def test_decode_pgm_truncated_raster_raises():
    """A short raster with an intact header must raise, not return a
    plausible understated mean."""
    with pytest.raises(ValueError, match="truncated PGM raster"):
        multimodal.decode_pgm(b"P5\n4 2\n255\n" + bytes([1, 2, 3]))
    with pytest.raises(ValueError, match="truncated PGM raster"):
        multimodal.decode_pgm(b"P2\n2 2\n255\n0 64 128")


# ---------------------------------------------------------------------------
# hot-bucket guard (max_bucket_df) on the three LSH bucket self-joins
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hot_docs(spark):
    """60 clones of one boilerplate doc (one MinHash band bucket holding all
    60 → 1770 candidate pairs from a single bucket) + a cool near-dup pair."""
    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(60)]
    rows += [
        (100, "completely different content about spark shuffle plans"),
        (101, "completely different content about spark shuffle plan"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").persist()


def test_hot_bucket_guard_noop_when_under_cap(spark, docs):
    sigs = dedup.minhash_signatures(dedup.shingles(docs), num_hashes=8)
    base = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    metrics: dict = {}
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            sigs, max_bucket_df=10**9, bucket_metrics=metrics
        ).collect()
    }
    assert capped == base
    assert metrics == {"hot_buckets": 0, "hot_bucket_rows": 0}


def test_hot_bucket_guard_bounds_candidates(spark, hot_docs):
    sigs = dedup.minhash_signatures(dedup.shingles(hot_docs), num_hashes=8)
    uncapped = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    clone_pairs = {(a, b) for a in range(60) for b in range(60) if a < b}
    assert clone_pairs <= uncapped  # the quadratic bucket is real
    metrics: dict = {}
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            sigs, max_bucket_df=10, bucket_metrics=metrics
        ).collect()
    }
    # every clone bucket (df=60 > 10) dropped; the cool pair survives
    assert capped & clone_pairs == set()
    assert (100, 101) in capped
    assert metrics["hot_buckets"] > 0
    assert metrics["hot_bucket_rows"] >= 60
    # drop is recall-lossy, never additive
    assert capped <= uncapped


def test_ngram_jaccard_forwards_bucket_cap(spark, hot_docs):
    got = dedup.ngram_jaccard_pairs(hot_docs, threshold=0.1, max_bucket_df=10)
    pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    assert all(not (a < 60 and b < 60) for a, b in pairs)
    assert (100, 101) in pairs


@pytest.fixture(scope="module")
def hot_emb(spark):
    """40 copies of one vector (a degenerate sign-LSH bucket) + an isotropic
    tail — the adversarial shape for the embedding bucket joins."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]) for i in range(40)]
    rows += [
        (100 + j, [float(x) for x in rng.randn(8)]) for j in range(30)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").persist()


def test_embedding_near_dup_hot_bucket_guard(spark, hot_emb):
    base = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(
            hot_emb, threshold=0.99, lsh_tables=4
        ).collect()
    }
    clone_pairs = {(a, b) for a in range(40) for b in range(40) if a < b}
    assert clone_pairs <= base
    metrics: dict = {}
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(
            hot_emb,
            threshold=0.99,
            lsh_tables=4,
            max_bucket_df=10,
            bucket_metrics=metrics,
        ).collect()
    }
    assert capped & clone_pairs == set()
    assert capped <= base
    assert metrics["hot_buckets"] > 0
    # noop under a loose cap
    loose = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(
            hot_emb, threshold=0.99, lsh_tables=4, max_bucket_df=10**9
        ).collect()
    }
    assert loose == base


def _sign_lsh_keys_ref(vec, seeds, prefixes, n_planes):
    """Pure-Python bucket keys of one vector, one per table: the half-sum
    projection 2·Σ_{w=+1} x_i − Σ x_i accumulated left to right, NaN
    taking the '1' bit."""
    dim = len(vec)
    total = 0.0
    for v in vec:
        total += v
    keys = []
    for seed, prefix in zip(seeds, prefixes):
        key = prefix
        for p in range(n_planes):
            acc = 0.0
            for i, w in enumerate(similarity._plane_signs(seed, p, dim)):
                if w > 0:
                    acc += vec[i]
            proj = 2.0 * acc - total
            key += "1" if math.isnan(proj) or proj >= 0.0 else "0"
        keys.append(key)
    return keys


def test_sign_lsh_pairs_matches_python_reference(spark):
    """The shared sign-LSH candidate generator == a pure-Python reference:
    per-table keys from _plane_signs, hot buckets dropped, unordered pairs
    (a < b) sharing any remaining bucket.  The fixture has a pair that
    collides only in table 1, equal sign bits across tables (so the table
    prefix matters), a NULL and a ragged row (no keys), and 5 clones whose
    buckets exceed the cap."""
    from collections import defaultdict

    seeds, prefixes, n_planes, cap = ["neardup0", "neardup1"], ["0#", "1#"], 4, 4
    rng = np.random.RandomState(2)
    rows = [(i, [float(np.float32(v)) for v in rng.randn(4)]) for i in range(16)]
    rows += [(30 + j, [1.0, 2.0, 3.0, 4.0]) for j in range(5)]
    # the ragged row goes last: the dim probe reads the first non-NULL row
    rows += [(40, None), (41, [1.0, 2.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    metrics: dict = {}
    got = {
        (r.a, r.b)
        for r in similarity._sign_lsh_pairs(
            df, seeds, prefixes, n_planes, "vec_id", "embedding", cap, metrics
        ).collect()
    }

    keys = {
        vid: _sign_lsh_keys_ref(vec, seeds, prefixes, n_planes)
        for vid, vec in rows
        if vec is not None and len(vec) == 4
    }

    def ref_pairs(keys):
        members = defaultdict(list)
        for vid, ks in keys.items():
            for k in ks:
                members[k].append(vid)
        hot = {k: len(ids) for k, ids in members.items() if len(ids) > cap}
        pairs = {
            (a, b)
            for k, ids in members.items()
            if k not in hot
            for a in ids
            for b in ids
            if a < b
        }
        return pairs, hot

    want, hot = ref_pairs(keys)
    assert got == want
    assert metrics == {
        "hot_buckets": len(hot),
        "hot_bucket_rows": sum(hot.values()),
    }
    # the fixture exercises what it claims
    assert any(keys[a][0] != keys[b][0] and keys[a][1] == keys[b][1] for a, b in want)
    assert f"0#{keys[30][0][2:]}" in hot and not any(a >= 30 for a, _ in want)
    assert all(40 not in p and 41 not in p for p in got)
    assert ref_pairs({v: [k[2:] for k in ks] for v, ks in keys.items()})[0] != want


def test_cosine_topk_lsh_hot_bucket_guard(spark, hot_emb):
    base = similarity.cosine_topk_lsh(hot_emb, k=3)
    base_rows = {(r.query_id, r.neighbor_id) for r in base.collect()}
    metrics: dict = {}
    capped = similarity.cosine_topk_lsh(
        hot_emb, k=3, max_bucket_df=10, bucket_metrics=metrics
    )
    capped_rows = {(r.query_id, r.neighbor_id) for r in capped.collect()}
    # clone-to-clone neighbors only collide in dropped buckets → gone
    assert all(not (q < 40 and n < 40) for q, n in capped_rows)
    assert metrics["hot_buckets"] > 0
    # the CANDIDATE space only shrinks; top-k membership may still gain
    # tail pairs (rank 4+ neighbors promoted once clone competitors drop),
    # so the set relation to assert is on clone involvement, not topology:
    # uncapped must have had clone pairs at all (the guard changed something)
    assert any(q < 40 and n < 40 for q, n in base_rows)
    # noop under a loose cap: identical result rows
    loose = similarity.cosine_topk_lsh(hot_emb, k=3, max_bucket_df=10**9)
    assert sorted(map(tuple, loose.collect())) == sorted(map(tuple, base.collect()))


# zero-norm embeddings: ANSI DIVIDE_BY_ZERO must not abort the cosine family


def test_zero_norm_embeddings_do_not_abort_cosine_ops(spark):
    """Under Spark 4's default ANSI mode a plain dot/(na*nb) division
    aborts the whole job on the first zero-norm (all-zero) embedding —
    a common degenerate model output for empty docs.  try_divide yields
    NULL instead: no defined similarity, so the row drops out of top-k
    ranks and threshold filters while every well-formed pair scores
    normally."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [0.0, 0.0]),   # zero vector
            (3, [2.0, 1.0]),
            (4, [1.0, 2.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    topk = similarity.cosine_topk_bruteforce(emb, emb.filter("vec_id = 1"), k=3)
    got = [(r.neighbor_id, round(r.cosine, 6)) for r in topk.orderBy("rank").collect()]
    # vec 2 has no defined cosine and must be absent; 4 is identical to 1
    assert [n for n, _ in got] == [4, 3]
    assert got[0][1] == 1.0

    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.5, lsh_tables=0)
    ids = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in ids
    assert all(2 not in p for p in ids)

    lsh = similarity.cosine_topk_lsh(emb, k=3)
    assert all(r.neighbor_id != 2 for r in lsh.collect())

    ivf = similarity.cosine_topk_ivf(emb, emb.filter("vec_id = 1"), k=3)
    assert all(r.neighbor_id != 2 for r in ivf.collect())


def test_band_size_must_divide_num_hashes(spark):
    """num_hashes=8, band_size=3 would compute sig_6/sig_7 (paying the
    MinHash aggregation) and silently never band them — reject instead."""
    sigs = dedup.minhash_signatures(
        dedup.shingles(
            spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
        ),
        num_hashes=8,
    )
    with pytest.raises(ValueError):
        dedup.lsh_candidate_pairs(sigs, num_hashes=8, band_size=3)


def test_language_id_null_text_yields_null_pred(spark):
    """text=NULL: every hit is NULL and the SQL-CASE oracle (no ELSE)
    yields NULL — the Spark when-chain must NOT fall back to a phantom
    first-language literal."""
    df = spark.createDataFrame(
        [(1, "the fast and small the"), (2, None)],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: (r.pred_lang, r.marker_hits)
           for r in textops.language_id(df).collect()}
    assert got[1][0] == "en"
    assert got[2] == (None, None)


# fifth review pass: robustness edges in multimodal / schema merge / packing


def test_multimodal_null_payload_and_16bit_pgm(spark):
    """A NULL payload row yields NULL features / 0 bytes instead of
    bytes(None) aborting the stage; a 16-bit P5 (maxval>255, 2 bytes per
    sample big-endian, per spec) decodes its full raster instead of
    silently reading half the bytes and understating the mean; maxval=0
    raises ValueError, not ZeroDivisionError."""
    from scrapontologies_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_pgm,
        extract_features,
        stdlib_decode,
    )

    # 2x1, 16-bit: samples 0x0100 (256) and 0x0300 (768); mean
    # = (256+768)/2/65535
    p5_16 = b"P5\n2 1\n65535\n" + bytes([1, 0, 3, 0])
    w, h, mx, mean = decode_pgm(p5_16)
    assert (w, h, mx) == (2.0, 1.0, 65535.0)
    assert abs(mean - (256 + 768) / 2 / 65535) < 1e-12

    with pytest.raises(ValueError):
        decode_pgm(b"P5\n1 1\n0\n\x00")

    meta = {"mime": "image/x-pgm", "width": 1, "height": 1, "duration_ms": None}
    rows = [
        (1, "image", b"P5\n1 1\n255\n\x80", meta),
        (2, "image", None, meta),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r.media_id: (r.n_bytes, r.feature)
        for r in extract_features(media, decode_fn=stdlib_decode).collect()
    }
    assert got[2] == (0, None)
    assert got[1][0] > 0 and got[1][1] is not None


def test_frame_sample_null_duration_is_visible(spark):
    """A video with NULL duration metadata emits one NULL-frame row
    (explode_outer) instead of silently vanishing from the pipeline."""
    from scrapontologies_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        frame_sample,
    )

    media = spark.createDataFrame(
        [
            (1, "video", b"x", {"mime": "video/x", "width": 1, "height": 1,
                                "duration_ms": 500}),
            (2, "video", b"y", {"mime": "video/x", "width": 1, "height": 1,
                                "duration_ms": None}),
        ],
        MEDIA_SCHEMA,
    )
    got = {}
    for r in frame_sample(media, every_ms=250).collect():
        got.setdefault(r.media_id, []).append(r.frame_ts_ms)
    assert sorted(got[1]) == [0, 250, 500]
    assert got[2] == [None]


def test_schema_merge_skips_null_schema_json(spark):
    """One NULL schema_json row (chunks built with with_schemas=False, or
    corruption) must be skipped — not abort the global reduce on
    json.loads(None)."""
    from scrapontologies_spark.operators.schema_merge import global_schema

    chunks = spark.createDataFrame(
        [
            ("r", "a.py", '{"properties": {"x": {"type": "string"}}}'),
            ("r", "a.py", None),
        ],
        "repo string, path string, schema_json string",
    )
    g = global_schema(chunks)
    assert "x" in g.get("properties", {})


def test_pack_sequences_guards_reserved_start_column(spark):
    """A caller's own '_start' column must fail fast instead of being
    silently overwritten by the internal cumsum and dropped."""
    from scrapontologies_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [("s", 1, 10, 0)], "source string, doc_id int, n_tokens int, _start int"
    )
    with pytest.raises(ValueError):
        pack_sequences(df, capacity=100, size_col="n_tokens",
                       group_col="source", order_col="doc_id")
