"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's operator set (which has no dedup at all), these are
the operations a 100 TB corpus pipeline needs before KG construction:
exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard.  All are
pure DataFrame compositions (JVM-side, whole-stage-codegen friendly); the
only hash primitive is md5, chosen because Spark and DuckDB produce
identical hex — every operator here is value-checkable against an ANSI-SQL
oracle.

Scale design:
- exact dedup: one hash-groupBy on a 32-byte key (never on raw text).
- MinHash/LSH: shingle explode is a narrow op; signatures reduce via
  min() (map-side partial); the band join touches only bucket-colliding
  candidates, never the O(n²) pair space.
- SimHash: per-token hash → per-bit majority vote as ``bits`` aggregate
  expressions over ONE row per token (no bit explode), sums combining
  map-side.
- n-gram Jaccard is exact over the LSH candidate pair space (never all
  pairs sharing a shingle); MinHash bands and sign-LSH buckets share one
  bucket self-join (util.bucket_pairs) and one hot-key guard
  (util.drop_hot_buckets).
- verification joins bring text together ONLY for candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..profiles import ScaleProfile, pick, resolve_profile
from .util import bucket_pairs, drop_hot_buckets, gram_array, spread

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum id per distinct text (hash-groupBy on md5(text)).

    Returns (content_hash, keep_id, n_dups).  Grouping on the 32-char hash
    instead of the text keeps shuffle rows small at 100 TB.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------


def _tokens(text_col: str):
    return F.split(F.col(text_col), " ")


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """k-gram token shingles per doc (narrow transform + explode; input
    spread across cores first if the scan is under-partitioned).

    ``distinct=True`` gives set semantics — required wherever shingles feed
    Jaccard intersections or per-doc size counts, but it costs a full
    shuffle of every (doc, shingle) row.  Pass ``distinct=False`` when the
    consumer is multiset-invariant — MinHash's min() sees the same minimum
    over duplicates — turning signature derivation into a single map-side-
    combining aggregation with no shingle ever crossing the wire."""
    df = spread(df, id_col)
    # Materialize the token array ONCE per row before the gram transform.
    # ArrayTransform has no codegen (interpreted eval), so a raw
    # split(text) referenced inside the lambda re-splits the WHOLE document
    # for every element_at — O(tokens² · k) per doc, minutes on long
    # documents (jstack: StringSplit.nullSafeEval under ConcatWs.eval under
    # ArrayTransform.nullSafeEval).  A separate projection keeps it one
    # split per row: CollapseProject never inlines a non-cheap alias
    # referenced more than once, and `_toks` is referenced k+2 times.
    base = df.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("_toks")
    )
    out = base.select(
        "doc_id", F.explode(gram_array(F.col("_toks"), k)).alias("shingle")
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """MinHash signature per doc: sig_i = min(md5(shingle || '#i')).

    One wide row per doc; the min() aggregates combine map-side, so the
    shuffle carries one row per (doc, i) partial — no shingle ever shuffles.
    """
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket_df: "int | None" = None,
    bucket_metrics: "dict | None" = None,
    scale: "str | ScaleProfile | None" = None,
) -> DataFrame:
    """Band the signature and self-join on (band_idx, band_key): docs
    sharing any band become candidate pairs (a < b).  The bands come from
    one narrow pass — a per-row array of (band_idx, band_key) structs,
    exploded — instead of n_bands unions that each recompute the signature
    aggregation subplan.  The self-join is util.bucket_pairs on a 32-char
    md5 key — bucket-join, never all-pairs; but a band key shared by n docs
    still contributes n² candidate rows, so ``max_bucket_df`` (the
    hot-bucket analog of ``max_shingle_df``) drops band buckets hotter than
    the cap from the candidate space (pairs colliding only there are
    missed, exactly like dropping a band; ``bucket_metrics`` receives the
    dropped-bucket counts).

    ``band_size`` must divide ``num_hashes``: a remainder would silently
    leave the trailing signature components un-banded — their MinHash
    aggregation cost paid for zero recall.

    ``scale``: a profiles.ScaleProfile (or preset name) filling any knob
    left at None — ``scale="corpus"`` engages the BENCH_SCALING sizing-rule
    cap without the caller naming it."""
    if num_hashes % band_size != 0:
        raise ValueError(
            f"band_size={band_size} must divide num_hashes={num_hashes}: "
            f"sig_{(num_hashes // band_size) * band_size}.."
            f"sig_{num_hashes - 1} would be computed but never banded"
        )
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * band_size + j}") for j in range(band_size)]
                )
            ).alias("band_key"),
        )
        for b in range(num_hashes // band_size)
    ]
    max_bucket_df = pick(max_bucket_df, resolve_profile(scale).max_bucket_df)
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("_b")
    ).select("doc_id", "_b.band_idx", "_b.band_key")
    return bucket_pairs(
        bands, ("band_idx", "band_key"), "doc_id", max_bucket_df, bucket_metrics
    ).toDF("doc_a", "doc_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 8,
    band_size: int = 2,
    max_shingle_df: int | None = None,
    max_bucket_df: "int | None" = None,
    scale: "str | ScaleProfile | None" = None,
) -> DataFrame:
    """Exact n-gram Jaccard over MinHash+LSH candidate pairs.  Returns
    (doc_a, doc_b, jaccard ≥ threshold), doc_a < doc_b.

    The candidates are lsh_candidate_pairs built from the SAME shingle set
    (``num_hashes``/``band_size``); Jaccard is then computed exactly, but
    only for bucket-colliding pairs — never all pairs sharing a shingle.
    Deterministic (md5 buckets), so the approximation is still
    value-checkable against a SQL oracle embedding the same bands.

    ``max_shingle_df``: shingles in more than ``max_shingle_df`` docs are
    dropped (util.drop_hot_buckets) before signatures, intersections AND
    sizes, so stop-phrase shingles carry no weight; values then reflect
    the capped space.

    ``max_bucket_df``: cap on LSH band-bucket document frequency,
    forwarded to lsh_candidate_pairs — the guard against a
    boilerplate-heavy corpus turning one band bucket quadratic.

    ``scale``: profile filling ``max_shingle_df``/``max_bucket_df`` when
    left at None (profiles.CORPUS → both 10⁴ per the BENCH_SCALING rule).
    """
    prof = resolve_profile(scale)
    max_shingle_df = pick(max_shingle_df, prof.max_shingle_df)
    max_bucket_df = pick(max_bucket_df, prof.max_bucket_df)
    sh = drop_hot_buckets(
        shingles(df, text_col, id_col, k), ("shingle",), max_shingle_df
    )
    # the shingle table feeds 4-5 plan subtrees (signatures, both sides of
    # the intersection join, sizes): materialize it once to executor
    # storage instead of re-running the explode+distinct per subtree (~2×
    # at sf0.1)
    sh = sh.localCheckpoint(eager=False)
    candidates = lsh_candidate_pairs(
        minhash_signatures(sh, num_hashes),
        num_hashes,
        band_size,
        max_bucket_df=max_bucket_df,
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("sh_b"))
    inter = (
        candidates.alias("c")
        .join(a.alias("x"), F.col("c.doc_a") == F.col("x.doc_a"))
        .join(
            b.alias("y"),
            (F.col("c.doc_b") == F.col("y.doc_b"))
            & (F.col("x.sh_a") == F.col("y.sh_b")),
        )
        .groupBy(F.col("c.doc_a"), F.col("c.doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash fingerprint per doc over whitespace tokens.

    token hash = first 15 hex chars of md5 (60 bits, cross-engine exact via
    conv/hex-cast); bit j of the fingerprint = majority vote of token-hash
    bit j.  Single pass: ONE row per token carrying ``bits`` aggregate
    expressions (±1 vote sums, all combining map-side in one groupBy) — no
    (token × bit) explode, so the stage materializes tokens rows, not
    tokens×bits (the round-1 version allocated 16-64× more rows for the
    same shuffle volume).
    """
    toks = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(text_col)).alias("tok"),
    ).filter(F.col("tok") != "")
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    toks = toks.select("doc_id", h.alias("h"))
    vote_aggs = [
        F.sum(
            F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)).cast("long") * 2 - 1
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    votes = toks.groupBy("doc_id").agg(*vote_aggs)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select("doc_id", fingerprint.alias("simhash"))


def minhash_jaccard_estimate(
    sigs: DataFrame, candidates: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """Estimated Jaccard for candidate pairs from MinHash signatures ALONE:
    est = fraction of matching signature components (the standard unbiased
    MinHash estimator).  At 100 TB this is the scoring path — two narrow
    joins against the (one-row-per-doc) signature table, never touching
    shingles; exact ``ngram_jaccard_pairs`` verification is reserved for
    pairs that pass the estimate.  Returns (doc_a, doc_b, jaccard_est).
    """
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"_a{i}") for i in range(num_hashes)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"_b{i}") for i in range(num_hashes)],
    )
    matches = None
    for i in range(num_hashes):
        term = (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int")
        matches = term if matches is None else matches + term
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / F.lit(float(num_hashes))).alias("jaccard_est"),
        )
    )


# ---------------------------------------------------------------------------
# duplicate clustering (pairs → transitive closure → canonical doc)
# ---------------------------------------------------------------------------


def duplicate_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Transitive near-duplicate clusters: (doc_a, doc_b) pairs from any
    pair generator (ngram_jaccard_pairs / embedding_near_dup_pairs /
    lsh_candidate_pairs) → connected components → one row per document:
    (doc_id, cluster_id, is_canonical) with cluster_id = min member id and
    singletons (no pair) their own cluster.

    Scale shape: the LS/SS component loop is O(log n) rounds over the PAIR
    set (already candidate-bounded upstream), never the corpus; the final
    membership join is a broadcast-size labels table in typical dedup runs
    and a plain hash join otherwise.
    """
    from .cc import connected_components

    edges = pairs.select(
        F.col("doc_a").cast("string").alias("u"),
        F.col("doc_b").cast("string").alias("v"),
    )
    labels = connected_components(edges)
    # CC labels are MIN-STRING ids; regroup on the NATIVE id type so
    # cluster_id is the true minimum member ("10" < "9" lexicographically
    # must not win for numeric ids)
    idmap = df.select(
        F.col(id_col), F.col(id_col).cast("string").alias("_node")
    ).distinct()
    members = labels.join(idmap, labels.node == idmap._node).select(
        id_col, F.col("component").alias("_comp")
    )
    canon = members.groupBy("_comp").agg(F.min(id_col).alias("cluster_id"))
    clustered = members.join(canon, "_comp").select(id_col, "cluster_id")
    out = (
        df.select(id_col)
        .join(clustered, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )
    return out.withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))


def keep_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The deduplicated corpus itself: full payload rows for the canonical
    member of every near-duplicate cluster (singletons included) — the
    operation a training-data pipeline actually materializes after any
    pair generator.

    Scale shape: duplicate_clusters works on the pair set + bare ids; the
    payload never enters the CC loop.  The final filter is a semi-join of
    the corpus against the canonical-id set — broadcast when the id set is
    small, plain hash join otherwise; either way the corpus is scanned
    once and never shuffled on a non-key column."""
    canon = (
        duplicate_clusters(df, pairs, id_col)
        .filter(F.col("is_canonical"))
        .select(id_col)
    )
    return df.join(canon, id_col, "left_semi")


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_tables: int = 0,
    lsh_planes: int = 6,
    max_bucket_df: "int | None" = None,
    bucket_metrics: "dict | None" = None,
    scale: "str | ScaleProfile | None" = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: (id_a, id_b, cosine) with
    id_a < id_b and cosine ≥ threshold.

    ``lsh_tables=0`` (exact): full self-join — the small-scale oracle path.
    ``lsh_tables>0`` (scale path): only pairs sharing a sign-LSH bucket in
    at least one of the tables are scored, replacing the O(n²) pair space
    with bucket-colliding candidates from similarity._sign_lsh_pairs (seeds
    ``neardup{t}``, key prefixes ``{t}#``) — the generator
    similarity.cosine_topk_lsh uses, so the same recall/cost trade.
    Scoring is similarity._cosine: sequential float64 (zip_with +
    aggregate), DuckDB-checkable to 1e-6; a zero-norm or corrupted
    (NULL/NaN/Inf) vector scores NULL, which fails the threshold.

    ``max_bucket_df`` (lsh path): drops sign-LSH buckets hotter than the
    cap before the self-join (util.drop_hot_buckets) — the guard against a
    degenerate bucket of near-identical vectors going quadratic; pairs
    colliding only in dropped buckets are missed.  ``bucket_metrics``
    receives the dropped-bucket counts when provided.

    ``scale``: profile filling ``max_bucket_df`` when left at None
    (profiles.CORPUS → 10⁴); only meaningful on the lsh path.
    """
    max_bucket_df = pick(max_bucket_df, resolve_profile(scale).max_bucket_df)
    from .similarity import _cosine, _normed, _sign_lsh_pairs

    # spread the scored side across cores: the O(n²·d) pair compute must not
    # inherit a single-split scan partitioning (see util.spread — explicit
    # count because AQE coalesces by shuffle bytes, blind to downstream
    # quadratic work)
    sp = spread(embeddings, id_col)
    a = _normed(sp, id_col, vec_col, "id_a", "a")
    b = _normed(sp, id_col, vec_col, "id_b", "b")
    if lsh_tables > 0:
        cand = _sign_lsh_pairs(
            embeddings,
            [f"neardup{t}" for t in range(lsh_tables)],
            [f"{t}#" for t in range(lsh_tables)],
            lsh_planes,
            id_col,
            vec_col,
            max_bucket_df,
            bucket_metrics,
        ).toDF("id_a", "id_b")
        pairs = cand.join(a, "id_a").join(b, "id_b")
    else:
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", _cosine("a", "b").alias("cos_raw"))
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))
    )
