"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k.  Scale path: LSH bucketing with
deterministic random-hyperplane signs derived from md5 (seedable,
rerun-stable), so only same-bucket pairs are scored — the IVF-style
candidate reduction for the 100 TB design point.

Vector arithmetic strategy: Spark's array higher-order functions
(zip_with/aggregate) are interpreted per element (~µs/scalar-op — measured
3 s for 2 000 rows × 32 plane projections), and unrolling the folds into
chained column arithmetic blows Janino's 64 KB method limit at
dim×planes scale, silently falling back to interpreted mode (measured 3×
WORSE).  So the hot folds run as Arrow-batched pandas UDFs that accumulate
SEQUENTIALLY along the dimension axis while vectorizing across rows:
``acc = acc + A[:, i] * B[:, i]`` performs, per row, the exact IEEE-754
operation sequence of the left fold ``((0+a₁b₁)+a₂b₂)+…`` — so results are
bit-identical to the interpreted form and stay DuckDB-checkable to 1e-6.
The HOF expression builders (_dot, _norm) are the pair-scoring path and
the executable specification the SQL oracles mirror.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType
from pyspark.sql.window import Window

from ..profiles import ScaleProfile, pick, resolve_profile
from .util import bucket_pairs, spread


# Per-PAIR scoring stays on the interpreted HOF form: candidate pairs
# outnumber rows by orders of magnitude, and shipping both 64-float vectors
# per pair through Arrow costs more than the fold saves (measured at sf0.1
# with an Arrow twin of the fold: LSH top-k 6.5 s → 10.9 s, embedding
# near-dup 2.3 s → 7.0 s — rejected).  Per-ROW work (bucket keys) uses the
# Arrow path — see _bucket_keys_pdf.
def _dot(a, b):
    """Interpreted-HOF dot product — the executable spec of the fold order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _stack(xs: "pd.Series") -> "np.ndarray":
    """Arrow array column → (rows, dim) float64 matrix.  float32→float64
    first, then arithmetic — the same cast-then-operate order as the HOF
    form's per-element .cast('double')."""
    if len(xs) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return np.stack(xs.to_numpy()).astype(np.float64)


def _normed(
    df: DataFrame, id_col: str, vec_col: str, as_id: str, tag: str
) -> DataFrame:
    """(``as_id``, ``{tag}vec``, ``{tag}norm``) rows — the norm is computed
    once per row before any pair join, so each pair pays one dot-product
    fold instead of three (bitwise-identical cosine: the same expression
    computes both norms either way)."""
    return df.select(
        F.col(id_col).alias(as_id),
        F.col(vec_col).alias(f"{tag}vec"),
        _norm(F.col(vec_col)).alias(f"{tag}norm"),
    )


def nan_to_null(c):
    """NaN → NULL.  A NaN/±Inf component makes the cosine NaN, and NaN
    sorts ABOVE every number in a DESC ordering (Spark and DuckDB alike) —
    one corrupted centroid would otherwise capture EVERY vector's top-1
    IVF assignment, and ``NaN >= threshold`` is TRUE so a corrupted vector
    would read as a near-duplicate of everything it buckets with.  NULL
    instead: sorts LAST in DESC, fails every threshold, and unifies the
    corrupted-row contract with zero-norm / NULL embeddings."""
    return F.nanvl(c, F.lit(None).cast("double"))


def _cosine(a: str, b: str):
    """Cosine of the ``_normed`` columns tagged ``a`` and ``b``:
    dot/(‖a‖·‖b‖) via try_divide: a zero-norm (all-zero or empty)
    embedding has no defined cosine, and under Spark 4's default ANSI mode
    a plain division would abort the whole job with DIVIDE_BY_ZERO on the
    first such row.  NULL instead — callers drop NULL scores (no defined
    similarity ⇒ not a neighbor).  A NULL element inside the array
    propagates through the fold to NULL (unlike DuckDB's list_aggregate,
    which SKIPS nulls — the oracle twin replicates the propagation
    explicitly); NaN from NaN/Inf components maps to NULL via
    :func:`nan_to_null`, so every corrupted-row shape lands on the same
    NULL contract."""
    return nan_to_null(
        F.try_divide(
            _dot(F.col(f"{a}vec"), F.col(f"{b}vec")),
            F.col(f"{a}norm") * F.col(f"{b}norm"),
        )
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best (query_id, neighbor_id, cosine) rows, ranked
    deterministically by (-cosine, neighbor id).  Every corrupted-row shape
    (zero-norm, NULL embedding, NULL element, NaN/Inf component) lands on
    NULL via _cosine — non-finite rows are outside similarity."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors for each query row (queries ⊆ embeddings
    schema).  Broadcast the (small) query side; rank deterministically by
    (-similarity, neighbor id).  Returns (query_id, neighbor_id, cosine,
    rank)."""
    q = _normed(queries, id_col, vec_col, "query_id", "q")
    # spread the big side across cores: the O(n·q·d) scoring must not
    # inherit a single-split scan partitioning (util.spread)
    e = _normed(spread(embeddings, id_col), id_col, vec_col, "neighbor_id", "n")
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine("q", "n").alias("cosine"))
    )
    return _topk(scored, k)


def _plane_signs(seed: str, p: int, dim: int) -> list:
    """Deterministic ±1 hyperplane weights: +1 iff the first hex nibble of
    md5("seed#p#d") is even — the driver-side twin of the previous in-plan
    md5 expression, computed ONCE per (plane, dim) instead of per row."""
    return [
        1.0
        if int(hashlib.md5(f"{seed}#{p}#{d}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for d in range(dim)
    ]


def _vector_dim(embeddings: DataFrame, vec_col: str) -> int:
    """Dimension of the embedding column, 0 when the input is EMPTY or
    all-NULL — callers then build zero-plane bucket expressions over no
    (non-null) rows, so every downstream result is correctly empty instead
    of raising.  NULL rows are skipped, not counted: size(NULL) is NULL and
    must not poison the probe.

    Contract: the corpus shares ONE embedding dimension (the input_hint
    table shape).  On a mixed-dimension corpus the probe returns the first
    non-null row's dim and every OTHER-dim row gets NULL bucket keys
    (degrading out of the LSH candidate space, partition-order-dependent)
    — pre-filter by ``F.size(vec_col)`` or use the exact/IVF paths for
    mixed inputs."""
    row = (
        embeddings.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    return 0 if row is None else row["d"]


def _bucket_keys_pdf(pos_sets: list, prefixes: list, dim: int):
    """Arrow-batched sign-LSH bucket keys: one UDF call computes EVERY
    table's bucket key for a batch of rows, via the half-sum identity
    Σ w_i·x_i = 2·Σ_{w=+1} x_i − Σ x_i (one shared full-vector sum per row
    plus a positive-index half-sum per plane).

    ``pos_sets[t][p]`` is the 0-based positive-weight index list of table
    t, plane p; per plane the accumulation ``acc = acc + V[:, i]`` runs
    sequentially over that list, and ``proj = 2.0·acc − total`` — per row,
    the bit-identical IEEE sequence of the left fold the SQL oracles mirror
    (see module docstring for why not HOFs/unrolling)."""

    @pandas_udf(ArrayType(StringType()))
    def _f(xs: pd.Series) -> pd.Series:
        # NULL embeddings — and ragged rows whose length differs from the
        # probed ``dim`` — yield NULL key arrays (the graceful-degradation
        # analog of the SQL form's NULL propagation) instead of np.stack /
        # column indexing crashing the stage.
        valid = xs.notna()
        if valid.any():
            lens = xs[valid].map(len)
            bad = lens.index[lens != dim]
            if len(bad):
                valid = valid.copy()
                valid[bad] = False
        all_valid = bool(valid.all())
        if not all_valid and not valid.any():
            return pd.Series([None] * len(xs), dtype=object)
        V = _stack(xs if all_valid else xs[valid])
        n, d = V.shape
        total = np.zeros(n, dtype=np.float64)
        for i in range(d):
            total = total + V[:, i]
        out = np.empty((n, len(pos_sets)), dtype=object)
        for t, planes in enumerate(pos_sets):
            key = np.full(n, prefixes[t], dtype=object)
            for pos in planes:
                acc = np.zeros(n, dtype=np.float64)
                for i in pos:
                    acc = acc + V[:, i]
                proj = 2.0 * acc - total
                # NaN sorts ABOVE every number in both Spark SQL and DuckDB
                # (`NaN >= 0` is true there), so a NaN projection must take
                # the '1' bit — plain np.where(proj >= 0) would flip it.
                key = key + np.where(np.isnan(proj) | (proj >= 0.0), "1", "0")
            out[:, t] = key
        vals = out.tolist()
        if all_valid:
            return pd.Series(vals)
        res = pd.Series([None] * len(xs), dtype=object)
        for j, i in enumerate(np.flatnonzero(valid.to_numpy())):
            res.iat[i] = vals[j]
        return res

    return _f


def _pos_sets(seeds: list, n_planes: int, dim: int) -> list:
    """0-based positive-weight index lists per (table seed, plane)."""
    return [
        [
            [i for i, s in enumerate(_plane_signs(seed, p, dim)) if s > 0]
            for p in range(n_planes)
        ]
        for seed in seeds
    ]


def hyperplane_bucket(
    embeddings: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "lsh",
    dim: int | None = None,
) -> DataFrame:
    """Sign-LSH bucket per vector: plane p's weight for dimension d is
    +1/-1 from bit parity of md5(seed#p#d) — deterministic, no stored model.
    Returns (vec_id, bucket string of n_planes sign bits).

    The weight matrix depends only on (plane, dim), so it is materialized
    driver-side; per-row work is ONE full-vector sum shared by all planes
    plus a positive-index half-sum per plane, Arrow-batched in
    _bucket_keys_pdf — no hashing, no per-plane array allocation.  At
    scale: bucketing is a narrow transform; the downstream same-bucket
    self-join replaces the full cross join (candidates only).
    """
    if dim is None:
        dim = _vector_dim(embeddings, vec_col)
    keys = _bucket_keys_pdf(_pos_sets([seed], n_planes, dim), [""], dim)
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.element_at(keys(F.col(vec_col)), 1).alias("bucket"),
    )


def ivf_centroids(
    embeddings: DataFrame,
    k_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "ivf",
) -> DataFrame:
    """Deterministic IVF coarse quantizer: the ``k_cells`` vectors with the
    smallest md5(id#seed) act as centroids — a deterministic pseudo-random
    sample (rerun-stable, partitioning-independent, SQL-reproducible),
    standing in for a k-means codebook the way the gazetteer stands in for
    the LLM.  Returns (cell, cvec, cnorm); cell = the centroid's vector id."""
    return (
        _normed(embeddings, id_col, vec_col, "cell", "c")
        .withColumn(
            "_r", F.md5(F.concat(F.col("cell").cast("string"), F.lit(f"#{seed}")))
        )
        .orderBy("_r")
        .limit(k_cells)
        .drop("_r")
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (ties → smallest cell
    id).  Centroids broadcast (k_cells rows); assignment is one narrow
    scored pass + a per-vector top-1 window.  Returns (vec_id, cell)."""
    v = _normed(spread(embeddings, id_col), id_col, vec_col, "vec_id", "v")
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "cell", _cosine("v", "c").alias("_cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("_cos").desc(), F.col("cell").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cell")
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    k_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "ivf",
) -> DataFrame:
    """IVF approximate top-k: score only vectors whose cell is among each
    query's ``n_probe`` nearest centroids — the inverted-file scale path
    complementing the sign-LSH one (cosine_topk_lsh).  Deterministic end to
    end, so the result is value-checkable against a SQL oracle despite
    being approximate.  Returns (query_id, neighbor_id, cosine, rank).

    Scale shape: the codebook broadcasts everywhere (k_cells rows); cell
    assignment is a narrow pass over the corpus; the candidate join is
    cells(probed) ⋈ assignment — a hash join on the short cell key touching
    only probed cells' members; exact scoring runs on candidates only.
    """
    cents = ivf_centroids(embeddings, k_cells, id_col, vec_col, seed)
    assign = ivf_assign(embeddings, cents, id_col, vec_col)
    q = _normed(queries, id_col, vec_col, "query_id", "q")
    qscore = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "cell", _cosine("q", "c").alias("_cos")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("cell").asc()
    )
    probes = (
        qscore.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "cell")
    )
    cand = (
        probes.join(assign, "cell")
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .distinct()
    )
    scored = (
        cand.join(q, "query_id")
        .join(_normed(embeddings, id_col, vec_col, "neighbor_id", "n"), "neighbor_id")
        .select("query_id", "neighbor_id", _cosine("q", "n").alias("cosine"))
    )
    return _topk(scored, k)


def _sign_lsh_pairs(
    embeddings: DataFrame,
    seeds: list,
    prefixes: list,
    n_planes: int,
    id_col: str,
    vec_col: str,
    max_bucket_df: "int | None",
    bucket_metrics: "dict | None",
) -> DataFrame:
    """The sign-LSH candidate generator of cosine_topk_lsh and
    dedup.embedding_near_dup_pairs: distinct unordered id pairs (a, b),
    a < b, that share a bucket in ANY table t — table t's planes come from
    ``seeds[t]`` and its keys carry ``prefixes[t]``, so equal sign bits in
    different tables never collide.

    ALL tables' keys come from ONE Arrow UDF call per row (the shared
    full-vector sum is reused by every half-sum projection inside the UDF)
    plus a JVM explode to (row, table-key) pairs — instead of one union
    branch per table that each rescan the input.  The input is spread
    first: the tables × planes projection sums are the heavy narrow work.
    The self-join, hot-bucket drop (``max_bucket_df``; ``bucket_metrics``
    receives the counts) and ``a < b`` distinct are util.bucket_pairs.
    Under a sort-merge bucket join the keying runs once: the other side
    reads its shuffle as a ``ReusedExchange``.  Only when AQE broadcasts
    one side of a small join does the plan key each side separately."""
    dim = _vector_dim(embeddings, vec_col)
    keys = _bucket_keys_pdf(_pos_sets(seeds, n_planes, dim), prefixes, dim)
    return bucket_pairs(
        spread(embeddings, id_col).select(
            F.col(id_col).alias("_bid"),
            F.explode(keys(F.col(vec_col))).alias("bucket"),
        ),
        ("bucket",),
        "_bid",
        max_bucket_df,
        bucket_metrics,
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_df: "int | None" = None,
    bucket_metrics: "dict | None" = None,
    scale: "str | ScaleProfile | None" = None,
) -> DataFrame:
    """Approximate top-k: score only pairs that share a bucket in ANY of
    ``n_tables`` independent sign-LSH tables (multi-probe union — the
    standard recall lever; one table alone is far too lossy).  Returns
    (query_id, neighbor_id, cosine, rank); recall < 1 by construction —
    compare against cosine_topk_bruteforce to measure it.

    Scale shape: candidates come from the shared generator
    :func:`_sign_lsh_pairs` (seeds ``lsh{t}``, key prefixes ``{t}|``) —
    one narrow pass for all tables' bucket keys + a same-bucket self-join
    on short string keys; the distance computation touches candidates
    only.  Tuning n_planes trades bucket size (compute) against recall.
    On clustered data sign collisions are irreducible
    (BENCH_SCALING.md) — ``max_bucket_df`` is the guard: buckets hotter
    than the cap are dropped before the self-join (util.drop_hot_buckets),
    bounding any bucket's contribution to cap² candidate rows; a query
    whose every collision was in dropped buckets simply returns fewer than
    k neighbors (recall loss, not failure).  IVF remains the better scale
    path for clustered data.  ``bucket_metrics`` receives the dropped
    counts when provided.  ``scale``: profile filling ``max_bucket_df``
    when left at None (profiles.CORPUS → 10⁴)."""
    max_bucket_df = pick(max_bucket_df, resolve_profile(scale).max_bucket_df)
    pairs = _sign_lsh_pairs(
        embeddings,
        [f"lsh{t}" for t in range(n_tables)],
        [f"{t}|" for t in range(n_tables)],
        n_planes,
        id_col,
        vec_col,
        max_bucket_df,
        bucket_metrics,
    )
    # unconditional explicit repartition (not util.spread): the distinct's
    # static partition count reads as spark.sql.shuffle.partitions, but AQE
    # still coalesces the small candidate rows at runtime — blind to the
    # per-pair O(d) scoring below.  An explicit count pins it.
    n_parts = embeddings.sparkSession.sparkContext.defaultParallelism * 2
    # UNORDERED candidates (a < b): every colliding pair is scored exactly
    # once and then mirrored — cosine is bitwise-commutative (per-element
    # float multiplies and the norm product commute), so the mirrored row
    # carries the identical value at half the distinct volume and half the
    # O(d) scoring work of emitting both directions.
    cand = pairs.toDF("query_id", "neighbor_id").repartition(
        n_parts, F.col("query_id"), F.col("neighbor_id")
    )
    embeddings = spread(embeddings, id_col)
    half = (
        cand.join(_normed(embeddings, id_col, vec_col, "query_id", "q"), "query_id")
        .join(_normed(embeddings, id_col, vec_col, "neighbor_id", "n"), "neighbor_id")
        .select("query_id", "neighbor_id", _cosine("q", "n").alias("cosine"))
    )
    # mirror row-locally (explode of a 2-struct array) in the SAME pass:
    # a union of two references to `half` would either recompute the
    # scoring projection for the mirror branch or need a checkpoint that
    # de-AQEs the join plan — the explode does neither.
    scored = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("query_id"), F.col("neighbor_id"), F.col("cosine")
                ),
                F.struct(
                    F.col("neighbor_id").alias("query_id"),
                    F.col("query_id").alias("neighbor_id"),
                    F.col("cosine"),
                ),
            )
        ).alias("_x")
    ).select("_x.query_id", "_x.neighbor_id", "_x.cosine")
    return _topk(scored, k)


def sign_lsh_union_recall(mean_cos: float, n_planes: int, n_tables: int) -> float:
    """Textbook sign-LSH union recall for a pair at cosine ``mean_cos``:
    P(same bucket in one table) = (1 - θ/π)^planes with θ = arccos(cos);
    union over independent tables = 1 - (1 - p)^tables.  The single home of
    the formula the recall gates (tests) and the documented recall/cost
    curves (scripts/ann_recall_curve.py, BENCH_SCALING.md) are anchored to."""
    import math

    p = (1.0 - math.acos(max(-1.0, min(1.0, mean_cos))) / math.pi) ** n_planes
    return 1.0 - (1.0 - p) ** n_tables
