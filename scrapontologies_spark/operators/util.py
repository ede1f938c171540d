"""Shared physical-layout helpers for operators."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, *cols: str, factor: int = 2) -> DataFrame:
    """Ensure ``df`` has at least defaultParallelism × factor partitions
    before a compute-heavy fan-out (shingle explode, pair scoring, per-row
    HOF work).

    A scan with fewer splits than cores serializes everything downstream of
    it; this repartitions ONLY in that case, so at cluster scale (scan
    splits ≫ cores) it is a no-op and no corpus-wide shuffle is added.  The
    partition count is explicit because AQE coalesces small-byte shuffles
    regardless of downstream cost.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if _partition_count_at_least(df, target):
        return df
    if cols:
        return df.repartition(target, *[F.col(c) for c in cols])
    return df.repartition(target)


# The getNumPartitions probe forces physical planning of the upstream plan;
# memoize the verdict per (session, semantic plan, target) so operator
# chains that spread the same input repeatedly translate the plan once, not
# per call.  The semantic hash covers the LOGICAL plan only, so the memo
# assumes input files are immutable for the life of a session (true for
# this engine's batch runs over snapshot tables) — a path whose file count
# changes mid-session would keep its first verdict until the session ends.
# Stale verdicts cost at most one extra (or one missing) repartition; they
# cannot affect results.
_SPREAD_MEMO: dict = {}
_SPREAD_MEMO_MAX = 1024


def _partition_count_at_least(df: DataFrame, target: int) -> bool:
    try:
        key = (id(df.sparkSession), df.semanticHash(), target)
    except Exception:  # pragma: no cover — analysis failure falls through
        key = None
    if key is not None and key in _SPREAD_MEMO:
        return _SPREAD_MEMO[key]
    enough = df.rdd.getNumPartitions() >= target
    if key is not None:
        if len(_SPREAD_MEMO) >= _SPREAD_MEMO_MAX:
            _SPREAD_MEMO.clear()
        _SPREAD_MEMO[key] = enough
    return enough


def drop_hot_buckets(
    buckets: DataFrame,
    key_cols: "tuple[str, ...] | list[str]",
    max_bucket_df: "int | None",
    metrics: "dict | None" = None,
) -> DataFrame:
    """The one hot-key guard: drop every key whose document frequency
    exceeds ``max_bucket_df`` (LSH band/sign buckets in :func:`bucket_pairs`,
    shingles in ``dedup.ngram_jaccard_pairs``' ``max_shingle_df``).

    A bucket key shared by n rows yields O(n²) candidate rows in the
    self-join BEFORE any distinct — on adversarial data (a million
    near-identical vectors, a MinHash band shared by boilerplate before
    exact dedup runs) one degenerate bucket is a job-killer.  With
    ``max_bucket_df`` set, buckets whose document frequency exceeds the cap
    are dropped entirely from the candidate space, bounding every bucket's
    join contribution to max_bucket_df² rows.  Dropping is recall-lossy in
    exactly the way dropping an LSH band is: pairs colliding ONLY in a hot
    bucket are missed (pairs also sharing a cool bucket still surface).
    The count aggregation is map-side-combining on the key; over-cap keys
    are few by construction (≤ rows/cap), so the anti side broadcasts.

    ``metrics`` (optional dict) receives ``hot_buckets`` (number of dropped
    bucket keys) and ``hot_bucket_rows`` (rows they carried) — the logged
    drop metric; computing it costs one extra small aggregation job, so it
    is opt-in.  ``max_bucket_df=None`` returns ``buckets`` unchanged.
    """
    if max_bucket_df is None:
        return buckets
    keys = list(key_cols)
    if max_bucket_df < 1:
        raise ValueError(
            f"document-frequency cap on {keys} must be >= 1, got {max_bucket_df}"
        )
    hot = (
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_bucket_df)
    )
    if metrics is not None:
        row = hot.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("_df"), F.lit(0)).alias("rows"),
        ).collect()[0]
        metrics["hot_buckets"] = int(row["n"])
        metrics["hot_bucket_rows"] = int(row["rows"])
    return buckets.join(F.broadcast(hot.select(*keys)), keys, "left_anti")


def bucket_pairs(
    keyed: DataFrame,
    key_cols: "tuple[str, ...] | list[str]",
    id_col: str,
    max_bucket_df: "int | None",
    metrics: "dict | None" = None,
) -> DataFrame:
    """The one LSH bucket self-join: distinct unordered id pairs (a, b),
    a < b, of ``keyed`` rows sharing every ``key_cols`` value — the
    candidate generator under ``dedup.lsh_candidate_pairs`` (MinHash bands)
    and ``similarity._sign_lsh_pairs`` (sign-LSH buckets).  Multi-table
    keys must carry their table in the key (a band index, a ``{t}|``
    prefix), so the self-join over the union of tables distributes over it
    and equal keys of different tables never pair.

    Hot buckets are dropped first (:func:`drop_hot_buckets`).  When that
    cap is set, ``keyed`` is localCheckpointed (lazy) first: its
    derivation (the MinHash aggregation, the bucket-key UDF) otherwise
    re-runs for the hot-key count, the anti-join probe, each side of the
    self-join and the optional metrics job.  Same materialize-once
    rationale and release path as the shingle table in
    ``dedup.ngram_jaccard_pairs`` (bench/_release_new_persists).  Both join
    sides are the one frame, so a sort-merge join reads the other side's
    shuffle as a ``ReusedExchange``."""
    if max_bucket_df is not None:
        keyed = keyed.localCheckpoint(eager=False)
    keyed = drop_hot_buckets(keyed, key_cols, max_bucket_df, metrics)
    left, right = keyed.alias("_l"), keyed.alias("_r")
    a, b = F.col(f"_l.{id_col}"), F.col(f"_r.{id_col}")
    return (
        left.join(right, list(key_cols))
        .filter(a < b)
        .select(a.alias("a"), b.alias("b"))
        .distinct()
    )


def persisted_rdd_ids(spark) -> set:
    """Snapshot of currently-persisted RDD ids (localCheckpoint blocks
    included — ``catalog.clearCache`` misses RDD-level persists)."""
    sc = spark.sparkContext._jsc.sc()
    out, it = set(), sc.getPersistentRDDs().keysIterator()
    while it.hasNext():
        out.add(it.next())
    return out


def release_rdds(spark, rdd_ids) -> None:
    """Unpersist the persistent RDDs among ``rdd_ids`` (non-blocking) —
    the single home of the release loop.  RDD-level, because
    ``DataFrame.unpersist`` cannot reach localCheckpoint blocks."""
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    for rdd_id in rdd_ids:
        if m.contains(rdd_id):
            m.apply(rdd_id).unpersist(False)


def unpersist_rdds(spark, keep_ids: "frozenset | set" = frozenset()) -> None:
    """Unpersist every persistent RDD not in ``keep_ids`` (non-blocking).

    Shared by bench.py, sf1_bench and cross_scale_check: operator-internal
    localCheckpoints are scoped to one query execution, and a runner that
    executes many queries in one session must drop them between queries —
    otherwise checkpoint blocks accumulate until a multi-minute full GC
    lands on an arbitrary query (observed at sf1: same query 8.5 s vs
    107 s, identical code/data)."""
    release_rdds(spark, persisted_rdd_ids(spark) - set(keep_ids))


def gram_array(toks, n: int):
    """Space-joined n-gram array over a PRE-MATERIALIZED token-array column
    reference — the single home of the gram expression shared by
    dedup.shingles and textops.decontaminate.

    ``toks`` must be a reference to a token array staged in its own
    projection, never an inline split: ArrayTransform has no codegen, so an
    expensive expression inside the lambda re-evaluates per element —
    O(tokens²·n) per row (this repo's measured 74–122 s → 3–4 s sf1 fix,
    plan-gated in test_plan_quality).  Bounds-correct index range: with
    i ≤ size−n every element_at is in-range, so each gram has exactly n
    tokens by construction (tokens cannot contain the delimiter); docs
    shorter than n tokens yield an empty array that explode drops."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
