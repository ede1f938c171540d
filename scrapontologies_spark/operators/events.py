"""Event-stream batch operators for the training-data pipeline.

Gap-based sessionization — the canonical stateful event op a 100 TB
pipeline needs.  Shuffle shape: ONE hash partition by user_id serves both the
window (lag) and the session aggregation — Catalyst reuses the exchange,
so sessionize costs a single shuffle.

Also the two time-join operators Spark's open-source DataFrame API lacks
as builtins, composed from existing ops so Catalyst keeps optimizing:

- :func:`asof_join` — nearest-prior match per key (union + one window
  pass; a sort-merge "merge_asof" without any O(n·m) theta join);
- :func:`interval_join` — points ⨝ intervals containment (bucketized
  equi-join + residual predicate, never a cross product).

Determinism: events are ordered by (ts, event_id) within a user; the gap
comparison runs on INTEGER epoch microseconds (unix_micros ↔ DuckDB
epoch_us), so the oracle matches value-exactly with no float rounding.
NTZ timestamps are interpreted in the session timezone (UTC in the driver
harness), matching DuckDB's naive-as-UTC epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(
    events: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Split each user's event stream into sessions separated by gaps of
    more than ``gap_minutes``.  Returns one row per session:
    (user_id, session_idx, session_start, session_end, n_events,
    total_value) — session_idx is 1-based in time order.  ``order_col``
    breaks equal-timestamp ties deterministically (like asof_join's).

    NULL-``ts`` events are excluded: a row with no time has no place in a
    time session, and engines disagree about where NULLs sort in the
    session window (Spark ASC puts them FIRST, DuckDB LAST), so keeping
    them would also shift every real session's index by engine.  NULL
    ``user_col`` rows are kept — both engines group NULL keys into one
    partition, so the NULL user simply gets its own session stream.
    """
    gap_us = int(gap_minutes * 60_000_000)
    events = events.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.lag(epoch).over(w)
    is_new = F.when(prev.isNull() | ((epoch - prev) > gap_us), 1).otherwise(0)
    with_sess = events.withColumn(
        "session_idx", F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sess.groupBy(F.col(user_col).alias("user_id"), "session_idx")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 6).alias("total_value"),
        )
    )


_ASOF_RESERVED = ("_k", "_tse", "_ord", "_side", "_r", "_m", "_mb", "_mf")
_IVAL_RESERVED = ("_k", "_bkt")


def _guard_reserved(op: str, reserved: "tuple[str, ...]", *frames: DataFrame) -> None:
    """Fail fast when an input already carries one of the temp columns the
    operator injects — a silent collision would corrupt the union/window
    logic instead of erroring."""
    present = sorted(
        set(reserved) & {c for f in frames for c in f.columns}
    )
    if present:
        raise ValueError(
            f"{op}: input carries reserved temp column(s) {present}; "
            "rename them before joining"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    right_value_cols: "tuple[str, ...]" = ("event_id",),
    prefix: str = "prior_",
    direction: str = "backward",
    allow_exact_matches: bool = True,
) -> DataFrame:
    """As-of join: for every left row, the nearest right row for the same
    key (the merge_asof / ASOF JOIN operator Spark lacks as a builtin).
    Returns the left rows plus ``<prefix><col>`` for each requested right
    value column (null when no matching right row exists).

    ``direction`` (merge_asof parity):
      - ``"backward"`` (default) — latest right row with ``right.ts <=
        left.ts`` (``<`` when ``allow_exact_matches=False``);
      - ``"forward"`` — earliest right row with ``right.ts >= left.ts``
        (``>`` when exact matches are disallowed);
      - ``"nearest"`` — whichever of the two is closer in time; equal
        distances resolve to the backward match.

    Plan shape — union + window pass instead of a join: both sides are
    tagged and unioned (narrow), then a single hash partition by key with
    an in-partition sort lets ``last(_r, ignorenulls=True)`` carry the
    nearest right payload to each left row.  Cost is one shuffle of
    |left|+|right| rows — no per-row range probing, no skew-amplifying
    theta join; a hot key is just a bigger sorted run.  ``nearest`` runs
    both window passes over the SAME exchange (two in-partition sorts, one
    shuffle).

    Determinism: at equal timestamps the right row sorts BEFORE the left
    row when exact matches are allowed (AFTER when not), and among
    equal-ts right rows the largest ``order_col`` wins backward / the
    smallest wins forward (the exact mirror) — engine-agnostic orderings
    an oracle replicates exactly.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"asof_join: unknown direction {direction!r}")
    _guard_reserved("asof_join", _ASOF_RESERVED, left, right)
    if "__rts" in right_value_cols:
        raise ValueError("asof_join: '__rts' is a reserved payload field name")
    # side sort key: right rows sort before the left row at equal ts when
    # ties are matches, after it when they are not
    side_right = 0 if allow_exact_matches else 2
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # the matched right row's epoch rides inside the payload struct so the
    # 'nearest' arbitration can compare distances without a second lookup
    r_payload = F.struct(
        epoch.alias("__rts"), *[F.col(c) for c in right_value_cols]
    )
    # merge_asof parity on NULL timestamps: a right row with no time can
    # never be "nearest" to anything — drop it from the match space (left
    # NULL-ts rows are handled at the output projection below)
    right_tagged = right.select(
        F.col(key_col).alias("_k"),
        epoch.alias("_tse"),
        F.col(order_col).alias("_ord"),
        F.lit(side_right).alias("_side"),
        r_payload.alias("_r"),
    ).filter(F.col("_tse").isNotNull())
    left_tagged = left.withColumn("_k", F.col(key_col)).withColumn(
        "_tse", epoch
    ).withColumn("_ord", F.col(order_col)).withColumn(
        "_side", F.lit(1)
    ).withColumn("_r", F.lit(None).cast(right_tagged.schema["_r"].dataType))
    unioned = left_tagged.unionByName(right_tagged, allowMissingColumns=True)
    part = Window.partitionBy("_k")
    w_back = part.orderBy(
        F.col("_tse").asc(), F.col("_side").asc(), F.col("_ord").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = part.orderBy(
        F.col("_tse").desc(), F.col("_side").asc(), F.col("_ord").desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    if direction == "backward":
        matched = unioned.withColumn("_m", F.last("_r", ignorenulls=True).over(w_back))
    elif direction == "forward":
        matched = unioned.withColumn("_m", F.last("_r", ignorenulls=True).over(w_fwd))
    else:
        d_back = F.col("_tse") - F.col("_mb.__rts")
        d_fwd = F.col("_mf.__rts") - F.col("_tse")
        matched = (
            unioned.withColumn("_mb", F.last("_r", ignorenulls=True).over(w_back))
            .withColumn("_mf", F.last("_r", ignorenulls=True).over(w_fwd))
            .withColumn(
                "_m",
                F.when(F.col("_mb").isNull(), F.col("_mf"))
                .when(F.col("_mf").isNull(), F.col("_mb"))
                .when(d_back <= d_fwd, F.col("_mb"))
                .otherwise(F.col("_mf")),
            )
        )
    # a NULL-ts left row has no position in time, so it matches NOTHING in
    # any direction (merge_asof parity): under w_fwd's DESC ordering NULLs
    # sort last, so every right row would otherwise "precede" it and
    # forward/nearest would hand it the earliest right row
    no_ts = F.col("_tse").isNull()
    out_cols = [F.col(c) for c in left.columns] + [
        F.when(~no_ts, F.col(f"_m.{c}")).alias(f"{prefix}{c}")
        for c in right_value_cols
    ]
    return matched.filter(F.col("_side") == 1).select(*out_cols)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    start_col: str = "session_start",
    end_col: str = "session_end",
    bucket_hours: float = 24.0,
) -> DataFrame:
    """Containment range join: each point row matched to the interval rows
    of the same key with ``start <= ts <= end`` (inclusive both ends).
    Returns points joined with their intervals' columns.

    Plan shape — bucketized equi-join: intervals explode into the time
    buckets they cover (``bucket_hours`` wide), points map to their single
    bucket, and the join runs on (key, bucket) with the containment
    predicate as a residual filter.  No output dedup is needed: a
    (point, interval) pair can only meet in the point's one bucket.  Cost
    scales with interval-span/bucket_hours (bounded fan-out), never the
    O(|points|·|intervals|) of a theta join; bucket width trades explode
    fan-out against residual selectivity and is the knob to retune when
    interval spans grow 100×.
    """
    _guard_reserved("interval_join", _IVAL_RESERVED, points, intervals)
    width_us = int(bucket_hours * 3_600_000_000)
    pt_bucket = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp")) / width_us)
    iv_buckets = F.sequence(
        F.floor(F.unix_micros(F.col(start_col).cast("timestamp")) / width_us),
        F.floor(F.unix_micros(F.col(end_col).cast("timestamp")) / width_us),
    )
    p = points.withColumn("_bkt", pt_bucket).withColumnRenamed(key_col, "_k")
    iv = intervals.withColumn("_bkt", F.explode(iv_buckets)).withColumnRenamed(
        key_col, "_k"
    )
    # residual predicate via DATAFRAME-QUALIFIED references: bare F.col
    # would be ambiguous whenever both inputs carry a same-named non-key
    # column (e.g. intervals that still have a 'ts' of their own)
    joined = p.join(iv, ["_k", "_bkt"]).filter(
        (p[ts_col] >= iv[start_col]) & (p[ts_col] <= iv[end_col])
    )
    return joined.withColumnRenamed("_k", key_col).drop("_bkt")
