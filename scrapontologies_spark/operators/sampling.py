"""Deterministic corpus sampling / mixing for training-data pipelines.

Random sampling (``df.sample``) is seed-and-partitioning dependent — a
rerun or a repartition changes the sample, which breaks resumability and
cross-engine verification.  These operators derive every keep/drop decision
from md5 of the ROW ID, so:

- the sample is a pure function of the data (rerun-stable, partitioning-
  independent — the same property chunk ids rely on, SURVEY §2.5);
- an ANSI-SQL oracle reproduces it bit-exactly;
- incremental runs keep their decisions: a document's fate never changes
  when the corpus grows.

Scale shape: a narrow filter on a hash of the id column — no shuffle, full
predicate pipelining into the scan stage.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 16^8 — the md5-prefix bucket space.  8 hex chars = 32 bits: plenty of
# resolution for per-mille rates while staying exactly representable in
# both engines' integer/double arithmetic.
_BUCKETS = 16 ** 8


def _hash_fraction(id_col: Column, salt: str) -> Column:
    """Uniform [0,1) value derived from md5(id || '#' || salt) — the first
    8 hex chars as an integer over 16^8.  Cross-engine exact: DuckDB's
    ('0x' || substr(md5(...), 1, 8))::BIGINT / 16^8 matches bit-for-bit."""
    h = F.conv(F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(f"#{salt}"))), 1, 8), 16, 10)
    return h.cast("double") / F.lit(float(_BUCKETS))


def pack_sequences(
    df: DataFrame,
    capacity: int,
    size_col: str = "n_chars",
    group_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Deterministic sequence packing: assign each document to a training
    bin of ~``capacity`` size units, filling bins in ``order_col`` order
    within each ``group_col`` partition (pack_id = the bin its START
    offset falls in — the streaming-greedy rule, expressible as a window
    cumsum, no UDF).  Returns the input plus (pack_id, pack_offset).

    Scale shape: ONE hash shuffle on the group column; the running sum is
    a single window pass.  Groups are the parallelism unit — at corpus
    scale group by (source, shard) so no single window partition is
    corpus-sized.  Deterministic: same inputs → same packing, any
    physical partitioning.
    """
    from pyspark.sql.window import Window

    from .events import _guard_reserved

    # a caller's own '_start' column would be silently overwritten by the
    # internal cumsum and then dropped — fail fast like asof/interval_join
    _guard_reserved("pack_sequences", ("_start",), df)

    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = (F.sum(F.col(size_col)).over(w) - F.col(size_col)).alias("_start")
    return (
        df.withColumn("_start", start)
        .withColumn(
            "pack_id", F.floor(F.col("_start") / F.lit(capacity)).cast("long")
        )
        .withColumn("pack_offset", F.col("_start") % F.lit(capacity))
        .drop("_start")
    )


def sample_stratified(
    df: DataFrame,
    rates: Dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: Optional[float] = None,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic downsampling — the corpus-mixing primitive
    (e.g. keep 10% of crawl, 100% of reference docs).  ``rates`` maps
    stratum value → keep rate; strata not listed keep ``default_rate``
    (None → dropped entirely).  One narrow filter, no shuffle; the rate
    lookup compiles to a CASE chain over the (small, driver-side) dict.
    """
    frac = _hash_fraction(F.col(id_col), salt)
    rate_expr: Column = F.lit(default_rate if default_rate is not None else -1.0)
    for value in sorted(rates):
        rate_expr = (
            F.when(F.col(stratum_col) == value, F.lit(float(rates[value])))
            .otherwise(rate_expr)
        )
    return df.filter(frac < rate_expr)
