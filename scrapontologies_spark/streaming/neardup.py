"""Streaming MinHash-LSH near-duplicate suppression.

The batch near-dup path (operators/dedup.py) buckets documents by LSH band
keys and keeps one canonical document per duplicate cluster.  A 100 TB
ingest pipeline has to make the same decision ONLINE: emit a document only
if no previously-seen document shares an LSH band with it.  The reference
has no streaming surface (SURVEY §2.10); this is the training-data-pipeline
extension of its dedup semantics.

Design: ``foreachBatch`` over a persistent band-key store, reusing the
batch operators (shingles → minhash_signatures → band_key_rows) unchanged —
the signature derivation is a stateless narrow map plus a per-doc
aggregation within the micro-batch, so it needs no streaming state; the
only cross-batch state is the band-key store table.

Semantics (deterministic greedy first-arrival-wins):

- a document is SUPPRESSED if any of its band keys was stored by an
  EARLIER batch (an earlier arrival collides with it), or if a smaller
  ``doc_id`` in the SAME micro-batch occupies one of its band buckets;
- band keys of ALL batch documents (survivors and suppressed alike) enter
  the store, so a later document colliding only with a suppressed one is
  still suppressed — the transitive closure of the greedy rule, matching
  how duplicate clusters chain in the batch path
  (dedup.duplicate_clusters).

Retry safety: store rows are tagged with the writing ``batch_id`` and the
probe EXCLUDES the current batch's own rows, so a foreachBatch re-run
(after a failure between the store append and the checkpoint commit)
reaches the exact same verdict as the first attempt — the batch's novel
documents are never suppressed by their own keys.  The store may carry
duplicate key rows from retried appends (harmless for a semi-join probe),
and the emitted table is at-least-once (standard foreachBatch contract;
dedupe downstream by ``doc_id`` if the sink is not idempotent).

Scale shape — two store layouts behind one interface:

- ``ParquetBandStore`` (a plain directory, the default when callers pass a
  path string): the per-batch probe is a left-semi join of the small batch
  band set against the whole store, which SHUFFLES THE STORE every
  micro-batch — fine locally and for modest stores, quadratic-ish I/O over
  a long run.
- ``BucketedBandStore`` (a catalog table written with ``bucketBy`` on the
  join key and ``saveAsTable``): the store scan already carries
  hash partitioning on (band_idx, band_key), so the probe co-partitions
  WITHOUT an Exchange on the store side — only the small batch side
  shuffles (plan-asserted in tests/test_streaming_neardup.py).  Compaction
  is a bucketed table rewrite with a catalog-level rename swap, not a
  filesystem move.  Locally the catalog is Spark's session catalog over
  the warehouse dir; on a cluster the same code runs against a real
  metastore / Iceberg ``bucket(N, key)`` table.

Store growth is one row per (doc, band) — O(corpus), the same footprint
the batch signature table already costs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..operators.dedup import band_key_rows, minhash_signatures, shingles

_STORE_SCHEMA = "band_idx INT, band_key STRING, batch_id BIGINT, writer STRING"
_STORE_COLS = ("band_idx", "band_key", "batch_id", "writer")


# ---------------------------------------------------------------------------
# band-key stores
# ---------------------------------------------------------------------------


class ParquetBandStore:
    """Band store as a plain parquet directory (local dev / modest scale).

    ``read`` returns None for a store that does not exist yet (first
    batch); ``compact`` rewrites the store as distinct keys via an
    atomic-per-step rename swap: write tmp → rename live aside → promote
    tmp → delete aside.  Every crash point leaves either the live or the
    aside directory holding the complete state, and ``read`` FAILS LOUDLY
    (instead of treating the store as empty and silently re-emitting every
    past duplicate) when it finds the aside marker of an interrupted
    compaction.  The swap uses driver-local renames, so compaction of this
    layout is local-FS only — use BucketedBandStore where the store lives
    in a catalog/object store."""

    def __init__(self, store_dir: str):
        self.store_dir = store_dir.rstrip("/") or store_dir

    def _aside(self) -> str:
        return self.store_dir + "__old"

    def _tmp(self) -> str:
        return self.store_dir + "__compacting"

    def read(self, spark: SparkSession) -> "DataFrame | None":
        # The existence probe is the read itself — engine-side, so
        # hdfs:// / s3a:// store paths work, not only the driver-local
        # filesystem.
        try:
            return spark.read.schema(_STORE_SCHEMA).parquet(self.store_dir)
        except AnalysisException as e:
            # ONLY the missing-path case means "first batch"; any other
            # analysis failure (bad scheme, catalog error) must propagate —
            # treating it as an empty store would silently disable dedup
            get = getattr(e, "getCondition", None) or getattr(
                e, "getErrorClass", lambda: None
            )
            klass = get() or ""
            if "PATH_NOT_FOUND" not in klass:
                raise
            if os.path.exists(self._aside()):
                raise RuntimeError(
                    f"band store {self.store_dir!r} is missing but the "
                    f"compaction aside {self._aside()!r} exists: a compaction "
                    "crashed between its renames.  Recover by renaming the "
                    "aside back (or re-running compact_band_store, which "
                    "auto-restores) instead of starting an empty store, "
                    "which would re-emit every previously-suppressed "
                    "duplicate."
                ) from e
            return None

    def append(self, keys: DataFrame) -> None:
        keys.write.mode("append").parquet(self.store_dir)

    def compact(self, spark: SparkSession) -> int:
        """Rewrite as distinct (band_idx, band_key) with NULL writer/batch
        tags (pure PRIOR rows — every future probe treats them as earlier
        arrivals, which compaction makes true by definition).  Run BETWEEN
        streaming runs, never concurrently with one."""
        import shutil

        live, aside, tmp = self.store_dir, self._aside(), self._tmp()
        if os.path.exists(aside):
            if not os.path.exists(live):
                # prior compaction crashed between rename-aside and promote:
                # the aside holds the last complete store — restore it
                os.rename(aside, live)
            else:
                # crashed after promote, before cleanup: aside is stale
                shutil.rmtree(aside)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)  # stale partial rewrite
        seen = self.read(spark)
        if seen is None:
            # never-written store (maintenance ran before the first batch,
            # or a mistyped path): compaction is a no-op, not a crash
            return 0
        _compacted_rows(seen).write.mode("overwrite").parquet(tmp)
        n = spark.read.schema(_STORE_SCHEMA).parquet(tmp).count()
        os.rename(live, aside)
        os.rename(tmp, live)
        shutil.rmtree(aside)
        return n


class BucketedBandStore:
    """Band store as a catalog table bucketed on the probe's join key —
    the scale layout.  The bucketed scan reports hash partitioning on
    (band_idx, band_key), so the every-batch left-semi probe needs NO
    Exchange on the store side; only the small batch side shuffles into
    the bucket layout (plan-asserted in tests).  Each write is a
    ``bucketBy(n_buckets, "band_idx", "band_key")`` + ``saveAsTable`` —
    the parquet stand-in for Iceberg ``bucket(N, key)`` hidden
    partitioning — applied to streaming state.

    Layout choice (measured, scripts/neardup_store_bench.py +
    BENCH_SCALING.md): while the store is within ~10× the batch size the
    two layouts perform within noise of each other; beyond that the
    bucketed table wins and keeps widening (1.9–2.0× at a 10M-row store)
    because the parquet layout re-shuffles the WHOLE store into every
    batch's probe while this one shuffles only the batch.  At corpus
    scale the bucketed layout is the only viable one.

    Tables are MANAGED (data under the session warehouse dir; a real
    metastore on a cluster) so the compaction swap is pure catalog DDL:
    write the distinct rewrite to ``<table>__compacting``, rename the live
    table aside, promote, drop the aside.  Every crash point leaves the
    complete state under one of the three names, and ``read`` fails loudly
    when the live table is missing but a compaction leftover exists."""

    def __init__(self, table: str, n_buckets: int = 16, fmt: str = "parquet"):
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
            raise ValueError(f"unqualified table identifier required: {table!r}")
        self.table = table
        self.n_buckets = n_buckets
        self.fmt = fmt

    def _aside(self) -> str:
        return self.table + "__old"

    def _tmp(self) -> str:
        return self.table + "__compacting"

    def read(self, spark: SparkSession) -> "DataFrame | None":
        cat = spark.catalog
        if cat.tableExists(self.table):
            return spark.table(self.table)
        if cat.tableExists(self._aside()) or cat.tableExists(self._tmp()):
            raise RuntimeError(
                f"band store table {self.table!r} is missing but a "
                "compaction leftover "
                f"({self._aside()!r} / {self._tmp()!r}) exists: a compaction "
                "crashed mid-swap.  Re-run compact (which auto-restores) or "
                "rename the aside back instead of starting an empty store, "
                "which would re-emit every previously-suppressed duplicate."
            )
        return None

    def _write(self, keys: DataFrame, table: str, mode: str) -> None:
        (
            keys.write.mode(mode)
            .format(self.fmt)
            .bucketBy(self.n_buckets, "band_idx", "band_key")
            .sortBy("band_idx", "band_key")
            .saveAsTable(table)
        )

    def append(self, keys: DataFrame) -> None:
        self._write(keys, self.table, "append")

    def compact(self, spark: SparkSession) -> int:
        """Distinct-rewrite via catalog rename swap (no filesystem moves).
        Run BETWEEN streaming runs, never concurrently with one."""
        cat = spark.catalog
        live, aside, tmp = self.table, self._aside(), self._tmp()
        if cat.tableExists(aside):
            if not cat.tableExists(live):
                spark.sql(f"ALTER TABLE {aside} RENAME TO {live}")
            else:
                spark.sql(f"DROP TABLE {aside}")
        if cat.tableExists(tmp):
            spark.sql(f"DROP TABLE {tmp}")
        seen = self.read(spark)
        if seen is None:
            return 0  # never-written store: no-op (see ParquetBandStore)
        self._write(_compacted_rows(seen), tmp, "overwrite")
        n = spark.table(tmp).count()
        spark.sql(f"ALTER TABLE {live} RENAME TO {aside}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {live}")
        spark.sql(f"DROP TABLE {aside}")
        return n


def _compacted_rows(seen: DataFrame) -> DataFrame:
    return (
        seen.select("band_idx", "band_key")
        .distinct()
        .withColumn("batch_id", F.lit(None).cast("bigint"))
        .withColumn("writer", F.lit(None).cast("string"))
    )


def _as_store(store, scale=None):
    """Coerce the public ``store_dir`` argument: a store object passes
    through; a string is a parquet directory path under the default/small
    profile.  Under a profile that mandates the bucketed layout
    (``profiles.CORPUS``: ``band_store_buckets`` set), a plain string must
    be a catalog table identifier — it becomes a BucketedBandStore, and a
    path-looking string (contains '/' or '.') raises instead of silently
    selecting the full-probe parquet layout the profile exists to avoid."""
    from ..profiles import resolve_profile

    if not isinstance(store, str):
        return store
    prof = resolve_profile(scale)
    if prof.band_store_buckets is None:
        return ParquetBandStore(store)
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", store):
        raise ValueError(
            f"scale profile {prof.name!r} requires the bucketed band store "
            f"(a catalog table), but {store!r} looks like a path; pass an "
            "unqualified table identifier or an explicit "
            "ParquetBandStore/BucketedBandStore instance"
        )
    return BucketedBandStore(store, n_buckets=prof.band_store_buckets)


# ---------------------------------------------------------------------------
# per-batch verdict
# ---------------------------------------------------------------------------


def _batch_band_keys(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    band_size: int,
) -> DataFrame:
    """(doc_id, band_idx, band_key) for one micro-batch via the batch
    operators (multiset shingles: MinHash's min() is duplicate-invariant,
    so the signature derivation is one map-side-combining aggregation)."""
    sh = shingles(docs, text_col=text_col, id_col=id_col, k=k, distinct=False)
    sigs = minhash_signatures(sh, num_hashes=num_hashes)
    return band_key_rows(sigs, num_hashes=num_hashes, band_size=band_size)


def _batch_plan(
    docs: DataFrame,
    store,
    batch_id: int,
    writer_id: str,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    band_size: int,
) -> "tuple[DataFrame, DataFrame]":
    """Build one batch's verdict plan: persists the band table, appends the
    batch's keys to the store tagged with (writer, batch_id), and returns
    ``(novel, bands)`` — ``novel`` still lazy, ``bands`` persisted so the
    caller can unpersist after materializing ``novel``.

    ``writer_id`` namespaces the retry exclusion: foreachBatch batch_ids
    are only unique per CHECKPOINT, so a stream restarted with a fresh
    checkpoint against a long-lived store would otherwise hide the old
    run's batch-0 keys behind its own batch 0.  The streaming wrapper
    derives it from the checkpoint dir (stable across driver restarts of
    the same query — retry exclusion still works — and distinct for a
    reset checkpoint or another stream sharing the store)."""
    spark = docs.sparkSession
    store = _as_store(store)
    bands = _batch_band_keys(
        docs, text_col, id_col, k, num_hashes, band_size
    ).persist()  # probed three ways below; evictable-safe (plain persist)

    # in-batch greedy: every bucket is owned by its smallest doc_id.  No
    # distinct on any suppressed-id set: they only ever feed the build side
    # of the final left_anti join, where duplicates (bounded by n_bands per
    # doc) are semantically free and a distinct costs a shuffle per batch.
    owner = bands.groupBy("band_idx", "band_key").agg(
        F.min("doc_id").alias("_owner")
    )
    suppressed = (
        bands.join(owner, ["band_idx", "band_key"])
        .filter(F.col("doc_id") > F.col("_owner"))
        .select("doc_id")
    )

    # cross-batch: any band key stored by an EARLIER batch suppresses the
    # doc.  The current (writer, batch_id) is excluded, so this plan is
    # correct even when executed after the append below (and on foreachBatch
    # retries, whose prior partial append carries the same tag).
    seen = store.read(spark)
    if seen is not None:
        # null-safe: rows from an untagged (legacy/compacted) store read
        # as NULL writer/batch_id and must count as PRIOR
        prior = seen.filter(
            ~(
                F.col("writer").eqNullSafe(F.lit(writer_id))
                & F.col("batch_id").eqNullSafe(F.lit(batch_id))
            )
        ).select("band_idx", "band_key")
        hits = bands.join(
            prior, ["band_idx", "band_key"], "left_semi"
        ).select("doc_id")
        suppressed = suppressed.unionByName(hits)

    # explicit BIGINT: F.lit of a small int is INT32, and mixed INT32/INT64
    # parquet files in one store break schema-widening-free readers (and a
    # caller's epoch-millis batch_id would genuinely be INT64)
    store.append(
        bands.select("band_idx", "band_key")
        .distinct()
        .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        .withColumn("writer", F.lit(writer_id))
    )

    novel = docs.join(
        suppressed.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )
    return novel, bands


def neardup_filter_batch(
    docs: DataFrame,
    store_dir,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    writer_id: str = "batch",
    scale=None,
) -> DataFrame:
    """One batch of the greedy rule: appends the batch's band keys to
    ``store_dir`` (a parquet directory path, or a ParquetBandStore /
    BucketedBandStore instance; rows tagged with ``(writer_id, batch_id)``
    — the pair must be unique per logical batch across every writer that
    shares the store, and stable across retries of the same batch) and
    returns the NOVEL documents of ``docs`` as a lazy DataFrame.

    Exposed separately from the streaming wiring so tests (and batch
    backfills) can drive the exact per-batch semantics directly.
    Documents too short to shingle (< k tokens) carry no band keys and are
    always emitted, matching the batch path (no candidates).  ``id_col``
    is assumed unique within a batch (exact-duplicate rows should be
    removed upstream, e.g. incremental.dedup_stream); duplicate ids share
    one signature row and would all pass or fail together.  ``scale``
    governs how a string ``store_dir`` is coerced (see ``_as_store``)."""
    novel, bands = _batch_plan(
        docs, _as_store(store_dir, scale), batch_id, writer_id,
        text_col, id_col, k, num_hashes, band_size,
    )
    # Materialize while the band cache is hot (it appears three times in
    # novel's plan — owner agg, in-batch join, store semi-join), then drop
    # it.  The result stays persisted (evictable, recompute-safe) for the
    # caller's action; the streaming wrapper manages the cache itself and
    # skips this eager step.
    novel = novel.persist()
    novel.count()
    bands.unpersist()
    return novel


_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _writer_tag(checkpoint_dir: str) -> str:
    """Writer id from the checkpoint location, NORMALIZED first: a driver
    restart that spells the same checkpoint differently (trailing slash,
    relative vs absolute path) must produce the same tag, or a retried
    uncommitted batch would see its own prior partial append as PRIOR keys
    and suppress the whole batch.  Plain paths resolve via abspath; URI
    spellings (file:/…, hdfs://…, s3a://…) keep their scheme and only shed
    trailing slashes — pick one spelling family per deployment (mixing
    ``/x`` and ``file:/x`` across restarts still diverges)."""
    p = checkpoint_dir.rstrip("/") or checkpoint_dir
    if not _SCHEME_RE.match(p):
        p = os.path.abspath(p)
    import hashlib

    return "ckpt:" + hashlib.md5(p.encode()).hexdigest()[:12]


def run_neardup_stream(
    docs_stream: DataFrame,
    out_dir: str,
    store_dir,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    available_now: bool = True,
    scale=None,
):
    """Wire the per-batch filter into a foreachBatch sink: novel documents
    append to ``out_dir`` parquet, band keys accumulate in ``store_dir``
    (path string → parquet layout; pass a BucketedBandStore for the
    co-partitioned catalog layout).  Returns the started StreamingQuery.

    The store writer tag derives from the (normalized) CHECKPOINT DIR:
    stable across driver restarts of the same query (retry exclusion keeps
    working for an uncommitted batch) and distinct for a reset checkpoint
    or a second stream sharing the store (whose epoch ids would otherwise
    collide and hide prior keys).  ``scale``: under ``profiles.CORPUS`` a
    string ``store_dir`` must name a catalog table (bucketed store); a
    path raises (see ``_as_store``)."""
    writer_id = _writer_tag(checkpoint_dir)
    store = _as_store(store_dir, scale)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # no rows: skip the store append (small-file growth)
        novel, bands = _batch_plan(
            batch_df, store, batch_id, writer_id,
            text_col, id_col, k, num_hashes, band_size,
        )
        novel.write.mode("append").parquet(out_dir)
        bands.unpersist()  # emitted — drop the cache before the next batch

    writer = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_band_store(spark, store_dir, scale=None) -> int:
    """Rewrite the band store as distinct (band_idx, band_key) rows with
    NULL writer/batch tags — periodic maintenance that bounds file-count
    growth (in continuous mode each micro-batch appends files and the
    every-batch probe re-lists the store).  Run BETWEEN streaming runs,
    never concurrently with one.  Dispatches to the store layout's own
    swap: rename-aside directory swap for the parquet layout, catalog
    table-rename swap for the bucketed layout; both leave a complete store
    recoverable at every crash point (probes fail loudly on leftovers
    instead of restarting empty).  Returns the compacted row count.
    Pass the SAME ``scale`` the stream used so a string ``store_dir``
    coerces to the same layout."""
    return _as_store(store_dir, scale).compact(spark)
