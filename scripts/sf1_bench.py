#!/usr/bin/env python3
"""sf1-class scale bench (VERDICT r02 ask #4): ~200k-doc KG job end-to-end
plus the operator suite over 10×-sf0.1 driver-shaped tables, at local[32].

Everything is generated DISTRIBUTED and deterministically (spark.range +
JVM expressions / the corpus mapInPandas path) — no driver-side row lists,
no wall-clock/randomness — then persisted under ``bench_data/`` so repeat
runs skip generation.  Prints one JSON line per phase and a final summary;
paste results into BENCH_SCALING.md.

Usage: python scripts/sf1_bench.py [--cpus 32] [--docs 200000]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BENCH_DIR = os.path.join(REPO, "bench_data")

# operator queries to run at sf1 over the generated driver-shaped tables.
# dedup_embedding_cosine (EXACT all-pairs) is deliberately absent: it is the
# opt-in small-scale oracle baseline; at 20k vectors its 2·10^8-pair cross
# join is exactly what the LSH/IVF scale paths exist to avoid (the run
# includes those).
SF1_QUERIES = [
    "m1_term_mentions",
    "kg_fold_entities",
    "dedup_exact",
    "dedup_minhash_signatures",
    "dedup_lsh_candidates",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_keep_canonical",
    "dedup_embedding_cosine_lsh",
    "sim_cosine_topk",
    "sim_cosine_topk_lsh",
    "sim_cosine_topk_ivf",
    "text_lang_id",
    "text_token_stats",
    "text_quality",
    "text_fingerprint",
    "text_repetition",
    "text_decontaminate",
    "text_keep_filter",
    "text_vocabulary",
    "text_tf_idf",
    "text_redact_pii",
    "cc_components",
    "graph_pagerank_mentions",
    "sample_stratified",
    "pack_sequences",
    "events_sessionize",
    "events_asof_purchase",
    "events_asof_forward",
    "events_interval_sessions",
]

_WORDS = [f"w{i}" for i in range(800)] + [
    "query", "hash", "sort", "group", "filter", "join", "merge", "scan",
    "the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
]


def _gen_tables(spark, out_dir: str, n_docs: int, n_vecs: int, n_events: int) -> None:
    """Driver-shaped documents/embeddings/events at sf1, all JVM-side."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)

    # abs over hash cast to long: int32 abs(Int.MinValue) throws under
    # ANSI mode (Spark 4 default); value-preserving otherwise
    def _h(*cols):
        return F.abs(F.hash(*cols).cast("long"))
    vocab = F.array(*[F.lit(w) for w in _WORDS])
    nw = len(_WORDS)

    # documents: ~120-word seeded texts; every 20th doc is a near-copy of
    # its predecessor (tail words perturbed) so dedup finds real structure
    base_id = F.when(
        (F.col("id") % 20 == 1) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    n_words = (_h(base_id, F.lit("len")) % 80 + 60).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), n_words),
        lambda i: F.element_at(
            vocab,
            (
                _h(
                    F.when(
                        (F.col("id") % 20 == 1) & (i >= 110), F.col("id")
                    ).otherwise(base_id),
                    i,
                )
                % nw
                + 1
            ).cast("int"),
        ),
    )
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.array_join(words, " ").alias("text"),
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("es")),
                (_h("id", F.lit("lang")) % 4 + 1).cast("int"),
            ).alias("lang"),
            F.concat(F.lit("src"), (F.col("id") % 10).cast("string")).alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    # embeddings: dim-64 float vectors, ~32 soft clusters so ANN has signal
    # (the SHARED generator — sources/corpus.clustered_embeddings — also
    # feeds the recall-curve harness and the pytest recall gates)
    from scrapontologies_spark.sources.corpus import clustered_embeddings

    clustered_embeddings(spark, n_vecs, labeled=True).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/embeddings.parquet")

    # events: 1M rows over ~5k users, 30 days, zipf-ish hot users
    n_users = max(1000, n_events // 200)
    hot = F.when(_h("id", F.lit("hot")) % 10 == 0, F.lit(7)).otherwise(
        (_h("id", F.lit("u")) % n_users).cast("bigint")
    )
    ts = F.to_timestamp(
        F.from_unixtime(
            F.lit(1700000000) + (_h("id", F.lit("t")) % (30 * 86400))
        )
    )
    etype = F.element_at(
        F.array(
            F.lit("view"), F.lit("click"), F.lit("view"), F.lit("cart"), F.lit("purchase")
        ),
        (_h("id", F.lit("e")) % 5 + 1).cast("int"),
    )
    (
        spark.range(n_events)
        .repartition(64)
        .select(
            F.col("id").alias("event_id"),
            ts.alias("ts"),
            hot.alias("user_id"),
            etype.alias("event_type"),
            ((_h("id", F.lit("v")) % 10000).cast("double") / 100.0).alias(
                "value"
            ),
            F.concat(
                F.lit('{"k": '), (F.col("id") % 100).cast("string"), F.lit("}")
            ).alias("props"),
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/events.parquet")
    )


def _release_cached(spark) -> None:
    """Unpersist every persistent RDD (localCheckpoint blocks included —
    catalog.clearCache misses RDD-level persists).  Each suite query is a
    standalone workload; without this, checkpoint blocks from 60 query
    executions pile up to a ~30 GB heap and a migrating multi-minute full
    GC lands on whichever query triggers it (observed: the same query
    8.5 s in one run, 107 s in another, identical code and data)."""
    from scrapontologies_spark.operators.util import unpersist_rdds

    unpersist_rdds(spark)
    spark.catalog.clearCache()


def _jvm_heap_mb(spark) -> int:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return int((rt.totalMemory() - rt.freeMemory()) / (1024 * 1024))


class _HeapProfiler:
    """Per-warehouse-stage driver-JVM heap attribution (VERDICT r03 ask #4:
    'which stage holds the 34 GB').  Installed as sources.io.stage_observer;
    a daemon thread samples used heap every 0.5 s and raises the max seen
    ('peak' — includes un-collected garbage, i.e. allocation pressure) of
    every stage current at the sample, plus the heap right after each
    stage's write completes following a System.gc() ('live' — what is
    RETAINED then: caches, localCheckpoint blocks, broadcast state).
    run_job runs independent stages at the same time, so stages running
    together share their peaks, and a stage's 'live' includes what the
    stages still running with it hold."""

    def __init__(self, spark):
        import threading

        self.spark = spark
        self.current: set[str] = set()
        self.peak: dict[str, int] = {}
        self.live: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.wait(0.5):
            # a copy: stage threads add and remove names while we sample
            cur = list(self.current)
            if cur:
                try:
                    mb = _jvm_heap_mb(self.spark)
                except Exception:
                    # exit only at real shutdown; a transient py4j hiccup
                    # mid-run must not silently end attribution for every
                    # remaining stage
                    if self._stop.is_set():
                        return
                    continue
                for name in cur:
                    if mb > self.peak.get(name, 0):
                        self.peak[name] = mb

    def __call__(self, name: str, event: str) -> None:
        if event == "start":
            self.peak.setdefault(name, _jvm_heap_mb(self.spark))
            self.current.add(name)
        else:
            self.current.discard(name)
            self.spark._jvm.java.lang.System.gc()
            time.sleep(0.3)  # let the concurrent collector settle
            self.live[name] = _jvm_heap_mb(self.spark)

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=2)
        return {"peak_mb": self.peak, "live_after_gc_mb": self.live}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--table-docs", type=int, default=50_000)
    ap.add_argument("--table-vecs", type=int, default=20_000)
    ap.add_argument("--table-events", type=int, default=1_000_000)
    ap.add_argument("--skip-job", action="store_true")
    ap.add_argument("--skip-queries", action="store_true")
    ap.add_argument(
        "--heap-profile",
        action="store_true",
        help="attribute driver-JVM heap per warehouse stage (job phase)",
    )
    args = ap.parse_args()

    from scrapontologies_spark.plans import driver_queries
    from scrapontologies_spark.plans.job import run_job
    from scrapontologies_spark.session import build_session
    from scrapontologies_spark.sources.corpus import corpus_df

    spark = build_session(
        app_name="sf1-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=2 * args.cpus,
        extra_conf={
            # local-mode default is a 1g driver JVM; 32 concurrent Arrow
            # tasks over up-to-50KB rows need real heap + direct memory
            # (on a cluster this is plain executor sizing)
            "spark.driver.memory": "48g",
            # bound each Arrow batch: a 5000-row generator partition of
            # ~50KB rows would otherwise serialize as ONE ~250MB batch
            # per task × 32 tasks of direct memory
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000).selectExpr("sum(id)").collect()

    # fail BEFORE generation and the multi-minute job phase (same guard as
    # bench.py): a renamed registry entry must not discard a long run
    # mid-suite with a KeyError
    missing = [n for n in SF1_QUERIES if n not in driver_queries.queries()]
    if missing:
        raise KeyError(f"SF1_QUERIES missing from the registry: {missing}")

    report: dict = {"metric": "sf1_bench", "cpus": args.cpus, "unit": "sec"}

    # --- phase 0: distributed generation (timed, but excluded from op walls)
    corpus_path = os.path.join(BENCH_DIR, f"sf1_corpus_{args.docs}.parquet")
    # the cache key must carry EVERY size knob: keying on table_docs alone
    # would silently reuse stale tables of the wrong vec/event size and
    # mislabel the emitted JSON.  "sf1" stays the name for the all-defaults
    # triple so existing bench_data/sf1 runs keep their cache.
    default_sizes = (
        args.table_docs == 50_000
        and args.table_vecs == 20_000
        and args.table_events == 1_000_000
    )
    tables_dir = os.path.join(
        BENCH_DIR,
        "sf1"
        if default_sizes
        else f"sf1_d{args.table_docs}_v{args.table_vecs}_e{args.table_events}",
    )
    t0 = time.time()
    if not args.skip_job and not os.path.exists(corpus_path):
        corpus_df(spark, args.docs).write.mode("overwrite").parquet(corpus_path)
    if not args.skip_queries and not os.path.exists(
        os.path.join(tables_dir, "events.parquet")
    ):
        _gen_tables(
            spark,
            tables_dir,
            n_docs=args.table_docs,
            n_vecs=args.table_vecs,
            n_events=args.table_events,
        )
    report["gen_wall"] = round(time.time() - t0, 1)

    # --- phase 1: run_job end-to-end (fresh warehouse each run) ---------
    if not args.skip_job:
        wh_root = os.path.join(BENCH_DIR, f"sf1_warehouse_{args.docs}")
        shutil.rmtree(wh_root, ignore_errors=True)
        corpus = spark.read.parquet(corpus_path)
        profiler = None
        if args.heap_profile:
            from scrapontologies_spark.sources import io as wh_io

            profiler = _HeapProfiler(spark)
            wh_io.stage_observer = profiler
        t0 = time.time()
        try:
            infos = run_job(spark, corpus, wh_root, chunk_bytes=1024)
        finally:
            if profiler is not None:
                from scrapontologies_spark.sources import io as wh_io

                wh_io.stage_observer = None
        job_wall = time.time() - t0
        stages = {k: round(v.wall_ms / 1000.0, 2) for k, v in infos.items()}
        n_triples = spark.read.parquet(os.path.join(wh_root, "triples")).count()
        report["job"] = {
            "wall": round(job_wall, 1),
            "stages": stages,
            "n_docs": args.docs,
            "n_triples": n_triples,
            "triples_per_sec": round(n_triples / job_wall, 1),
            "jvm_heap_mb_after": _jvm_heap_mb(spark),
            **({"stage_heap": profiler.stop()} if profiler is not None else {}),
        }
        print(json.dumps({"phase": "job", **report["job"]}), flush=True)
        # job-internal localCheckpoint blocks would otherwise shadow the
        # query phase (same migrating-full-GC artifact the query loop
        # releases between entries)
        _release_cached(spark)

    # --- phase 2: operator suite over the sf1 tables --------------------
    if not args.skip_queries:
        qmap = driver_queries.queries()
        times: dict[str, float] = {}
        for _pass in range(2):
            for name in SF1_QUERIES:
                t0 = time.time()
                qmap[name](spark, tables_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.time() - t0, 2)
                times[name] = min(times.get(name, dt), dt)
                if _pass == 0:
                    print(json.dumps({"phase": "query", name: dt}), flush=True)
                _release_cached(spark)
        report["queries"] = times
        report["queries_wall"] = round(sum(times.values()), 1)
        report["jvm_heap_mb_final"] = _jvm_heap_mb(spark)

    print(json.dumps(report), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
