#!/usr/bin/env python3
"""Per-round benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Two workload families:

1. ``kg_pipeline`` — the flagship KG-construction job (BASELINE north_rule)
   over a deterministic synthetic corpus sized by sf (input_hint shape),
   timed as one ``pipeline_summary`` (one Spark job: the fused pass, its
   per-kind counts and the global-schema reduce); the per-query value is
   wall seconds, and ``kg_triples_per_sec`` reports throughput.
2. Driver-contract operator queries (SURVEY §2 + training-data ops) over
   the driver's parquet tables, each forced end-to-end with a noop sink so
   Catalyst can't prune the work away.

Every timed unit runs ``$SPARK_GRAFT_REPEATS`` times (default 2) in
INTERLEAVED passes (all queries once, then again) and reports the per-query
minimum: this VM's hypervisor-steal bursts last seconds and inflate any
single draw 2-5× (BENCH_SCALING.md methodology), and interleaving
decorrelates a burst from any one query, so min-of-passes is the honest
noise-floor estimator BASELINE.md asks readers to apply by hand.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Queries from __spark_entry__.queries() that form the headline suite.
HEADLINE = [
    "m1_term_mentions",
    "kg_fold_entities",
    "dedup_exact",
    "dedup_lsh_candidates",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "sim_cosine_topk",
    "sim_cosine_topk_lsh",
    "text_lang_id",
    "text_token_stats",
    "text_quality",
    "text_fingerprint",
    "cc_components",
    "j1_reconcile_merge",
    "mm_base64_payload",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "events_user_rollup",
    "events_sessionize",
]

# Round-2 operators: timed separately (extra_queries) so the headline wall
# keeps its round-1 query basis for cross-round comparison.
EXTRA_QUERIES = [
    "dedup_clusters",
    "sim_cosine_topk_ivf",
    "graph_pagerank_mentions",
    "sample_stratified",
    "m5_containment_triples",
    "p8_filtered_mentions",
    "tpch_q6_forecast_revenue",
    "text_repetition",
    "text_decontaminate",
    "text_keep_filter",
    "text_vocabulary",
    "text_tf_idf",
    "text_redact_pii",
    "events_asof_purchase",
    "events_interval_sessions",
    # round-3 additions
    "events_asof_forward",
    "dedup_embedding_cosine_lsh",
    "dedup_keep_canonical",
    # round-5 additions
    "events_hourly_rollup",
    "files_pipeline_triples",
]

# docs per unit scale factor for the synthetic KG corpus
CORPUS_DOCS_PER_SF = 200_000


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        # fail BEFORE any timed work (same principle as the query-name
        # validation below): a silent 0.1 fallback would mis-size the
        # synthetic corpus and mislabel the emitted JSON, corrupting
        # cross-round comparisons with no warning
        raise SystemExit(
            f"SPARK_GRAFT_SF_DIR basename {base!r} is not sf<N> — cannot "
            "infer the scale factor; rename the dir or use sf-style names"
        )


def _force(df) -> None:
    """Materialize a DataFrame end-to-end without driver collection."""
    df.write.format("noop").mode("overwrite").save()


def _release_new_persists(spark, keep_ids: set) -> None:
    """Unpersist RDDs persisted since ``keep_ids`` was snapshotted
    (operator-internal localCheckpoints).  Each timed query is a standalone
    workload; letting ~80 executions' checkpoint blocks accumulate grows
    the heap until a multi-minute full GC lands on an arbitrary query
    (observed on the sf1 suite: same query 8.5 s vs 107 s, identical
    code/data).  The intentionally long-lived corpus cache is excluded."""
    from scrapontologies_spark.operators.util import unpersist_rdds

    unpersist_rdds(spark, keep_ids)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "2")))
    sf = _sf_from_dir(sf_dir)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scrapontologies_spark.operators.util import persisted_rdd_ids
    from scrapontologies_spark.plans import driver_queries
    from scrapontologies_spark.plans.pipeline import pipeline_summary
    from scrapontologies_spark.session import build_session
    from scrapontologies_spark.sources.corpus import corpus_df

    spark = build_session(
        app_name="scrapontologies-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm up: JVM codegen + python worker pool (not counted).  The tiny
    # pipeline_summary is the SAME Arrow-UDF job the timed run uses
    # (extraction kernel, global-schema reduce), so the forked Python
    # workers do their one-time module imports here — on a real cluster
    # the workers are long-lived and already warm when a job lands.
    spark.range(10_000).selectExpr("sum(id)").collect()
    warm = corpus_df(spark, 64).persist()
    warm.count()
    pipeline_summary(warm, chunk_bytes=1024)
    warm.unpersist()

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    extra_queries: dict[str, float] = {}

    def _keep_min(store: dict, name: str, dt: float) -> None:
        dt = round(dt, 3)
        store[name] = min(store.get(name, dt), dt)

    n_docs = max(2_000, int(CORPUS_DOCS_PER_SF * sf))
    corpus = corpus_df(spark, n_docs).persist()
    corpus.count()  # input materialization excluded (on a cluster the
    # corpus is an Iceberg table already on disk)
    qmap = driver_queries.queries()
    # fail BEFORE any timed work: a rename/typo must not silently shrink
    # the timed suite (cross-round walls would misread as a win) nor
    # discard a long run mid-suite
    missing = [n for n in (*HEADLINE, *EXTRA_QUERIES) if n not in qmap]
    if missing:
        raise KeyError(f"bench queries missing from the registry: {missing}")
    baseline_persists = persisted_rdd_ids(spark)

    def _time_queries(names, store):
        for name in names:
            t0 = time.time()
            _force(qmap[name](spark, sf_dir))
            _keep_min(store, name, time.time() - t0)
            _release_new_persists(spark, baseline_persists)

    for _pass in range(repeats):
        # --- flagship KG pipeline ----------------------------------------
        t0 = time.time()
        # the deliverables job: every triple / entity / schema row of one
        # fused pass (no chunk rows — intermediate state, not an output
        # table), counted by kind on the way into the global-schema reduce
        counts, _ = pipeline_summary(corpus, chunk_bytes=1024)
        n_triples = counts.get("triple", 0)
        n_entities = counts.get("module", 0) + counts.get("entity", 0)
        dt = time.time() - t0
        if timings.get("kg_pipeline", float("inf")) > dt:
            extra["kg_triples_per_sec"] = round(n_triples / dt, 1)
        _keep_min(timings, "kg_pipeline", dt)
        extra["kg_n_triples"] = n_triples
        extra["kg_n_entities"] = n_entities
        extra["kg_n_docs"] = n_docs
        _release_new_persists(spark, baseline_persists)

        # --- operator catalog over the driver tables ---------------------
        _time_queries(HEADLINE, timings)
        # round-2+ additions, timed OUTSIDE the headline wall so the
        # headline stays comparable across rounds (round 1's 21-query basis)
        _time_queries(EXTRA_QUERIES, extra_queries)

    corpus.unpersist()
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extra_queries": extra_queries,
                "sf": sf,
                "cpus": cpus,
                "repeats": repeats,
                **extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
