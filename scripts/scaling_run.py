#!/usr/bin/env python3
"""One scaling-bench run (spark-submit target).

Reads the pre-materialized corpus parquet (the sandbox stand-in for the
Iceberg corpus table), runs the full KG-construction pipeline, and prints
one JSON line with wall seconds and triples/sec.  Invoked twice by
scaling_bench.py — once per parallelism level — in a fresh JVM each time so
neither run inherits the other's JIT warmup.

Usage: spark-submit --master local[N] --py-files pkg.zip \
           scripts/scaling_run.py <corpus_parquet> <cores>
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    corpus_path = sys.argv[1]
    cores = int(sys.argv[2])

    from scrapontologies_spark.session import build_session
    from scrapontologies_spark.sources.corpus import corpus_df

    spark = build_session(
        app_name=f"kg-scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        # The sandbox corpus is only ~600 MB; with the 128 MB cluster default
        # the scan packs into ~5 splits and parallelism is capped by the scan,
        # not by cores — both levels would measure the same wall.  4 MB gives
        # ~150 splits (≈5× the larger core count), the same split count at
        # BOTH levels so the comparison stays fair.  At the 100 TB design
        # point the default yields ~10^6 splits and needs no override.
        extra_conf={"spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the python worker pool + codegen with a tiny untimed job so the
    # timed window measures the pipeline, not process spawning.
    corpus_df(spark, 64).count()

    corpus = spark.read.parquet(corpus_path)

    t0 = time.time()
    # One-pass deliverables measurement: the fused extraction computes every
    # triple / entity / schema row (emit_chunks=False — chunk rows are
    # intermediate state, not an output table); an observe counts each row
    # kind as the rows stream into the one A5 global-schema reduce.  Same
    # outputs as the ``*_view``s of one fused pass (checked against them in
    # tests), but one Spark job, ZERO shuffles, no cache, no repeated
    # scans — the wall measures the pipeline's compute, which is what
    # scales with executors.
    import json as _json

    from scrapontologies_spark.plans.pipeline import pipeline_summary

    counts, gschema_json = pipeline_summary(corpus, chunk_bytes=1024)
    n_triples = counts.get("triple", 0)
    n_entities = counts.get("entity", 0) + counts.get("module", 0)
    assert _json.loads(gschema_json).get("properties"), "global schema must be non-trivial"
    wall = time.time() - t0

    print(
        json.dumps(
            {
                "cores": cores,
                "wall_sec": round(wall, 2),
                "n_triples": n_triples,
                "n_entities": n_entities,
                "triples_per_sec": round(n_triples / wall, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
