#!/usr/bin/env python3
"""ANN recall/cost curves (VERDICT r02 ask #5): LSH (n_tables × n_planes)
and IVF (k_cells × n_probe) top-k recall vs brute force, with wall time,
at a given sf dir.  Output: markdown tables for BENCH_SCALING.md.

Recall is macro top-k pair recall: |approx ∩ exact| / |exact| over all
(query, neighbor) pairs, every table row used as a query (self excluded).

Usage: python scripts/ann_recall_curve.py [sf_dir] [cpus] [k]
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LSH_GRID = [  # (tables, planes)
    (2, 4), (4, 4), (8, 4), (16, 4), (32, 4),
    (8, 3), (16, 3), (8, 6), (16, 6), (16, 8),
]
IVF_GRID = [(16, 2), (16, 4), (16, 8), (32, 4), (32, 8), (64, 8)]  # (cells, probes)


def _clustered(spark, n: int):
    """Shared deterministic clustered generator (sources/corpus.py): the
    realistic corpus-embedding case, vs testdata's isotropic worst case."""
    from scrapontologies_spark.sources.corpus import clustered_embeddings

    return clustered_embeddings(spark, n)


def _lsh_theory(mean_top_cos: float, planes: int, tables: int) -> float:
    from scrapontologies_spark.operators.similarity import sign_lsh_union_recall

    return sign_lsh_union_recall(mean_top_cos, planes, tables)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    # "clustered:<n>" instead of a dir -> deterministic clustered generator
    clustered_n = 0
    if sf_dir.startswith("clustered"):
        # strict parse: 'clustered' without a count, or a non-positive /
        # non-integer count, must not fall through to being treated as a
        # parquet dir (the resulting path error is misleading)
        try:
            clustered_n = int(sf_dir.split(":", 1)[1])
        except (IndexError, ValueError):
            raise SystemExit(
                f"bad arg {sf_dir!r}: use clustered:<n_rows> (e.g. clustered:20000)"
            )
        if clustered_n < 2:
            raise SystemExit("clustered:<n> needs n >= 2 (top-k excludes self)")

    from scrapontologies_spark.session import build_session

    spark = build_session(
        app_name="ann-recall",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ann-recall-")
    try:
        _curves(spark, sf_dir, clustered_n, k, work)
    finally:
        spark.stop()
        shutil.rmtree(work)


def _curves(spark, sf_dir: str, clustered_n: int, k: int, work: str) -> None:
    from scrapontologies_spark.operators import similarity

    # timed over an uncached parquet copy, as the registry queries read:
    # over a persisted frame AQE does not reuse the keyed side of the LSH
    # self-join, so the timing would include a second keying pass
    src = (
        _clustered(spark, clustered_n)
        if clustered_n
        else spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    src.write.parquet(f"{work}/embeddings")
    emb = spark.read.parquet(f"{work}/embeddings")
    n = emb.count()

    t0 = time.time()
    bf = similarity.cosine_topk_bruteforce(emb, emb, k=k)
    rows = bf.collect()
    exact = {(r.query_id, r.neighbor_id) for r in rows}
    if not exact:
        # 0/1-row embeddings table: every recall denominator below would be
        # a ZeroDivisionError after the expensive brute-force pass
        raise SystemExit(
            f"no exact top-k pairs at n={n} rows — recall is undefined; "
            "point the script at a table with >= 2 embeddings"
        )
    mean_top_cos = sum(r.cosine for r in rows) / len(rows)
    bf_wall = time.time() - t0
    print(
        f"data={'clustered' if clustered_n else sf_dir} n={n} k={k} "
        f"pairs={len(exact)} mean_topk_cos={mean_top_cos:.3f} "
        f"BF wall={bf_wall:.2f}s\n",
        flush=True,
    )

    print(f"| n_tables | n_planes | recall@{k} | theory | wall (s) | vs BF |")
    print("|---|---|---|---|---|---|")
    for tables, planes in LSH_GRID:
        t0 = time.time()
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.cosine_topk_lsh(
                emb, k=k, n_planes=planes, n_tables=tables
            ).collect()
        }
        w = time.time() - t0
        rec = len(got & exact) / len(exact)
        th = _lsh_theory(mean_top_cos, planes, tables)
        print(
            f"| {tables} | {planes} | {rec:.3f} | {th:.3f} | {w:.2f} "
            f"| {w / bf_wall:.2f}x |",
            flush=True,
        )

    print(f"\n| k_cells | n_probe | recall@{k} | wall (s) | vs BF |")
    print("|---|---|---|---|---|")
    for cells, probes in IVF_GRID:
        t0 = time.time()
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.cosine_topk_ivf(
                emb, emb, k=k, k_cells=cells, n_probe=probes
            ).collect()
        }
        w = time.time() - t0
        rec = len(got & exact) / len(exact)
        print(
            f"| {cells} | {probes} | {rec:.3f} | {w:.2f} | {w / bf_wall:.2f}x |",
            flush=True,
        )


if __name__ == "__main__":
    main()
