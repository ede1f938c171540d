#!/usr/bin/env python3
"""spark-submit launcher for the full warehouse KG-construction job.

Usage:
    zip -r pkg.zip scrapontologies_spark            # or shutil.make_archive
    spark-submit --master local[N] --py-files pkg.zip \
        scripts/run_job.py <warehouse_root> [n_docs] [--corpus PARQUET_PATH]
        [--allowed-kinds a,b] [--allowed-terms x,y]

``--corpus`` reads a real corpus parquet (input_hint shape) instead of
generating the synthetic one; without it, n_docs synthetic documents.

Runs corpus → fused extract → triples/entities/schemas through the
resumable Warehouse (manifest + per-file lineage + metrics); re-running
with the same root skips completed stages (plans/job.py).
"""

from __future__ import annotations

import os
import sys

# also runnable from the repo root without --py-files
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scrapontologies_spark.plans.job import main  # noqa: E402

if __name__ == "__main__":
    main()
