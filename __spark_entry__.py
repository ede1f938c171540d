"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG-construction pipeline (SURVEY.md §3 EP2:
chunk → M1 extraction → order-sensitive per-doc fold → triples) over the
driver's ``documents`` table treated as the corpus.  ``queries`` /
``oracle_sql`` expose each implemented operator from SURVEY.md §2 with a
DuckDB-checkable ANSI-SQL oracle where SQL-expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline on sf0.001 documents → (subj, pred, obj,
    rel_type) triples.  The driver checks rows>0 and a stable schema."""
    from scrapontologies_spark.operators.extract import (
        extract_document_rows,
        triples_view,
    )
    from scrapontologies_spark.plans.driver_helpers import documents_as_corpus

    corpus = documents_as_corpus(spark, SF0001)
    return triples_view(extract_document_rows(
        corpus, 1024, with_schemas=False, emit_chunks=False, with_entities=False,
    ))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # exactly the ≤50 operator-evidence entries (the driver records at most
    # 50 CORRECTNESS rows; the full registry incl. demo queries stays in
    # driver_queries.queries() for bench.py and the pytest oracle suite)
    from scrapontologies_spark.plans import driver_queries

    return driver_queries.contract_queries()


def oracle_sql() -> dict[str, str]:
    from scrapontologies_spark.plans import driver_queries

    return driver_queries.contract_oracle_sql()
