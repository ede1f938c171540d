"""Incremental corpus ingest via Structured Streaming.

The reference is strictly batch (no streaming surface anywhere in
scrapontologies/ — SURVEY §2.10), but a corpus engine at 100 TB ingests
continuously.  Because the fused extraction (operators/extract.py) is a
STATELESS narrow map, it lifts to Structured Streaming unchanged: new
corpus files → readStream → the same mapInPandas → append-mode triple sink.
Exactly-once comes from the checkpoint + idempotent file sink; no
watermarks are needed (no event-time aggregation — per-document outputs
depend on one input row only).

Cross-document stages (dedup, reconcile, CC, global schema) stay periodic
batch jobs over the accumulated tables — the standard lambda split for KG
construction; this module is the whole streaming layer, and it only keeps
the extraction frontier hot.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_document_rows, triples_view
from ..sources.corpus import CORPUS_SCHEMA


def stream_corpus(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """readStream over a growing directory of corpus parquet files
    (schema per BASELINE input_hint).  maxFilesPerTrigger bounds batch size
    so executor memory stays flat regardless of backlog."""
    reader = spark.readStream.schema(CORPUS_SCHEMA)
    if max_files_per_trigger is not None:  # 0/None distinguishable
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def run_incremental_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    chunk_bytes: int = 1024,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = 256,
):
    """Start (or resume) the incremental triple-extraction query.

    ``available_now=True`` drains the current backlog and stops — the batch
    catch-up mode used in tests and cron-style incremental runs; False runs
    continuously.  Restart with the same checkpoint_dir resumes exactly
    where the previous run stopped (files already processed are never
    re-emitted).  ``max_files_per_trigger`` (default 256) bounds each
    micro-batch during catch-up so a large accumulated backlog drains in
    memory-flat slices instead of one giant batch (availableNow still
    processes EVERYTHING before stopping — just in bounded triggers); pass
    None to deliberately take the whole backlog in one batch."""
    # emit selection: only triple rows are consumed, so don't serialize
    # chunk payloads or run the entity fold per micro-batch (the chunk rows
    # alone would add Arrow volume the size of the corpus text itself)
    doc_rows = extract_document_rows(
        stream_corpus(spark, input_dir, max_files_per_trigger),
        chunk_bytes, with_schemas=False,
        with_entities=False, emit_chunks=False,
    )
    triples = triples_view(doc_rows)
    writer = (
        triples.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
