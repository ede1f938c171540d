"""A4/A5 — global JSON-schema merge.

The reference merges page schemas per document with one LLM call
(pdf_parser.py:418-432) and across documents in ``merge_schemas``
(extractor.py:193-248).  Here the per-document union (A4) is row-local in
the fused extraction kernel (operators/extract.py emits one ``schema`` row
per document), and the global union (A5) is one reduce:

  per-partition union (mapInPandas, at most one output row per partition)
    → collect the ≤ #partitions rows → fold them on the driver.

Deterministic stand-in M3 (schema_union) is commutative, associative and
idempotent (property-tested), so this depth-1 ``aggregate`` equals the union
of all rows in any order or grouping, so no shuffle is needed.
At 100 TB the partials are one small row per scan partition; the
driver-side fold is over those rows only.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.code_gazetteer import DEFAULT_CHUNK_BYTES
from ..functions.semantics import canonical_json, schema_union_all, schema_union_owned
from .extract import doc_schemas_view, extract_document_rows


def global_schema(schema_rows: DataFrame) -> dict:
    """A5 — union of the ``schema_json`` column of ``schema_rows`` (per-doc
    or per-chunk schemas; NULL rows are skipped, so a frame built without
    schemas or one corrupt row cannot abort the merge).  Adds one Spark job
    and no shuffle to the input's plan; returns ``{}`` for empty input."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        merged = None
        for b in batches:
            for s in b["schema_json"]:
                if s is not None:
                    # json.loads hands over fresh dicts: the owned union
                    # may adopt and mutate them
                    merged = schema_union_owned(merged, json.loads(s))
        if merged is not None:
            yield pd.DataFrame({"schema_json": [canonical_json(merged)]})

    rows = (
        schema_rows.select("schema_json")
        .mapInPandas(partial, schema="schema_json string")
        .collect()
    )
    return schema_union_all(json.loads(r["schema_json"]) for r in rows)


def corpus_global_schema(
    corpus: DataFrame, chunk_bytes=DEFAULT_CHUNK_BYTES, allowed_kinds=None, allowed_terms=None
) -> dict:
    """A5 over a corpus: the fused extraction pass with only its per-document
    schema rows on, then :func:`global_schema`.  ``allowed_kinds`` /
    ``allowed_terms`` are the P8 extraction allowlist."""
    return global_schema(doc_schemas_view(extract_document_rows(
        corpus, chunk_bytes, emit_chunks=False,
        allowed_kinds=allowed_kinds, allowed_terms=allowed_terms,
        with_entities=False, with_triples=False,
    )))


def merge_external_schemas(global_schema_json: str, external: DataFrame) -> str:
    """S5 — external-schema source merge (extractor.py:193-248,
    examples/merge_schemas.py): union externally-supplied JSON-schema
    documents into the global ontology.

    ``external`` is a DataFrame of schema documents — either a
    ``schema_json`` string column (one canonical-JSON schema per row), or
    arbitrary JSON-struct rows from ``spark.read.json`` of a schema file
    (converted with to_json).  Schema documents are tiny dimension rows, so
    the collect is bounded; M3 union keeps rules 1-4 of UPDATE_SCHEMA_PROMPT
    (same-key merge, new keys added, existing structure preserved).
    Returns the merged schema as canonical JSON.
    """
    if "schema_json" in external.columns:
        docs = external.select("schema_json")
    else:
        docs = external.select(F.to_json(F.struct(*external.columns)).alias("schema_json"))
    merged = json.loads(global_schema_json) if global_schema_json else {}
    for r in docs.collect():
        if r["schema_json"] is None:
            continue
        merged = schema_union_all([merged, json.loads(r["schema_json"])])
    return canonical_json(merged)
