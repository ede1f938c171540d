"""Stage DAG of the KG-construction job (SURVEY §3 EP1+EP2 re-expression).

corpus → chunk+extract (mapInPandas, fused, no shuffle)
       → triples        (kind=triple rows, deduplicated per document)
       → per-doc fold   (kind=entity rows, row-local in the kernel)  [A2/A3]
       → entities       (module + symbol entities)                   [M4/M6]
       → schemas        (per-doc union in the kernel, then one
                         global reduce)                              [A4/A5]

The global reduce (operators/schema_merge.global_schema) is a depth-1
``aggregate``: one union row per partition, folded on the driver.  M3
union is commutative, associative and idempotent, so ≤ #partitions rows
carry the whole global schema and no shuffle is needed.
``pipeline_summary`` feeds the same fused pass to that same reduce, with
an ``observe`` counting each row kind on the way: one Spark job.

Each stage returns a DataFrame; ``run_pipeline`` wires them (plans/job.py
checkpoints the same stages through the warehouse for resumability).  The
reference's langgraph node DAGs (pdf_parser.py:161-244) map 1:1 onto these
stages (SURVEY §2.9 O1-O4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.semantics import (
    canonical_json,
    derive_containment_relations,
    schema_to_entities,
)
from ..operators.extract import (
    chunks_view,
    doc_entities_view,
    doc_schemas_view,
    extract_document_rows,
    mentions_df,
    module_entities_view,
    symbol_entities_view,
    triples_view,
)
from ..operators.schema_merge import global_schema


@dataclass
class PipelineResult:
    doc_rows: DataFrame  # the persisted tall output of the fused pass
    chunks: DataFrame
    mentions: DataFrame
    triples: DataFrame
    doc_entities: DataFrame
    entities: DataFrame
    doc_schemas: DataFrame
    global_schema_json: str
    schema_entities: list  # M4-derived Entity dataclasses from the global schema
    containment_relations: list  # M5(a) Relation dataclasses (ROOT-rooted)


def run_pipeline(
    corpus: DataFrame,
    chunk_bytes: int = 1024,
    with_schemas: bool = True,
    emit_chunks: bool = True,
    allowed_kinds=None,
    allowed_terms=None,
) -> PipelineResult:
    """``allowed_kinds``/``allowed_terms``: P8 extraction allowlist — the
    user_prompt_for_filter stand-in, applied at extraction so entities,
    schemas and triples all reflect the restriction.

    With ``with_schemas`` the tall fused-output rows are cached: the
    global-schema reduce and the returned views all read them, and
    the caller owns unpersisting ``result.doc_rows``.  Without it nothing
    is cached, so a single-consumer caller (e.g. a contract query reading
    one view) leaks no cached frame."""
    # Fused one-pass extraction (see operators/extract.py): every
    # per-document computation is row-local, so chunk/fold/schema/triple
    # rows all come out of ONE narrow mapInPandas — zero shuffles.  At
    # cluster scale run_job checkpoints this pass to the warehouse instead
    # (the unpartitioned stage ``extracted``, which also provides resume)
    # and reads it through the same ``*_view`` filters; cache is the
    # local-mode equivalent.
    doc_rows = extract_document_rows(
        corpus, chunk_bytes, with_schemas, emit_chunks,
        allowed_kinds=allowed_kinds, allowed_terms=allowed_terms,
    )
    if with_schemas:
        doc_rows = doc_rows.persist()

    # chunk rows are intermediate "page answers"; with emit_chunks=False the
    # views below are valid but empty DataFrames
    chunks = chunks_view(doc_rows)
    mentions = mentions_df(chunks)
    triples = triples_view(doc_rows)

    doc_entities = doc_entities_view(doc_rows)
    modules = module_entities_view(doc_rows).select("id", "type", "attributes")
    entities = modules.unionByName(symbol_entities_view(doc_rows))

    if with_schemas:
        doc_schemas = doc_schemas_view(doc_rows)
        gschema = global_schema(doc_schemas)
        gschema_json = canonical_json(gschema)
        schema_ents = schema_to_entities(gschema)
        containment = derive_containment_relations(schema_ents)
    else:
        doc_schemas = None
        gschema_json = "{}"
        schema_ents = []
        containment = []

    return PipelineResult(
        doc_rows=doc_rows,
        chunks=chunks,
        mentions=mentions,
        triples=triples,
        doc_entities=doc_entities,
        entities=entities,
        doc_schemas=doc_schemas,
        global_schema_json=gschema_json,
        schema_entities=schema_ents,
        containment_relations=containment,
    )


def pipeline_summary(
    corpus: DataFrame, chunk_bytes: int = 1024
) -> "tuple[dict, str]":
    """One-pass deliverables summary: (kind → row count, global schema
    canonical JSON).

    The fused extraction computes every triple / entity / module / schema
    row (emit_chunks=False); an ``observe`` counts each kind as the rows
    stream into the A5 reduce (:func:`global_schema`).  One Spark job,
    zero shuffles, no cache: this is the scaling bench's measured job, and
    tests pin its outputs to run_pipeline's."""
    doc_rows = extract_document_rows(
        corpus, chunk_bytes=chunk_bytes, with_schemas=True, emit_chunks=False
    )
    obs = Observation()  # unnamed: a unique name per call
    observed = doc_rows.observe(  # every row kind of an emit_chunks=False pass
        obs, *(F.count_if(F.col("kind") == k).alias(k)
               for k in ("entity", "module", "schema", "triple"))
    )
    gschema = global_schema(doc_schemas_view(observed))
    return {k: n for k, n in obs.get.items() if n}, canonical_json(gschema)


def verify_content_invariant(corpus: DataFrame, chunks: DataFrame) -> int:
    """Per-row sha256 equality between source content and what EVERY chunk
    row carries (BASELINE input_hint).  Returns the number of violating
    (repo, path, sha) combinations (must be 0): a carried sha that differs
    from its document's source sha, a carried sha for a document absent
    from the corpus, or a corpus document with no chunk rows at all.  A
    same-document mix of good and bad carried hashes is therefore counted
    — an exists-one-matching-row check would let it pass."""
    # coalesce mirrors the extractor's NULL-as-empty-document policy
    # (extract.py: one bad row must not abort the stage): sha2(NULL) is
    # NULL, which would count a deliberately-handled NULL-content doc as a
    # violation even though its chunk rows correctly carry sha256("")
    src = corpus.select(
        "repo",
        "path",
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("sha_src"),
    )
    carried = chunks.select(
        "repo", "path", F.col("sha256").alias("sha_carried")
    ).distinct()
    # null-safe keys: the kernel keeps a NULL repo/path document as a real
    # identity, and `=` would split it into a corpus-only and a chunk-only row
    joined = src.alias("s").join(
        carried.alias("c"),
        F.col("s.repo").eqNullSafe(F.col("c.repo"))
        & F.col("s.path").eqNullSafe(F.col("c.path")),
        "full_outer",
    )
    bad = joined.filter(
        F.col("sha_src").isNull()          # chunk rows for a non-corpus doc
        | F.col("sha_carried").isNull()    # corpus doc with no chunk rows
        | (F.col("sha_src") != F.col("sha_carried"))
    )
    return bad.count()
