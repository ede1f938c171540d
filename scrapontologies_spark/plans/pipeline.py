"""Driver-side summaries of the fused KG-construction pass.

The KG DAG is assembled once, in plans/job.py: corpus → ``extracted``
(one fused mapInPandas: chunk → extract → per-doc fold → per-doc schema
→ triples, no shuffle), then the entity/CC chain, the global schema and
the linked triples, each checkpointed through the warehouse.  A caller
that needs one deliverable without a warehouse reads the matching
``*_view`` (operators/extract.py) of one ``extract_document_rows`` pass,
emitting only the row kinds that view reads.

``pipeline_summary`` feeds the fused pass to the one global-schema
reduce (operators/schema_merge.global_schema, a depth-1 ``aggregate``:
one union row per partition, folded on the driver — M3 union is
commutative, associative and idempotent, so no shuffle is needed), with
an ``observe`` counting each row kind on the way: one Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.semantics import canonical_json
from ..operators.extract import doc_schemas_view, extract_document_rows
from ..operators.schema_merge import global_schema


def pipeline_summary(
    corpus: DataFrame, chunk_bytes: int = 1024
) -> "tuple[dict, str]":
    """One-pass deliverables summary: (kind → row count, global schema
    canonical JSON).

    The fused extraction computes every triple / entity / module / schema
    row (emit_chunks=False); an ``observe`` counts each kind as the rows
    stream into the A5 reduce (:func:`global_schema`).  One Spark job,
    zero shuffles, no cache: this is the measured job of ``bench.py``'s
    ``kg_pipeline`` and of the scaling bench, and tests pin its outputs to
    the ``*_view``s of one fused pass."""
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
