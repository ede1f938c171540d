"""Distributed chunk + extract stage (SURVEY §3 EP2 steps 2-4).

One Arrow-batched ``mapInPandas`` pass fuses the chunker (S1 fan-out: one
file row → N chunk rows, the "PDF → pages" analog of pdf_parser.py:54-108)
with M1 mention detection and every other per-document step — no shuffle
between them, and Catalyst pipelines the pass with the upstream scan.
Python is entered once per input batch (the sanctioned slow path per SURVEY
§2.10); everything downstream of this stage (explode, joins, the views
below) is JVM-side.

Output: tall rows discriminated by ``kind`` (see
:func:`extract_document_rows`); the ``*_view`` functions select one kind.

Scale notes (100 TB design point):
- chunk ids are byte offsets → stable across reruns/partitioning, so the
  order-sensitive A2 fold is reproducible (SURVEY §2.5).
- the sha256 invariant column is computed here once and carried end-to-end
  (BASELINE input_hint).
- no driver collection; output partitioning inherits the scan's splits.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.code_gazetteer import (
    DEFAULT_CHUNK_BYTES,
    chunk_payload,
    chunk_schema_digest,
    chunk_text_masked,
    extract_mentions,
    triples_for_mentions,
)
from ..functions.semantics import (
    canonical_json,
    combine_entities_data_owned,
    derive_containment_relations,
    is_na,
    schema_to_entities,
    schema_union_owned,
    sha256_hex,
)

MENTION_STRUCT = "array<struct<kind:string,name:string,owner:string>>"


# Unified tall schema for the fused one-pass extraction.  The corpus input
# carries each document's full content in ONE row (input_hint), so every
# per-document computation — chunking, mention extraction, the A2
# order-sensitive fold, the A4 schema union, M5 triple derivation — is
# row-local.  Fusing them into a single narrow mapInPandas removes BOTH
# groupBy(repo,path) shuffles and two extra Python stages from the hot path;
# per-doc triple dedup equals global dedup (subjects carry the module id),
# so the global distinct() shuffle is dropped as well.  Only genuinely
# cross-document work (entity reconcile J1, CC canonicalization) shuffles;
# the global schema is a shuffle-free per-partition reduce
# (schema_merge.global_schema).  The dominant stage is embarrassingly
# parallel over scan splits.
DOC_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),  # chunk|entity|module|schema|triple|containment
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("chunk_id", T.LongType()),
        T.StructField("payload_json", T.StringType()),
        T.StructField("schema_json", T.StringType()),
        T.StructField("mentions_json", T.StringType()),
        T.StructField("entity_name", T.StringType()),
        T.StructField("entity_type", T.StringType()),
        T.StructField("attributes", T.StringType()),
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("rel_type", T.StringType()),
    ]
)

_DOC_COLS = [f.name for f in DOC_ROWS_SCHEMA.fields]


def extract_document_rows(
    corpus: DataFrame,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    with_schemas: bool = True,
    emit_chunks: bool = True,
    allowed_kinds=None,
    allowed_terms=None,
    with_entities: bool = True,
    with_triples: bool = True,
    with_containment: bool = False,
) -> DataFrame:
    """Fused chunk → extract → fold → schema → triples pass (narrow, one
    Python entry per batch).  Emits tall rows discriminated by ``kind``:

    - ``chunk``  — per-chunk payload/digest/mentions (the "page" rows)
    - ``entity`` — A2-fold result: one row per (doc, top-level merged key)
    - ``module`` — one module entity per document (id = repo/path)
    - ``schema`` — per-document A4 schema union
    - ``triple`` — deduplicated per-document M5 triples
    - ``containment`` — M5(a) schema-containment edges (only when
      ``with_containment=True``)

    NULL ``content`` is treated as the empty document (sha256("") and one
    empty chunk) — a single bad corpus row must not abort the stage.

    Precondition: ``(repo, path)`` is unique in ``corpus`` (BASELINE
    input_hint — one row per file).  Triple dedup here is per-document;
    duplicate corpus rows for the same document would emit duplicate
    triples.
    Run exact_dedup / dropDuplicates upstream if the source may repeat
    documents.

    ``emit_chunks=False`` skips the per-chunk rows (and their JSON
    serialization) when only the pipeline deliverables — triples, entities,
    schemas — are materialized.  Chunk rows are intermediate state ("page
    answers", pdf_parser.py state IR), not a reference output; dropping them
    cuts the Arrow transfer + cache volume by the size of the corpus itself.

    ``allowed_kinds``/``allowed_terms`` — P8 extraction allowlist
    (user_prompt_for_filter stand-in, code_gazetteer.extract_mentions):
    the restriction applies AT extraction, so every emitted row kind
    (entity/schema/triple) reflects the filtered mention set.

    ``with_entities``/``with_triples`` — emit selection: a schema-only
    consumer (global ontology, containment derivation) skips the A2 merge
    fold and the per-document triple-set build entirely, not just their
    output rows — the kernel does only the work its consumer reads.

    ``with_containment`` (implies schema computation) — emit M5(a)
    ``containment`` rows (subj/pred/obj/rel_type): per-document schema →
    M4 entities → ``has_<child>`` edges rooted at the module id.  Fused
    here because the derivation is row-local.
    """
    with_schemas = with_schemas or with_containment
    allowed_kinds = frozenset(allowed_kinds) if allowed_kinds is not None else None
    allowed_terms = frozenset(allowed_terms) if allowed_terms is not None else None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for repo, path, commit, lang, content in zip(
                b["repo"], b["path"], b["commit"], b["lang"], b["content"]
            ):
                if content is None:
                    # one NULL content row must not abort a corpus-scale
                    # extraction (4 task retries then the whole job): treat
                    # as empty — one empty chunk, a module row with
                    # n_chunks=1 and sha256("") — deterministic and visible
                    # rather than quarantine-dropped, since the module
                    # identity (repo/path) is still real
                    content = ""
                sha = sha256_hex(content)
                # NULL repo/path must not stringify as "None" in the doc
                # identity (pandas hands NULL as None); empty-string keeps
                # the id real and matches COALESCE(col,'') oracles
                module_id = f"{repo or ''}/{path or ''}"
                base = (repo, path, commit, lang, sha)
                # Arrow-volume control: each output row carries only the base
                # fields its view reads.  Triple rows (the dominant output,
                # ~10×/doc) need none — triples_view selects subj/pred/obj/
                # rel_type; entity/schema rows need (repo, path) only.  At
                # 400k docs this drops ~400 MB of repeated strings from the
                # Python→Arrow→JVM transfer; the sha invariant stays on
                # chunk + module rows (verify_content_invariant reads chunks).
                doc_base = (repo, path, None, None, None)
                payloads = []
                digests = []
                triples = set()
                n_chunks = 0
                for cid, _orig, ext in chunk_text_masked(content, lang, chunk_bytes):
                    n_chunks += 1
                    mentions = extract_mentions(lang, ext, allowed_kinds, allowed_terms)
                    payload = chunk_payload(mentions)
                    if with_entities:
                        # only the A2 fold below reads this list; chunk rows
                        # serialize the payload at append time, so keeping
                        # it for emit_chunks alone would be dead weight
                        payloads.append(payload)
                    digest = chunk_schema_digest(payload) if (
                        with_schemas or emit_chunks
                    ) else None
                    if with_schemas:
                        digests.append(digest)
                    if with_triples:
                        triples |= triples_for_mentions(module_id, mentions)
                    if emit_chunks:
                        rows.append(
                            (
                                "chunk",
                                *base,
                                cid,
                                canonical_json(payload),
                                canonical_json(digest),
                                json.dumps(mentions),
                                None, None, None, None, None, None, None,
                            )
                        )
                # A2 fold in chunk order (chunk_text yields offset order).
                # Owned fast path: every payload was serialized to its chunk
                # row above and is never read again — mutation-safe, values
                # identical to the pure fold (property-tested).
                merged = combine_entities_data_owned(payloads) if with_entities else {}
                for name, attrs in merged.items():
                    if is_na(name):
                        continue
                    rows.append(
                        (
                            "entity",
                            *doc_base,
                            None, None, None, None,
                            name,
                            "object",
                            canonical_json(attrs),
                            None, None, None, None,
                        )
                    )
                # module entity — same field order as to_json(struct(...))
                mod_attrs = canonical_json(
                    {"commit": commit, "lang": lang, "n_chunks": n_chunks, "sha256": sha}
                )
                rows.append(
                    (
                        "module",
                        *base,
                        None, None, None, None,
                        None,
                        "module",
                        mod_attrs,
                        None, None, None, None,
                    )
                )
                if with_schemas:
                    doc_schema: dict = {}
                    for dg in digests:  # owned union fold (digests already
                        doc_schema = schema_union_owned(doc_schema, dg)  # serialized above)
                    rows.append(
                        (
                            "schema",
                            *doc_base,
                            None, None,
                            canonical_json(doc_schema),
                            None, None, None, None, None, None, None, None,
                        )
                    )
                    if with_containment:
                        ents = schema_to_entities(doc_schema)
                        for r in derive_containment_relations(ents, root=module_id):
                            rows.append(
                                (
                                    "containment",
                                    None, None, None, None, None,
                                    None, None, None, None, None, None, None,
                                    r.source, r.name, r.target, r.type,
                                )
                            )
                for subj, pred, obj, rel_type in triples:
                    rows.append(
                        (
                            "triple",
                            None, None, None, None, None,
                            None, None, None, None, None, None, None,
                            subj, pred, obj, rel_type,
                        )
                    )
            yield pd.DataFrame(rows, columns=_DOC_COLS)

    return corpus.mapInPandas(run, schema=DOC_ROWS_SCHEMA)


def chunks_view(doc_rows: DataFrame) -> DataFrame:
    return doc_rows.filter(F.col("kind") == "chunk").select(
        "repo", "path", "commit", "lang", "sha256",
        "chunk_id", "payload_json", "schema_json", "mentions_json",
    )


def triples_view(doc_rows: DataFrame) -> DataFrame:
    return doc_rows.filter(F.col("kind") == "triple").select(
        "subj", "pred", "obj", "rel_type"
    )


def containment_view(doc_rows: DataFrame) -> DataFrame:
    """M5(a) rows emitted by ``extract_document_rows(with_containment=True)``."""
    return doc_rows.filter(F.col("kind") == "containment").select(
        "subj", "pred", "obj", "rel_type"
    )


def doc_entities_view(doc_rows: DataFrame) -> DataFrame:
    return doc_rows.filter(F.col("kind") == "entity").select(
        "repo", "path", "entity_name", "entity_type", "attributes"
    )


def module_id_col() -> Column:
    """A document's module id from its ``repo``/``path`` columns, with a
    NULL key read as '' — the id the kernel's triple and containment
    subjects carry (``f"{repo or ''}/{path or ''}"``)."""
    return F.concat(
        F.coalesce("repo", F.lit("")), F.lit("/"), F.coalesce("path", F.lit(""))
    )


def module_entities_view(doc_rows: DataFrame) -> DataFrame:
    return doc_rows.filter(F.col("kind") == "module").select(
        module_id_col().alias("id"),
        F.col("entity_type").alias("type"),
        "attributes",
        "repo",
        "path",
        "sha256",
    )


def symbol_entities_view(doc_rows: DataFrame) -> DataFrame:
    """The per-document symbol entities as ``(id, type, attributes)``,
    with ``id`` = module id ``::`` entity name."""
    return doc_entities_view(doc_rows).select(
        F.concat(module_id_col(), F.lit("::"), F.col("entity_name")).alias("id"),
        F.col("entity_type").alias("type"),
        "attributes",
    )


def doc_schemas_view(doc_rows: DataFrame) -> DataFrame:
    return doc_rows.filter(F.col("kind") == "schema").select(
        "repo", "path", "schema_json"
    )


def mentions_df(chunks: DataFrame) -> DataFrame:
    """Chunk rows → one row per mention (JVM-side from_json + explode).
    The P8 allowlist applies at extraction (extract_document_rows'
    ``allowed_kinds``/``allowed_terms``), not here."""
    return chunks.select(
        "repo",
        "path",
        "lang",
        "chunk_id",
        F.explode(F.from_json("mentions_json", MENTION_STRUCT)).alias("m"),
    ).select("repo", "path", "lang", "chunk_id", "m.kind", "m.name", "m.owner")
