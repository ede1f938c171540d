"""User-facing facade: the reference's ``FileExtractor`` flow over a corpus.

A Scrapontologies user drives ``FileExtractor(path, PDFParser(llm))``
(extractor.py:78-389) through: extract_entities_schema /
extract_relations_schema / generate_entities_json_schema / merge_schemas /
delete_entity_or_relation / get_* state getters / create_tables / render.
:class:`CorpusExtractor` exposes the SAME method surface over a corpus
DataFrame, with every LLM-mediated step replaced by this repo's
deterministic distributed operators:

| reference (extractor.py)           | here                                   |
|------------------------------------|----------------------------------------|
| extract_entities_schema(prompt)    | A5 global schema → M4 entities; prompt → P8 allowlist |
| extract_relations_schema(prompt)   | M5(a) containment relations            |
| generate_entities_json_schema()    | distributed A4/A5 schema reduce        |
| merge_schemas(other) (:193-248)    | M3 schema_union + M4/M5 re-extract     |
| delete_entity_or_relation (:127)   | C3 route_delete + C1/C2 cascades       |
| get_entities/relations/json_schema | state getters (same semantics)         |
| create_tables (:304-387)           | K1 deterministic DDL (Spark catalog or injected DB client) |
| renderer.render(...)               | K3 render_html / render_pyecharts      |

Prompt handling: the reference threads free text into the extraction
prompts (pdf_parser.py:399-401).  The deterministic stand-in parses the
prompt's word tokens — tokens naming mention KINDS (function/class/method/
import/call/term) restrict ``allowed_kinds``; tokens naming gazetteer
vocabulary terms (code_gazetteer.TEXT_TERMS) restrict the prose gazetteer
via ``allowed_terms``; other words are filler.  Pass ``allowed_kinds``/
``allowed_terms`` directly for exact control.

State semantics mirror the reference: ``extract_*`` (re)populates parser
state, deletes mutate it, getters read it.  The heavy lifting stays
distributed; only the (small) schema-level results live driver-side —
exactly like the reference, which holds all entities in a Python list.
"""

from __future__ import annotations

import logging
import re
from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import DataFrame

from .functions.code_gazetteer import DEFAULT_CHUNK_BYTES
from .functions.semantics import (
    Entity,
    Relation,
    delete_entity_cascade,
    delete_relation,
    derive_containment_relations,
    route_delete,
    schema_to_entities,
    schema_union,
)

logger = logging.getLogger(__name__)

_KINDS = {"function", "class", "method", "import", "call", "term"}


def _parse_prompt(prompt: Optional[str]) -> "tuple[frozenset | None, frozenset | None]":
    """Deterministic user_prompt_for_filter stand-in: kind-named tokens →
    allowed_kinds; tokens naming gazetteer VOCABULARY terms (TEXT_TERMS) →
    allowed_terms.  Other words are filler ("only", "declarations") and
    constrain nothing.  When both kinds and terms are named, 'term' joins
    allowed_kinds — the kinds filter runs first in extract_mentions, and
    without it the named terms would be unreachable ("function join" would
    silently drop its term selection)."""
    if not prompt:
        return None, None
    from .functions.code_gazetteer import TEXT_TERMS

    toks = [t.lower() for t in re.findall(r"\w+", prompt)]
    kinds = frozenset(t for t in toks if t in _KINDS)
    terms = frozenset(t for t in toks if t in TEXT_TERMS and t not in _KINDS)
    if kinds and terms:
        kinds = kinds | {"term"}
    return (kinds or None), (terms or None)


class CorpusExtractor:
    """FileExtractor analog (extractor.py:78-389) over a corpus DataFrame
    of BASELINE input_hint shape (repo, path, commit, lang, content)."""

    def __init__(
        self,
        corpus: DataFrame,
        chunk_bytes: int = DEFAULT_CHUNK_BYTES,
        db_execute: Optional[Callable[[str], Any]] = None,
    ):
        self.corpus = corpus
        self.chunk_bytes = chunk_bytes
        self.db_execute = db_execute  # PostgresDBClient.execute_query analog
        self._json_schema: Dict[str, Any] = {}
        self._entities: List[Entity] = []
        self._relations: List[Relation] = []

    # -- extraction (distributed) ------------------------------------------

    def _compute_global_schema(
        self, allowed_kinds=None, allowed_terms=None
    ) -> Dict[str, Any]:
        from .operators.schema_merge import corpus_global_schema

        return corpus_global_schema(
            self.corpus, self.chunk_bytes, allowed_kinds, allowed_terms
        )

    def generate_entities_json_schema(self) -> Dict[str, Any]:
        """extractor.py:117-125 — (re)generate and return the JSON schema."""
        self._json_schema = self._compute_global_schema()
        return self._json_schema

    def extract_entities_schema(
        self, prompt: Optional[str] = None, allowed_kinds=None, allowed_terms=None
    ) -> List[Entity]:
        """extractor.py:92-103 — schema-level entities (M4), optionally
        restricted by the prompt allowlist (P8)."""
        if prompt is not None and allowed_kinds is None and allowed_terms is None:
            allowed_kinds, allowed_terms = _parse_prompt(prompt)
        self._json_schema = self._compute_global_schema(allowed_kinds, allowed_terms)
        self._entities = schema_to_entities(self._json_schema)
        return self._entities

    def extract_relations_schema(
        self, prompt: Optional[str] = None
    ) -> List[Relation]:
        """extractor.py:105-115 — M5(a) containment relations over the
        current (or freshly extracted) entity schema.  A non-None prompt
        always re-extracts with that filter — the reference threads the
        prompt into every extraction, so a filtered relation request after
        an unfiltered run must not silently reuse the stale entity set."""
        if prompt is not None or not self._entities:
            self.extract_entities_schema(prompt)
        self._relations = derive_containment_relations(self._entities)
        return self._relations

    def extract_entities(self) -> DataFrame:
        """extractor.py:389 — per-document entity INSTANCES (A2/A3 fold),
        as the distributed doc-entities table (repo, path, entity_name,
        entity_type, attributes) rather than a driver-side list: instance
        counts are corpus-sized, unlike the schema-level lists above.

        (The reference's get_entities_schema_graph/get_relations_schema_graph
        return langgraph state machines — N/A by design here; the stage DAG
        lives in plans/job.py.)"""
        from .operators.extract import doc_entities_view, extract_document_rows

        return doc_entities_view(
            extract_document_rows(
                self.corpus, self.chunk_bytes, with_schemas=False,
                emit_chunks=False, with_triples=False,
            )
        )

    # -- state getters (extractor.py:174-190, 269-276) ---------------------

    def get_entities_schema(self) -> List[Entity]:
        return self._entities

    def get_relations_schema(self) -> List[Relation]:
        return self._relations

    def get_json_schema(self) -> Dict[str, Any]:
        return self._json_schema

    # -- schema merge (extractor.py:193-248; S5/J4/M3) ----------------------

    def merge_schemas(self, other_schema: Dict[str, Any]) -> Optional[Dict[str, Any]]:
        """M3 union with an external schema, then re-derive entities and
        relations from the merged result — the deterministic stand-in for
        the reference's UPDATE_SCHEMA_PROMPT round-trip.  Mirrors the
        reference's no-op-on-empty guard (extractor.py:236-238)."""
        if not self._json_schema:
            return None
        self._json_schema = schema_union(self._json_schema, other_schema)
        self._entities = schema_to_entities(self._json_schema)
        self._relations = derive_containment_relations(self._entities)
        return self._json_schema

    # -- deletes (extractor.py:127-170; C1/C2/C3) ---------------------------

    def delete_entity_or_relation(self, item_description: str) -> None:
        """C3 route (deterministic DELETE_PROMPT stand-in) + C1/C2 cascade
        on the schema-level state, exactly the reference's flow.

        Reference-faithful quirks, both pinned by tests:
        - deletes touch ``_entities``/``_relations`` ONLY — the reference's
          ``_delete_entity`` (extractor.py:150-160) never updates the
          parser's stored JSON schema, so ``get_json_schema``/
          ``create_tables``/``merge_schemas`` keep seeing the pre-delete
          schema (the DDL still contains the deleted entity's table);
        - an unroutable description is a LOGGED no-op, not an exception
          (extractor.py:148 ``logger.error``)."""
        decision = route_delete(
            item_description,
            [e.id for e in self._entities],
            [(r.source, r.target, r.name) for r in self._relations],
        )
        if decision["Type"] == "Entity":
            self._entities, self._relations = delete_entity_cascade(
                self._entities, self._relations, decision["ID"]
            )
        elif decision["Type"] == "Relation":
            # the ID is the stringified 3-tuple the reference evals
            # (extractor.py:166); ast.literal_eval parses it without eval's
            # injection surface AND survives repr's quote switching (an
            # apostrophe in any element makes repr use double quotes, which
            # a quote-matching regex mis-splits)
            import ast

            try:
                t = ast.literal_eval(decision["ID"])
            except (ValueError, SyntaxError):
                t = None
            if isinstance(t, tuple) and len(t) == 3:
                self._relations = delete_relation(
                    self._relations, tuple(str(x) for x in t)
                )
            else:
                logger.error(
                    "delete_entity_or_relation: malformed relation ID %r "
                    "— nothing deleted", decision.get("ID")
                )
        else:
            # reference: logger.error("Invalid type returned from LLM.")
            # (extractor.py:148) — a no-op, but never a silent one; the
            # router's Clarification explains what failed to match
            logger.error(
                "delete_entity_or_relation: %s — nothing deleted",
                decision.get("Clarification", "no matching entity/relation"),
            )

    # -- sinks (extractor.py:278-387; K1) -----------------------------------

    def create_tables(self, spark=None, using: Optional[str] = None) -> List[str]:
        """K1: deterministic 3NF DDL from the current JSON schema, executed
        against the injected DB client (db_execute — the reference's
        Postgres path) or a Spark catalog session.  Raises like the
        reference when no sink is configured (extractor.py:309-311)."""
        schema = {"properties": {e.id: {"type": "object"} for e in self._entities}} \
            if not self._json_schema else self._json_schema
        if self.db_execute is not None:
            from .sources.jdbc_sink import create_tables_via

            return create_tables_via(self.db_execute, schema)
        if spark is not None:
            from .operators.ddl import create_tables

            return create_tables(spark, schema, using=using)
        raise ValueError("DB client is not a relational database client.")

    # -- render (K3) ---------------------------------------------------------

    def render(
        self,
        output_path: Optional[str] = None,
        backend: str = "html",
        **kwargs: Any,
    ):
        """PyechartsRenderer.render analog over the current state."""
        from .plans.render import render_html, render_pyecharts

        ents = [
            {"id": e.id, "type": e.type, "attributes": e.attributes}
            for e in self._entities
        ]
        rels = [
            {"source": r.source, "target": r.target} for r in self._relations
        ]
        if backend == "pyecharts":
            return render_pyecharts(ents, rels, output_path, **kwargs)
        if backend != "html":
            # same strictness as plans/render.render_from_tables — a typo
            # must not silently fall back to the html backend
            raise ValueError(f"unknown render backend: {backend!r}")
        return render_html(ents, rels, output_path, **kwargs)
