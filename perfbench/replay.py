"""Single-process replay of the extraction kernel.

Calls the public kernel functions in the order
``operators.extract.extract_document_rows`` calls them (the settings
``run_job`` uses: chunk rows, entities, schemas and triples on, containment
off) and times each group of calls.  Its outputs double as the oracle of the
benchmark's output check, and its per-kind row counts are compared with the
Spark run's ``extracted`` table so the replay cannot drift from the kernel.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa

from scrapontologies_spark.functions.code_gazetteer import (
    DEFAULT_CHUNK_BYTES,
    chunk_payload,
    chunk_schema_digest,
    chunk_text_masked,
    extract_mentions,
    triples_for_mentions,
)
from scrapontologies_spark.functions.semantics import (
    canonical_json,
    combine_entities_data_owned,
    is_na,
    schema_union_owned,
    sha256_hex,
)
from scrapontologies_spark.operators.extract import DOC_ROWS_SCHEMA

# spark.sql.execution.arrow.maxRecordsPerBatch's default: input rows per
# mapInPandas batch, so one pandas -> Arrow conversion per this many docs
BATCH_DOCS = 10_000

_COLS = [f.name for f in DOC_ROWS_SCHEMA.fields]


@dataclass
class Replay:
    seconds: dict = field(default_factory=lambda: defaultdict(float))
    kind_rows: Counter = field(default_factory=Counter)
    chunks: int = 0
    triples: set = field(default_factory=set)
    doc_schemas: list = field(default_factory=list)
    # (id, type, attributes) rows of the entities stage when no prior table
    # exists: one module entity per doc plus its A2-folded symbols
    entity_rows: list = field(default_factory=list)
    lang_bytes: Counter = field(default_factory=Counter)
    lang_grammar_s: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def kernel_s(self) -> float:
        return sum(self.seconds.values())


def _arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(DOC_ROWS_SCHEMA)


def replay(docs: list, chunk_bytes: int = DEFAULT_CHUNK_BYTES) -> Replay:
    """``docs``: ``(repo, path, commit, lang, content)`` rows."""
    out = Replay()
    sec = out.seconds
    clock = time.perf_counter
    schema = _arrow_schema()
    for start in range(0, len(docs), BATCH_DOCS):
        rows = []
        for repo, path, commit, lang, content in docs[start : start + BATCH_DOCS]:
            content = content or ""
            t = clock()
            sha = sha256_hex(content)
            module_id = f"{repo or ''}/{path or ''}"
            base = (repo, path, commit, lang, sha)
            doc_base = (repo, path, None, None, None)
            sec["json_rows"] += clock() - t
            payloads, digests, triples = [], [], set()
            n_chunks = 0
            t = clock()
            chunks = chunk_text_masked(content, lang, chunk_bytes)
            t_mask = clock() - t
            sec["chunk_mask"] += t_mask
            t_grammar = 0.0
            for cid, _orig, ext in chunks:
                n_chunks += 1
                t0 = clock()
                mentions = extract_mentions(lang, ext)
                t1 = clock()
                payload = chunk_payload(mentions)
                payloads.append(payload)
                digest = chunk_schema_digest(payload)
                digests.append(digest)
                t2 = clock()
                triples |= triples_for_mentions(module_id, mentions)
                t3 = clock()
                rows.append(
                    (
                        "chunk", *base, cid,
                        canonical_json(payload), canonical_json(digest), json.dumps(mentions),
                        None, None, None, None, None, None, None,
                    )
                )
                t4 = clock()
                t_grammar += t1 - t0
                sec["payload_digest"] += t2 - t1
                sec["triples"] += t3 - t2
                sec["json_rows"] += t4 - t3
            sec["extract_mentions"] += t_grammar
            out.lang_bytes[lang] += len(content.encode())
            out.lang_grammar_s[lang] += t_mask + t_grammar
            out.chunks += n_chunks

            t = clock()
            merged = combine_entities_data_owned(payloads)
            doc_schema: dict = {}
            for dg in digests:
                doc_schema = schema_union_owned(doc_schema, dg)
            t1 = clock()
            sec["fold"] += t1 - t
            mod_attrs = canonical_json(
                {"commit": commit, "lang": lang, "n_chunks": n_chunks, "sha256": sha}
            )
            out.entity_rows.append((module_id, "module", mod_attrs))
            for name, attrs in merged.items():
                if is_na(name):
                    continue
                attrs_json = canonical_json(attrs)
                out.entity_rows.append((f"{module_id}::{name}", "object", attrs_json))
                rows.append(
                    (
                        "entity", *doc_base, None, None, None, None,
                        name, "object", attrs_json, None, None, None, None,
                    )
                )
            rows.append(
                (
                    "module", *base, None, None, None, None,
                    None, "module", mod_attrs, None, None, None, None,
                )
            )
            schema_json = canonical_json(doc_schema)
            rows.append(
                (
                    "schema", *doc_base, None, None, schema_json,
                    None, None, None, None, None, None, None, None,
                )
            )
            for subj, pred, obj, rel_type in triples:
                rows.append(
                    (
                        "triple", None, None, None, None, None,
                        None, None, None, None, None, None, None,
                        subj, pred, obj, rel_type,
                    )
                )
            sec["json_rows"] += clock() - t1
            out.triples |= triples
            out.doc_schemas.append(doc_schema)

        t = clock()
        frame = pd.DataFrame(rows, columns=_COLS)
        pa.RecordBatch.from_pandas(frame, schema=schema, preserve_index=False)
        sec["arrow"] += clock() - t
        out.kind_rows.update(r[0] for r in rows)
    return out
