"""Operator catalog for the driver contract (__spark_entry__.py).

Every SQL-expressible operator from SURVEY.md §2 gets a (Spark query,
DuckDB oracle SQL) pair over the driver's parquet tables.  Column names are
aliased identically on both sides (the driver's compare hashes values after
sorting columns by name).  Non-SQL-expressible ops (order-sensitive fold,
schema union, iterative CC) are exposed as rows-only queries — their exact
semantics are pinned by the pytest oracles instead (SURVEY §5).

This module grows with each milestone; keep entries grouped by SURVEY §2
operator ids.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Q = dict[str, Callable[[SparkSession, str], DataFrame]]

# Deterministic directory tree for the S3 front-door contract row
# (files_pipeline_triples): one file per grammar family, each using the
# shapes round 5 hardened (modern TS declarations, YAML list-item keys,
# top-level def after a class).  Content changes REQUIRE regenerating the
# VALUES oracle below via functions/code_gazetteer.document_triples and
# re-reviewing it by hand.
_FILES_FIXTURE = {
    "app/main.py": (
        "import os\n\nclass App:\n    def run(self):\n        return os.name\n\n"
        "def main():\n    launch(App)\n"
    ),
    "web/index.ts": (
        "import {merge} from '@scope/pkg';\n"
        "import * as util from './lib/util.ts';\n\n"
        "export interface Config {}\n\n"
        "export default class Server {}\n\n"
        "export function start(cfg) {\n  boot(cfg);\n}\n\n"
        "export const stop = (sig) => {\n  halt(sig);\n};\n"
    ),
    "svc/handler.go": (
        'import "fmt"\n\ntype Srv struct {\n}\n\nfunc Handle(w int) {\n  render(w)\n}\n'
    ),
    "conf/app.yaml": "server:\n  host: localhost\n  - port: 8080\nlimits:\n  cpu: 2\n",
    "notes.txt": "sort the rows then merge and hash the batch\n",
    # wave-9: extension-less build files, routed by lowercased basename
    "Dockerfile": (
        "FROM ghcr.io/kg/python:3.12 AS build\nARG REV=1\n\n"
        "FROM alpine:3.20\nENV MODE=fast\n"
    ),
    "build/Makefile": "include deps.mk\n\nCC := gcc\n\nall:\n\ttrue\n",
}

# single shared reader (driver_helpers) — dataset_queries uses the same one
from .driver_helpers import docs_table as _docs  # noqa: E402
from .driver_helpers import events_table as _events  # noqa: E402


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


def queries() -> Q:
    q: Q = {}

    # P4 — NA predicate (is_na over documents.text; SURVEY §2.2)
    q["p4_na_filter"] = lambda spark, d: (
        _docs(spark, d)
        .filter(
            ~(F.col("text").isNull() | (F.col("text") == "NA") | (F.col("text") == ""))
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )

    # P5 — entity filter by id
    q["p5_filter_by_id"] = lambda spark, d: (
        _docs(spark, d).filter(F.col("doc_id") != 7).select("doc_id", "source")
    )

    # P6/J3 — delete cascade as anti-join: edges (doc→source) minus deleted docs
    def p6(spark: SparkSession, d: str) -> DataFrame:
        docs = _docs(spark, d)
        deleted = docs.filter(F.col("doc_id") % 10 == 3).select("doc_id")
        # broadcast the tiny deleted-ids side (SURVEY §2.3 J3)
        return docs.join(F.broadcast(deleted), "doc_id", "left_anti").select(
            "doc_id", "lang"
        )

    q["p6_delete_cascade_anti"] = p6

    # J2 — referential-integrity semi-join (triples ⋉ entities)
    def j2(spark: SparkSession, d: str) -> DataFrame:
        docs = _docs(spark, d)
        entities = docs.filter(F.col("n_chars") > 150).select("doc_id")
        edges = docs.select("doc_id", "source")
        return edges.join(entities, "doc_id", "left_semi").select("doc_id", "source")

    q["j2_semi_integrity"] = j2

    # J1 — full-outer reconcile join on id (exact-id entity linking)
    def j1(spark: SparkSession, d: str) -> DataFrame:
        docs = _docs(spark, d)
        # presence flags from literal markers, NOT payload-column
        # nullability — a row whose lang is NULL is still present on its
        # side (the oracle tests l.doc_id IS NOT NULL)
        left = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", F.col("lang").alias("lang_l"), F.lit(True).alias("_pl")
        )
        right = docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.col("lang").alias("lang_r"), F.lit(True).alias("_pr")
        )
        return left.join(right, "doc_id", "full_outer").select(
            "doc_id",
            F.coalesce("lang_l", "lang_r").alias("lang_merged"),
            F.coalesce("_pl", F.lit(False)).alias("in_left"),
            F.coalesce("_pr", F.lit(False)).alias("in_right"),
        )

    q["j1_full_outer_reconcile"] = j1

    # P1/F2 — fenced-JSON extraction (regexp on synthesized fenced strings)
    q["p1_fence_extract"] = lambda spark, d: (
        _events(spark, d)
        .select(
            "event_id",
            # coalesce: NULL props must yield '' like the oracle's
            # COALESCE (concat propagates NULL through regexp_extract)
            F.coalesce(
                F.regexp_extract(
                    F.concat(F.lit("```json "), F.col("props"), F.lit(" ```")),
                    r"```json\s*([\s\S]*?)\s*```",
                    1,
                ),
                F.lit(""),
            ).alias("fenced"),
        )
        .filter(F.col("event_id") < 100)
    )

    # F4 — JSON field access (get_json_object over events.props)
    q["f4_json_extract"] = lambda spark, d: (
        _events(spark, d)
        .select(
            "event_id",
            F.get_json_object("props", "$.k").alias("k_value"),
        )
        .filter(F.col("event_id") < 100)
    )

    # A7 — first-seen color assignment ≈ dense_rank over entity type
    def a7(spark: SparkSession, d: str) -> DataFrame:
        from pyspark.sql.window import Window

        docs = _docs(spark, d)
        return (
            docs.select("lang")
            .distinct()
            .withColumn(
                "color_idx",
                # asc_nulls_last pins NULL ordering: Spark defaults NULLS
                # FIRST, DuckDB NULLS LAST — unpinned, a NULL lang would
                # shift every color_idx between the engines
                (
                    F.dense_rank().over(Window.orderBy(F.col("lang").asc_nulls_last()))
                    - 1
                )
                % 5,
            )
        )

    q["a7_color_assignment"] = a7

    # Flagship slice — mention triples over documents (SQL-expressible part
    # of M1/M5: term-gazetteer extraction, doc → term edges with counts)
    def flagship(spark: SparkSession, d: str) -> DataFrame:
        from ..functions.code_gazetteer import TEXT_TERMS
        from ..operators.textops import ascii_word_tokens_in

        docs = _docs(spark, d)
        # token-split term match, NOT Java \b — engine-agnostic boundary
        # semantics shared with the RE2 oracle and the (re.ASCII) gazetteer
        return (
            docs.select(
                "doc_id",
                F.explode(ascii_word_tokens_in(F.col("text"), TEXT_TERMS)).alias(
                    "term"
                ),
            )
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("n_mentions"))
        )

    q["m1_term_mentions"] = flagship

    # M5(a) — per-document containment triples: A4 doc schema → M4 entities
    # → has_<child> edges rooted at the module id (value-exact: on the prose
    # corpus a document's schema has the single top-level 'term' entity iff
    # the document mentions any gazetteer term)
    def m5_containment(spark: SparkSession, d: str) -> DataFrame:
        from ..operators.extract import containment_view, extract_document_rows
        from .driver_helpers import documents_as_corpus

        # with_containment: the per-doc schema → M4 → has_<child> derivation
        # is row-local, so it's fused into the extraction kernel — ONE
        # Python stage
        doc_rows = extract_document_rows(
            documents_as_corpus(spark, d), 1024, with_schemas=False,
            emit_chunks=False, with_entities=False, with_triples=False,
            with_containment=True,
        )
        return containment_view(doc_rows)

    q["m5_containment_triples"] = m5_containment

    # P8 — user_prompt_for_filter stand-in: extraction allowlist.  The
    # gazetteer is restricted to 3 of the 12 terms AT extraction (the
    # reference threads the user filter into every extraction prompt,
    # pdf_parser.py:399-401) — mention counts reflect only allowed terms.
    def p8_filtered(spark: SparkSession, d: str) -> DataFrame:
        from ..operators.extract import chunks_view, extract_document_rows, mentions_df
        from .driver_helpers import documents_as_corpus

        doc_rows = extract_document_rows(
            documents_as_corpus(spark, d), 1024, with_schemas=False,
            allowed_terms=("join", "hash", "query"),
            with_entities=False, with_triples=False,
        )
        return (
            mentions_df(chunks_view(doc_rows))
            .groupBy("repo", "path", "name")
            .agg(F.count("*").alias("n_mentions"))
        )

    q["p8_filtered_mentions"] = p8_filtered

    # Flagship KG queries.  On the PROSE corpus the per-chunk payloads are
    # flat ({term: {"kind":"term"}}), so the order-sensitive A2 fold
    # degenerates to first-wins over identical values == distinct terms per
    # document — SQL-expressible, so these carry VALUE oracles (the general
    # code-corpus fold stays pinned by the pytest sequential oracle,
    # SURVEY §5 layers 1+3).
    def kg_fold_entities(spark: SparkSession, d: str) -> DataFrame:
        from ..operators.extract import doc_entities_view, extract_document_rows
        from .driver_helpers import documents_as_corpus

        return doc_entities_view(extract_document_rows(
            documents_as_corpus(spark, d), 1024, with_schemas=False,
            emit_chunks=False, with_triples=False,
        ))

    q["kg_fold_entities"] = kg_fold_entities

    def kg_global_schema(spark: SparkSession, d: str) -> DataFrame:
        from ..operators.schema_merge import corpus_global_schema
        from .driver_helpers import documents_as_corpus

        g = corpus_global_schema(documents_as_corpus(spark, d), 1024)
        from ..functions.semantics import canonical_json

        return spark.createDataFrame(
            [("global", canonical_json(g))], "scope string, schema_json string"
        )

    q["kg_global_schema"] = kg_global_schema

    # S3 front door — real-file ingestion as a driver-contract row (VERDICT
    # r04 ask #5): a deterministic fixture tree is (re)written at call time,
    # then binaryFile-scanned by sources/files.corpus_from_files and run
    # through the fused extraction pass.  The oracle is the fixture's exact
    # triple set, derived from the sequential kernel (document_triples) at
    # authoring time, hand-reviewed row by row, and inlined as VALUES — so
    # the machine-checked surface is everything the pytest oracles CANNOT
    # share with the engine: the binaryFile scan, ANSI-safe UTF-8 decode,
    # anchored relative paths, ext→lang routing, and the distributed fold.
    # Authoring this row found a real grammar bug (the \s*-crosses-newline
    # indent capture, see code_gazetteer._PY_DEF).
    def files_pipeline_triples(spark: SparkSession, d: str) -> DataFrame:
        import os
        import shutil
        import tempfile

        from ..operators.extract import extract_document_rows, triples_view
        from ..sources.files import corpus_from_files

        root = os.path.join(tempfile.gettempdir(), "kg_files_fixture_v2", "kgfix")
        # clear first: a leftover tree from an older fixture version (or a
        # renamed/removed file) would otherwise be scanned alongside the
        # current files and break the hand-inlined VALUES oracle
        shutil.rmtree(root, ignore_errors=True)
        for rel, content in _FILES_FIXTURE.items():
            p = os.path.join(root, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "w", encoding="utf-8", newline="") as f:
                f.write(content)
        corpus = corpus_from_files(spark, root, repo="kgfix", commit="c0")
        return triples_view(extract_document_rows(
            corpus, 512, with_schemas=False, emit_chunks=False, with_entities=False,
        ))

    q["files_pipeline_triples"] = files_pipeline_triples

    # training-data + analytical operator catalog
    from . import dataset_queries

    q.update(dataset_queries.queries())
    return q


# The grading driver records CORRECTNESS rows for at most 50 queries()
# entries (round 2 shipped 53 and the file stopped at 50, silently leaving
# the tail unverified).  The contract therefore exposes EXACTLY the 50
# entries that evidence SURVEY §2 + training-data operators.
#
# Rotation policy (VERDICT r03 ask #2): entries that have earned a driver
# value-green row in TWO prior rounds may rotate out in favor of registry
# entries that have never had one, so the unverified tail shrinks each
# round while everything stays pytest-oracled + bench-timed in the FULL
# registry.  Round 4 rotated IN dedup_keep_canonical (a user-facing
# materialization a pipeline actually ships) and events_user_rollup, and
# rotated OUT p2_python_fence / p3_strip_fences (value-green in r02 AND
# r03; still pinned by tests/test_driver_contract.py pytest oracles).
# Round 5 (VERDICT r04 asks #3 and #5) rotated IN events_hourly_rollup
# (the batch twin of the streaming windowed agg — never had a driver row)
# and files_pipeline_triples (the real-file S3 front door, new this
# round), and rotated OUT p5_filter_by_id / a7_color_assignment (both
# value-green r01–r04; P5 stays evidenced by p6/c2's id-predicate joins +
# the full-registry run, A7 by test_render + the full-registry run).
#
# Off-contract this round:
#   - p2_python_fence         green r02+r03; rotated out r04
#   - p3_strip_fences         green r02+r03; rotated out r04
#   - p5_filter_by_id         green r01–r04; rotated out r05
#   - a7_color_assignment     green r01–r04; rotated out r05
#   - tpch_q1/q3/q6           generic SQL demos, not SURVEY §2 operators
NON_CONTRACT = (
    "p2_python_fence",
    "p3_strip_fences",
    "p5_filter_by_id",
    "a7_color_assignment",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
)

DRIVER_QUERY_CAP = 50


def contract_queries() -> Q:
    """The ≤50-entry registry __spark_entry__ exposes to the driver."""
    q = {k: v for k, v in queries().items() if k not in NON_CONTRACT}
    if len(q) > DRIVER_QUERY_CAP:  # not assert: must survive python -O
        raise ValueError(
            f"{len(q)} contract queries exceed the driver's {DRIVER_QUERY_CAP}-row "
            "CORRECTNESS cap; move an entry to NON_CONTRACT or retire one"
        )
    return q


def contract_oracle_sql() -> dict[str, str]:
    names = set(contract_queries())
    return {k: v for k, v in oracle_sql().items() if k in names}


# ---------------------------------------------------------------------------
# DuckDB oracles (ANSI SQL over pre-registered views)
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    from . import dataset_queries

    out = dataset_queries.oracle_sql()
    out.update(_base_oracles())
    return out


def _base_oracles() -> dict[str, str]:
    return {
        "p4_na_filter": """
            SELECT source, count(*) AS n_docs
            FROM documents
            WHERE NOT (text IS NULL OR text = 'NA' OR text = '')
            GROUP BY source
        """,
        "p5_filter_by_id": """
            SELECT doc_id, source FROM documents WHERE doc_id <> 7
        """,
        "p6_delete_cascade_anti": """
            SELECT doc_id, lang FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 10 = 3)
        """,
        "j2_semi_integrity": """
            SELECT doc_id, source FROM documents
            WHERE doc_id IN (SELECT doc_id FROM documents WHERE n_chars > 150)
        """,
        "j1_full_outer_reconcile": """
            SELECT
              COALESCE(l.doc_id, r.doc_id) AS doc_id,
              COALESCE(l.lang, r.lang) AS lang_merged,
              l.doc_id IS NOT NULL AS in_left,
              r.doc_id IS NOT NULL AS in_right
            FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0) l
            FULL OUTER JOIN (SELECT doc_id, lang FROM documents WHERE doc_id % 3 = 0) r
              ON l.doc_id = r.doc_id
        """,
        "p1_fence_extract": """
            SELECT event_id,
                   COALESCE(regexp_extract('```json ' || props || ' ```',
                                  '```json\\s*([\\s\\S]*?)\\s*```', 1), '') AS fenced
            FROM events WHERE event_id < 100
        """,
        "f4_json_extract": """
            -- json_valid guard: DuckDB's json_extract_string ERRORS on
            -- malformed JSON where Spark's get_json_object returns NULL;
            -- on valid JSON both serialize nested values compactly.
            -- Envelope: CONCATENATED documents ('{"k":1}{"k":1}') are
            -- engine-dependent — Jackson prefix-parses them (Spark
            -- returns 1), strict validators reject (json.loads, the
            -- reference's parser, and json_valid both say invalid) —
            -- so multi-document strings are outside the value contract
            -- (found by tests/test_fuzz_parity.py, disclosed here)
            SELECT event_id,
                   CASE WHEN json_valid(props)
                        THEN json_extract_string(props, '$.k')
                        ELSE NULL END AS k_value
            FROM events WHERE event_id < 100
        """,
        "a7_color_assignment": """
            SELECT lang,
                   (dense_rank() OVER (ORDER BY lang NULLS LAST) - 1) % 5 AS color_idx
            FROM (SELECT DISTINCT lang FROM documents)
        """,
        "m1_term_mentions": """
            SELECT doc_id, term, count(*) AS n_mentions
            FROM (
              SELECT doc_id,
                     unnest(regexp_extract_all(text,
                       '\\b(join|scan|hash|sort|merge|filter|group|window|agg|batch|stream|query)\\b', 1)) AS term
              FROM documents
            )
            GROUP BY doc_id, term
        """,
        "p8_filtered_mentions": """
            SELECT source AS repo, 'doc_' || doc_id AS path, term AS name,
                   count(*) AS n_mentions
            FROM (
              SELECT doc_id, source,
                     unnest(regexp_extract_all(text,
                       '\\b(join|hash|query)\\b', 1)) AS term
              FROM documents
            )
            GROUP BY source, doc_id, term
        """,
        "kg_fold_entities": """
            -- prose-corpus A2 fold == distinct (doc, term): every chunk
            -- payload maps term -> {"kind":"term"}, so first-non-NA-wins
            -- merges identical values and the fold is order-free here
            SELECT source AS repo, 'doc_' || doc_id AS path,
                   term AS entity_name, 'object' AS entity_type,
                   '{"kind":"term"}' AS attributes
            FROM (
              SELECT DISTINCT doc_id, source,
                     unnest(regexp_extract_all(text,
                       '\\b(join|scan|hash|sort|merge|filter|group|window|agg|batch|stream|query)\\b', 1)) AS term
              FROM documents
            )
        """,
        "files_pipeline_triples": """
            -- the S3 front-door fixture is deterministic, so its triple
            -- set is a constant: derived ONCE from the sequential kernel
            -- (document_triples) at authoring time, hand-reviewed, inlined.
            -- A drift anywhere in the binaryFile→decode→route→fold→triples
            -- chain breaks the hash match.
            SELECT * FROM (VALUES
              ('kgfix/Dockerfile', 'defines', 'kgfix/Dockerfile::MODE', 'defines'),
              ('kgfix/Dockerfile', 'defines', 'kgfix/Dockerfile::REV', 'defines'),
              ('kgfix/Dockerfile', 'defines', 'kgfix/Dockerfile::build', 'defines'),
              ('kgfix/Dockerfile', 'imports', 'lib::alpine', 'import'),
              ('kgfix/Dockerfile', 'imports', 'lib::python', 'import'),
              ('kgfix/Dockerfile::build', 'has_method', 'kgfix/Dockerfile::REV', 'containment'),
              ('kgfix/build/Makefile', 'defines', 'kgfix/build/Makefile::CC', 'defines'),
              ('kgfix/build/Makefile', 'defines', 'kgfix/build/Makefile::all', 'defines'),
              ('kgfix/build/Makefile', 'imports', 'lib::deps', 'import'),
              ('kgfix/app/main.py', 'defines', 'kgfix/app/main.py::App', 'defines'),
              ('kgfix/app/main.py', 'defines', 'kgfix/app/main.py::main', 'defines'),
              ('kgfix/app/main.py', 'defines', 'kgfix/app/main.py::run', 'defines'),
              ('kgfix/app/main.py', 'imports', 'lib::os', 'import'),
              ('kgfix/app/main.py::App', 'has_method', 'kgfix/app/main.py::run', 'containment'),
              ('kgfix/app/main.py::main', 'calls', 'kgfix/app/main.py::launch', 'call'),
              ('kgfix/conf/app.yaml', 'defines', 'kgfix/conf/app.yaml::cpu', 'defines'),
              ('kgfix/conf/app.yaml', 'defines', 'kgfix/conf/app.yaml::host', 'defines'),
              ('kgfix/conf/app.yaml', 'defines', 'kgfix/conf/app.yaml::limits', 'defines'),
              ('kgfix/conf/app.yaml', 'defines', 'kgfix/conf/app.yaml::port', 'defines'),
              ('kgfix/conf/app.yaml', 'defines', 'kgfix/conf/app.yaml::server', 'defines'),
              ('kgfix/conf/app.yaml::limits', 'has_method', 'kgfix/conf/app.yaml::cpu', 'containment'),
              ('kgfix/conf/app.yaml::server', 'has_method', 'kgfix/conf/app.yaml::host', 'containment'),
              ('kgfix/conf/app.yaml::server', 'has_method', 'kgfix/conf/app.yaml::port', 'containment'),
              ('kgfix/notes.txt', 'mentions', 'term::batch', 'mention'),
              ('kgfix/notes.txt', 'mentions', 'term::hash', 'mention'),
              ('kgfix/notes.txt', 'mentions', 'term::merge', 'mention'),
              ('kgfix/notes.txt', 'mentions', 'term::sort', 'mention'),
              ('kgfix/svc/handler.go', 'defines', 'kgfix/svc/handler.go::Handle', 'defines'),
              ('kgfix/svc/handler.go', 'defines', 'kgfix/svc/handler.go::Srv', 'defines'),
              ('kgfix/svc/handler.go', 'imports', 'lib::fmt', 'import'),
              ('kgfix/svc/handler.go::Handle', 'calls', 'kgfix/svc/handler.go::render', 'call'),
              ('kgfix/web/index.ts', 'defines', 'kgfix/web/index.ts::Config', 'defines'),
              ('kgfix/web/index.ts', 'defines', 'kgfix/web/index.ts::Server', 'defines'),
              ('kgfix/web/index.ts', 'defines', 'kgfix/web/index.ts::start', 'defines'),
              ('kgfix/web/index.ts', 'defines', 'kgfix/web/index.ts::stop', 'defines'),
              ('kgfix/web/index.ts', 'imports', 'lib::lib', 'import'),
              ('kgfix/web/index.ts', 'imports', 'lib::scope', 'import'),
              ('kgfix/web/index.ts::start', 'calls', 'kgfix/web/index.ts::boot', 'call'),
              ('kgfix/web/index.ts::stop', 'calls', 'kgfix/web/index.ts::halt', 'call')
            ) AS t(subj, pred, obj, rel_type)
        """,
        "kg_global_schema": """
            -- prose-corpus A5: every chunk digest is {} or the one 'term'
            -- object schema; M3 union of those is constant iff any document
            -- mentions a gazetteer term
            SELECT 'global' AS scope,
              CASE WHEN EXISTS (
                SELECT 1 FROM documents WHERE regexp_matches(text,
                  '\\b(join|scan|hash|sort|merge|filter|group|window|agg|batch|stream|query)\\b')
              )
              THEN '{"properties":{"term":{"properties":{"kind":{"type":"string"}},"type":"object"}},"type":"object"}'
              ELSE '{}' END AS schema_json
        """,
        "m5_containment_triples": """
            -- a prose document's A4 schema is {'term': {kind: string}} iff it
            -- mentions >=1 gazetteer term; M4 lifts 'term' to the one entity,
            -- M5(a) emits module --has_term--> term; kind:string nests no
            -- object, so there are no deeper containment edges
            SELECT COALESCE(source, '') || '/doc_' || doc_id AS subj,
                   'has_term' AS pred, 'term' AS obj,
                   'containment' AS rel_type
            FROM documents
            WHERE regexp_matches(text,
              '\\b(join|scan|hash|sort|merge|filter|group|window|agg|batch|stream|query)\\b')
        """,
    }
