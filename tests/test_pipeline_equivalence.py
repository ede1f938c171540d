"""Layer-3 equivalence (SURVEY §5.3): distributed pipeline output ==
driver-side sequential reference-semantics fold, on a seeded synthetic
corpus.  P/R on (subj, pred, obj) sets must be 1.0 (both sides
deterministic); per-row sha256 integrity must hold end-to-end."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from scrapontologies_spark.functions.code_gazetteer import (
    document_payload,
    document_schema,
    document_triples,
)
from scrapontologies_spark.functions.semantics import (
    canonical_json,
    is_na,
    schema_union_all,
)
from scrapontologies_spark.operators.extract import (
    chunks_view,
    doc_entities_view,
    doc_schemas_view,
    extract_document_rows,
    mentions_df,
    module_entities_view,
    symbol_entities_view,
    triples_view,
)
from scrapontologies_spark.operators.schema_merge import global_schema
from scrapontologies_spark.plans.pipeline import verify_content_invariant
from scrapontologies_spark.sources.corpus import corpus_df, corpus_rows

N_ROWS = 120
CHUNK_BYTES = 512  # small → guarantees multi-chunk docs → fold order matters


def _entities(doc_rows):
    """Module + symbol entities (id, type, attributes), as run_job reads them."""
    modules = module_entities_view(doc_rows).select("id", "type", "attributes")
    return modules.unionByName(symbol_entities_view(doc_rows))


def _global_schema_json(doc_rows):
    return canonical_json(global_schema(doc_schemas_view(doc_rows)))


@pytest.fixture(scope="module")
def result(spark):
    """(corpus, one persisted fused pass, its global schema JSON)."""
    corpus = corpus_df(spark, N_ROWS).persist()
    doc_rows = extract_document_rows(corpus, CHUNK_BYTES).persist()
    yield corpus, doc_rows, _global_schema_json(doc_rows)
    corpus.unpersist()
    doc_rows.unpersist()


def _oracle_triples():
    expected = set()
    for repo, path, commit, lang, content in corpus_rows(N_ROWS):
        expected.update(document_triples(repo, path, lang, content, CHUNK_BYTES))
    return expected


def test_triples_pr_is_one(result):
    _, doc_rows, _ = result
    got = {
        (r.subj, r.pred, r.obj, r.rel_type)
        for r in triples_view(doc_rows).collect()
    }
    expected = _oracle_triples()
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    assert precision == 1.0 and recall == 1.0, (
        f"P={precision:.4f} R={recall:.4f} "
        f"spark-only={list(got - expected)[:3]} oracle-only={list(expected - got)[:3]}"
    )


def test_fold_matches_sequential_oracle(result):
    _, doc_rows, _ = result
    got = {}
    for r in doc_entities_view(doc_rows).collect():
        got.setdefault((r.repo, r.path), {})[r.entity_name] = json.loads(r.attributes)
    for repo, path, commit, lang, content in corpus_rows(N_ROWS):
        expected = document_payload(lang, content, CHUNK_BYTES)
        expected = {k: v for k, v in expected.items() if not is_na(k)}
        assert got.get((repo, path), {}) == expected, f"fold mismatch for {repo}/{path}"


def test_sha256_invariant(result):
    corpus, doc_rows, _ = result
    assert verify_content_invariant(corpus, chunks_view(doc_rows)) == 0


def test_global_schema_matches_oracle(result):
    _, _, gschema_json = result
    expected = schema_union_all(
        document_schema(lang, content, CHUNK_BYTES)
        for _, _, _, lang, content in corpus_rows(N_ROWS)
    )
    assert gschema_json == canonical_json(expected)


def test_containment_relations_from_global_schema(result):
    """M5(a): every top-level global-schema property gets a ROOT has_<e>
    edge, and nested-object attributes (e.g. function.calls arrays) nest a
    second containment level — the Digraph exemplar shape."""
    from scrapontologies_spark.functions.semantics import (
        derive_containment_relations,
        schema_to_entities,
    )

    _, _, gschema_json = result
    rels = derive_containment_relations(schema_to_entities(json.loads(gschema_json)))
    assert rels and all(r.type == "containment" for r in rels)
    props = json.loads(gschema_json)["properties"]
    roots = {r.target for r in rels if r.source == "ROOT"}
    assert roots == set(props)
    assert all(r.name == f"has_{r.target}" for r in rels)
    # the code corpus induces nested attrs (calls/called_by arrays) → at
    # least one second-level containment edge under a top-level entity
    assert any(r.source != "ROOT" for r in rels)


def test_containment_triples_per_doc_match_sequential_oracle(spark):
    """The kernel's fused per-document containment emit == sequential
    document_schema → M4 → M5(a) oracle, module-rooted."""
    from scrapontologies_spark.functions.semantics import (
        derive_containment_relations,
        schema_to_entities,
    )
    from scrapontologies_spark.operators.extract import containment_view

    corpus = corpus_df(spark, 30)
    doc_rows = extract_document_rows(
        corpus, 512, with_schemas=False, emit_chunks=False,
        with_entities=False, with_triples=False, with_containment=True,
    )
    got = {
        (r.subj, r.pred, r.obj, r.rel_type)
        for r in containment_view(doc_rows).collect()
    }
    expected = set()
    for repo, path, commit, lang, content in corpus_rows(30):
        ents = schema_to_entities(document_schema(lang, content, 512))
        for r in derive_containment_relations(ents, root=f"{repo}/{path}"):
            expected.add((r.source, r.name, r.target, r.type))
    assert got == expected and got


def test_p8_allowlist_restricts_whole_pipeline(spark):
    """P8 user_prompt_for_filter stand-in: an allowed_kinds filter at
    extraction restricts triples/entities exactly like the sequential
    oracle run with the same allowlist."""
    from scrapontologies_spark.functions.code_gazetteer import (
        chunk_text,
        extract_mentions,
        triples_for_mentions,
    )

    kinds = frozenset({"import"})
    corpus = corpus_df(spark, 30)
    doc_rows = extract_document_rows(
        corpus, CHUNK_BYTES, with_schemas=False, allowed_kinds=kinds
    )
    got = {(r.subj, r.pred, r.obj, r.rel_type) for r in triples_view(doc_rows).collect()}
    assert {t[1] for t in got} <= {"imports"}
    expected = set()
    for repo, path, commit, lang, content in corpus_rows(30):
        mod = f"{repo}/{path}"
        for _, text in chunk_text(content, CHUNK_BYTES):
            expected |= triples_for_mentions(
                mod, extract_mentions(lang, text, kinds, None)
            )
    assert got == expected and got


def test_p8_jvm_mention_filter_matches_extraction_filter(spark):
    """Filtering kinds at extraction == the unfiltered mentions filtered
    JVM-side in the test (a test-side reference of the P8 allowlist)."""
    corpus = corpus_df(spark, 20)
    kinds = {"function", "class"}

    def mentions(**allow):
        return mentions_df(
            chunks_view(extract_document_rows(corpus, CHUNK_BYTES, **allow))
        )

    want = mentions().filter(F.col("kind").isin(*sorted(kinds)))
    at_ext = mentions(allowed_kinds=kinds)
    assert sorted(map(tuple, want.collect())) == sorted(map(tuple, at_ext.collect()))
    assert want.count() > 0


def test_emit_selection_schema_only_rows_identical(spark):
    """with_entities=False/with_triples=False must skip the fold and
    triple-set WORK but emit byte-identical schema/module rows."""
    corpus = corpus_df(spark, 20)
    full = extract_document_rows(corpus, CHUNK_BYTES, True, False)
    slim = extract_document_rows(
        corpus, CHUNK_BYTES, True, False, with_entities=False, with_triples=False
    )
    assert sorted(map(tuple, doc_schemas_view(slim).collect())) == sorted(
        map(tuple, doc_schemas_view(full).collect())
    )
    kinds = {r.kind for r in slim.select("kind").distinct().collect()}
    assert kinds == {"schema", "module"}


def test_markdown_rows_produce_no_mentions(result):
    _, doc_rows, _ = result
    mentions = mentions_df(chunks_view(doc_rows))
    assert mentions.filter("lang = 'markdown'").count() == 0


def test_entity_counts(result):
    _, doc_rows, _ = result
    # one module entity per document + one entity per merged top-level key
    n_docs = len(corpus_rows(N_ROWS))
    entities = _entities(doc_rows)
    assert entities.filter("type = 'module'").count() == n_docs
    assert entities.count() > n_docs


def test_partitioning_invariance(spark):
    """Layer-4 light: same output under different parallelism (1 vs 8
    shuffle partitions, repartitioned input) — guards the fold's order
    stability against partitioning (SURVEY §5.4)."""
    rows = corpus_rows(30)
    expected = set()
    for repo, path, commit, lang, content in rows:
        expected.update(document_triples(repo, path, lang, content, CHUNK_BYTES))

    for parts in (1, 8):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            corpus = corpus_df(spark, 30).repartition(parts)
            triples = triples_view(
                extract_document_rows(corpus, CHUNK_BYTES, with_schemas=False)
            )
            got = {(r.subj, r.pred, r.obj, r.rel_type) for r in triples.collect()}
            assert got == expected, f"divergence at shuffle.partitions={parts}"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_emit_chunks_false_same_deliverables(result, spark):
    """The slim pass (no chunk rows) must produce byte-identical
    deliverables — triples, entities, global schema — to the full pass."""
    corpus, full, full_gschema_json = result
    slim = extract_document_rows(corpus, CHUNK_BYTES, emit_chunks=False).persist()
    try:
        assert chunks_view(slim).count() == 0
        assert set(map(tuple, triples_view(slim).collect())) == set(
            map(tuple, triples_view(full).collect())
        )
        assert set(map(tuple, _entities(slim).collect())) == set(
            map(tuple, _entities(full).collect())
        )
        assert _global_schema_json(slim) == full_gschema_json
    finally:
        slim.unpersist()


def test_pipeline_summary_matches_views(result):
    """The benches' one-pass summary must report the same deliverable
    counts and the same global schema as the views of a fused pass."""
    from scrapontologies_spark.plans.pipeline import pipeline_summary

    corpus, full, full_gschema_json = result
    counts, gschema_json = pipeline_summary(corpus, chunk_bytes=CHUNK_BYTES)
    assert counts["triple"] == triples_view(full).count()
    assert counts["entity"] + counts["module"] == _entities(full).count()
    assert gschema_json == full_gschema_json


def test_pipeline_summary_one_job_empty_and_null_keys(spark):
    """pipeline_summary is one Spark job (the kind counts ride the A5
    reduce as an observation), gives ({}, "{}") on an empty corpus, and
    matches the views of a fused pass on NULL repo / path / content rows."""
    from scrapontologies_spark.plans.pipeline import pipeline_summary

    schema = "repo string, path string, commit string, lang string, content string"
    assert pipeline_summary(spark.createDataFrame([], schema)) == ({}, "{}")

    corpus = spark.createDataFrame(
        [
            (None, "a.py", "c", "python", "class A:\n    def f(self):\n        pass\n"),
            ("r", None, "c", "python", "import os\ndef g():\n    return os.sep\n"),
            ("r", "b.py", "c", "python", None),
            ("r", "c.js", "c", "javascript", "class B { m() { return 1 } }\n"),
        ],
        schema,
    )
    sc = spark.sparkContext
    group = "pipeline-summary-one-job"
    sc.setJobGroup(group, "pipeline_summary")
    try:
        counts, gschema_json = pipeline_summary(corpus, chunk_bytes=CHUNK_BYTES)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    full = extract_document_rows(corpus, CHUNK_BYTES).persist()
    try:
        assert counts["triple"] == triples_view(full).count()
        assert counts["entity"] == doc_entities_view(full).count()
        assert counts["module"] + counts["entity"] == _entities(full).count()
        assert counts["schema"] == doc_schemas_view(full).count() == 4
        assert gschema_json == _global_schema_json(full) != "{}"
    finally:
        full.unpersist()


def test_content_invariant_catches_mixed_sha_rows(spark):
    """A document with one corrupted-sha chunk row alongside correct ones
    must be flagged — an exists-one-matching-row check would pass it."""

    from scrapontologies_spark.plans.pipeline import verify_content_invariant

    corpus = spark.createDataFrame(
        [("r", "a.py", "c", "python", "x = 1")],
        "repo string, path string, commit string, lang string, content string",
    )
    sha = corpus.select(F.sha2("content", 256).alias("s")).collect()[0]["s"]
    chunks_ok = spark.createDataFrame(
        [("r", "a.py", sha), ("r", "a.py", sha)], "repo string, path string, sha256 string"
    )
    assert verify_content_invariant(corpus, chunks_ok) == 0
    chunks_mixed = spark.createDataFrame(
        [("r", "a.py", sha), ("r", "a.py", "deadbeef")],
        "repo string, path string, sha256 string",
    )
    assert verify_content_invariant(corpus, chunks_mixed) == 1
    # chunk rows for a document absent from the corpus are violations too
    chunks_orphan = chunks_ok.union(
        spark.createDataFrame([("r", "ghost.py", sha)], chunks_ok.schema)
    )
    assert verify_content_invariant(corpus, chunks_orphan) == 1
    # ...as is a corpus document with no chunk rows at all
    assert verify_content_invariant(corpus, chunks_ok.limit(0)) == 1
    # a NULL repo or path is a real document identity (the kernel keeps
    # it): chunk rows that carry the right sha are not violations
    null_keys = spark.createDataFrame(
        [(None, "b.py", "c", "python", "def g(): pass"), ("r", None, "c", "python", "x = 2")],
        corpus.schema,
    )
    chunks = chunks_view(extract_document_rows(null_keys, 512))
    assert verify_content_invariant(null_keys, chunks) == 0


def test_null_content_rows_do_not_abort_extraction(spark):
    """One corpus row with content=NULL (an arbitrary --corpus parquet can
    carry one) must not kill the mapInPandas stage after 4 task retries:
    NULL reads as the empty document — sha256(""), one empty chunk, a
    module row — and every other document extracts normally."""
    import hashlib

    corpus = spark.createDataFrame(
        [
            ("r", "good.py", "c1", "python", "import os\ndef f():\n    g()\n"),
            ("r", "bad.bin", "c2", "python", None),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    rows = extract_document_rows(corpus, 512)
    mods = {r.id: r.attributes for r in module_entities_view(rows).collect()}
    assert set(mods) == {"r/good.py", "r/bad.bin"}
    empty_sha = hashlib.sha256(b"").hexdigest()
    assert empty_sha in mods["r/bad.bin"]
    # the good doc still yields its triples
    subs = {r.subj for r in triples_view(rows).collect()}
    assert "r/good.py" in subs
    # ...and both docs keep their chunk rows
    assert chunks_view(rows).count() >= 2
