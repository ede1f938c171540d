"""Cross-engine parity on ADVERSARIAL data — the shapes the driver's
benign sf tables never exercise (NULL/empty/CJK text, NULL source/lang,
exact-duplicate docs, zero-norm / NULL / duplicate embeddings, NULL and
equal event timestamps, malformed JSON props, NULL composite-key parts).

Round 4's adversarial sweep found 11 query/oracle divergences on this
corpus (engine "None"-stringified doc ids; oracles that ranked
NULL-cosine rows, errored on malformed JSON, let NULL-ts rows match
as-of joins, session-indexed NULL timestamps, and deleted NULL-keyed
rows an equi-anti-join keeps).  This module regenerates the corpus
deterministically (scripts/adversarial_tables.py) and re-runs each
previously-divergent query against its DuckDB oracle, value-exact — a
regression in either twin fails here before any driver round.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every query that diverged in the round-4 adversarial sweep
FIXED_QUERIES = (
    "sim_cosine_topk",
    "sim_cosine_topk_ivf",
    "sim_cosine_topk_lsh",
    "f4_json_extract",
    "m5_containment_triples",
    "events_sessionize",
    "events_interval_sessions",
    "events_asof_purchase",
    "events_asof_forward",
    "events_hourly_rollup",
    "c2_delete_relation_composite",
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _load_generator():
    spec = importlib.util.spec_from_file_location(
        "adversarial_tables", os.path.join(REPO, "scripts", "adversarial_tables.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adversarial"))
    _load_generator().write_all(d)
    return d


@pytest.fixture(scope="module")
def ddb(adv_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{adv_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", FIXED_QUERIES)
def test_adversarial_query_matches_oracle(spark, ddb, adv_dir, name):
    from scrapontologies_spark.plans import driver_queries as DQ

    sp = DQ.queries()[name](spark, adv_dir).toPandas()
    du = ddb.execute(DQ.oracle_sql()[name]).fetchdf()
    assert len(sp) == len(du), f"{name}: rows spark={len(sp)} duckdb={len(du)}"
    cols = sorted(sp.columns)
    a = sp.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    b = du.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    for c in cols:
        # normalize datetime units (Spark ns vs DuckDB us) so the compare
        # sees timestamps, not their raw int representations
        if str(a[c].dtype).startswith("datetime64") and str(
            b[c].dtype
        ).startswith("datetime64"):
            a[c] = a[c].astype("datetime64[us]")
            b[c] = b[c].astype("datetime64[us]")
    pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6)


# skew fixture: mega duplicate group, hot user with equal-ts bursts,
# identical-vector cluster — the full 56-query sweep on the large skew
# corpus runs via scripts/cross_scale_check.py (56/56, BASELINE.md); the
# suite pins the heavy hitters at a small size
SKEW_QUERIES = (
    "dedup_exact",
    "dedup_clusters",
    "dedup_keep_canonical",
    "events_sessionize",
    "sim_cosine_topk",
)


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adversarial_skew"))
    _load_generator().write_skew(d, n_docs=400, n_vecs=200, n_events=3000)
    return d


@pytest.fixture(scope="module")
def ddb_skew(skew_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{skew_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", SKEW_QUERIES)
def test_skew_query_matches_oracle(spark, ddb_skew, skew_dir, name):
    from scrapontologies_spark.plans import driver_queries as DQ

    sp = DQ.queries()[name](spark, skew_dir).toPandas()
    du = ddb_skew.execute(DQ.oracle_sql()[name]).fetchdf()
    assert len(sp) == len(du), f"{name}: rows spark={len(sp)} duckdb={len(du)}"
    assert len(sp) > 0, name  # skew shapes must actually exercise the op
    cols = sorted(sp.columns)
    a = sp.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    b = du.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    for c in cols:
        if str(a[c].dtype).startswith("datetime64") and str(
            b[c].dtype
        ).startswith("datetime64"):
            a[c] = a[c].astype("datetime64[us]")
            b[c] = b[c].astype("datetime64[us]")
    pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6)


# zero-row tables: the empty-input edge any filter can produce at scale.
# Full 56-query sweep runs via cross_scale_check (56/56, BASELINE.md);
# the suite pins the queries with eager/driver-side or divide-prone
# stages that could plausibly crash on nothing
EMPTY_QUERIES = (
    "kg_global_schema",      # eager per-partition reduce of 0 rows
    "sim_cosine_topk_ivf",   # codebook sampled from an empty table
    "text_vocabulary",       # corpus-size N = 0 broadcast, idf divides
    "dedup_clusters",        # CC over zero edges
    "events_sessionize",     # window over zero partitions
)


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adversarial_empty"))
    _load_generator().write_empty(d)
    return d


@pytest.fixture(scope="module")
def ddb_empty(empty_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{empty_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", EMPTY_QUERIES)
def test_empty_input_query_matches_oracle(spark, ddb_empty, empty_dir, name):
    from scrapontologies_spark.plans import driver_queries as DQ

    sp = DQ.queries()[name](spark, empty_dir).toPandas()
    du = ddb_empty.execute(DQ.oracle_sql()[name]).fetchdf()
    assert len(sp) == len(du), f"{name}: rows spark={len(sp)} duckdb={len(du)}"
    if len(sp):  # kg_global_schema returns ('global', '{}') on empty input
        cols = sorted(sp.columns)
        a = sp.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
        b = du.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6)


def test_sessionize_excludes_null_ts(spark, adv_dir):
    """Engine contract: a row with no timestamp has no place in a time
    session (and engines disagree where NULLs sort, so keeping them would
    shift every real session's index by engine)."""
    from scrapontologies_spark.operators.events import sessionize

    ev = spark.read.parquet(f"{adv_dir}/events.parquet")
    sess = sessionize(ev, 30).toPandas()
    assert not sess.session_start.isna().any()
    assert not sess.session_end.isna().any()
    # NULL users still session (both engines group NULL keys together)
    assert sess.user_id.isna().any()


def test_asof_null_ts_matches_nothing(spark, adv_dir):
    """NULL-ts left rows match nothing in any direction; NULL-ts right
    rows are outside the match space (merge_asof parity)."""
    from pyspark.sql import functions as F

    from scrapontologies_spark.operators.events import asof_join

    ev = spark.read.parquet(f"{adv_dir}/events.parquet")
    for direction, prefix in (("backward", "prior_"), ("forward", "next_"),
                              ("nearest", "near_")):
        res = asof_join(
            ev.select("event_id", "user_id", "ts"),
            ev.filter(F.col("event_type") == "purchase"),
            right_value_cols=("event_id",),
            prefix=prefix,
            direction=direction,
        )
        bad = res.filter(
            F.col("ts").isNull() & F.col(f"{prefix}event_id").isNotNull()
        ).count()
        assert bad == 0, direction


def test_cosine_topk_degenerate_rows_produce_nothing(spark, adv_dir):
    """Zero-norm, NULL, NaN, Inf and NULL-element embeddings yield no
    top-k rows and never appear as neighbors (fixture: 0 zero-norm,
    3 NULL, 6 all-NaN, 7 one-NaN, 8 +Inf, 9 -Inf, 10 NULL element)."""
    from pyspark.sql import functions as F

    from scrapontologies_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{adv_dir}/embeddings.parquet")
    res = cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=3)
    got = res.toPandas()
    # 0 zero-norm, 3 NULL, 6/7 NaN, 8/9 Inf components, 10 NULL element —
    # all non-finite cosines, excluded as queries AND as neighbors
    degenerate = {0, 3, 6, 7, 8, 9, 10}
    assert not set(got.query_id) & degenerate
    assert not set(got.neighbor_id) & degenerate
    # the identical pair (1, 2) must be each other's top neighbor, cosine 1
    top = {r.query_id: (r.neighbor_id, round(r.cosine, 9))
           for r in res.filter(F.col("rank") == 1).collect()}
    assert top[1] == (2, 1.0) and top[2] == (1, 1.0)


def test_extraction_null_source_keeps_real_doc_identity(spark, adv_dir):
    """A NULL repo must not stringify as 'None' inside doc identities
    (doc 22 has NULL source in the fixture)."""
    from scrapontologies_spark.plans import driver_queries as DQ

    subj = [
        r.subj
        for r in DQ.queries()["m5_containment_triples"](spark, adv_dir)
        .collect()
    ]
    assert not any(s.startswith("None/") for s in subj)
    assert "/doc_22" in subj  # NULL source renders as empty prefix


def test_run_job_hostile_corpus_end_to_end_and_resume(spark, tmp_path):
    """The full warehouse job (extract → fold → reconcile → CC canonical →
    schemas → triples) over a corpus where every nullable field is NULL
    somewhere — plus empty/CJK/fence content — must complete, emit sane
    identities (no "None/" doc ids), and RESUME to the identical output
    (the second run must rebuild nothing and read back the same triples)."""
    from pyspark.sql import functions as F

    from scrapontologies_spark.plans.job import run_job
    from scrapontologies_spark.sources.corpus import CORPUS_SCHEMA

    rows = [
        ("r0", "a.py", "c1", "python", "import os\ndef f():\n    return os.path"),
        (None, "b.py", "c1", "python", "class A:\n    pass"),        # NULL repo
        ("r1", None, "c2", None, "def g(): f()"),                    # NULL path+lang
        ("r1", "c.md", None, "markdown", None),                      # NULL content
        ("r2", "d.txt", "c3", "text", ""),                           # empty content
        ("r2", "e.txt", "c3", "text", "的和表快 join query"),          # CJK
        ("r3", "f.py", "c4", "python", "```python\nimport sys\n```"),
    ]
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    wh = str(tmp_path / "wh")
    run_job(spark, corpus, wh, chunk_bytes=64)
    triples1 = spark.read.parquet(f"{wh}/triples")
    got1 = {tuple(r) for r in triples1.collect()}
    assert got1, "hostile corpus produced no triples at all"
    subjects = {r.subj for r in triples1.select("subj").distinct().collect()}
    assert not any(s and "None" in s for s in subjects), subjects
    # a NULL-repo doc keeps its triples: the entity ids and the kernel's
    # triple subjects agree on "/b.py", so referential integrity keeps them
    assert ("/b.py", "defines", "/b.py::A", "defines") in got1, got1
    # the NULL-content doc still has a real extracted row (content treated
    # as "", identity kept — the kernel's visible-degrade contract)
    extracted = spark.read.parquet(f"{wh}/extracted")
    assert extracted.filter(F.col("path") == "c.md").count() >= 1
    # resume: second run over the same warehouse rebuilds nothing and the
    # triples read back identical
    infos2 = run_job(spark, corpus, wh, chunk_bytes=64)
    assert all(i.skipped for i in infos2.values()), {
        k: i.skipped for k, i in infos2.items()
    }
    got2 = {tuple(r) for r in spark.read.parquet(f"{wh}/triples").collect()}
    assert got2 == got1
