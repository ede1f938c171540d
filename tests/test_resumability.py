"""M4 — kill-and-resume: a job restarted mid-pipeline must skip completed
stages and produce byte-identical outputs to an uninterrupted run
(SURVEY §5.4; BASELINE north_rule resumability)."""

from __future__ import annotations

import shutil
import threading

import pytest

from scrapontologies_spark.plans.job import STAGES, run_job
from scrapontologies_spark.sources import io as wh_io
from scrapontologies_spark.sources.corpus import corpus_df
from scrapontologies_spark.sources.io import Warehouse


@pytest.fixture()
def corpus(spark):
    return corpus_df(spark, 60).persist()


def test_resume_skips_and_matches(spark, corpus, tmp_path):
    clean_root = str(tmp_path / "clean")
    resumed_root = str(tmp_path / "resumed")

    # uninterrupted run
    clean = run_job(spark, corpus, clean_root, chunk_bytes=512)

    # interrupted run: execute only the first stages, then "crash" — the
    # SAME job config as the restart, so the marker's config token matches
    wh = Warehouse(resumed_root)
    from scrapontologies_spark.operators.extract import extract_document_rows

    # the 'extracted' stage's token carries extraction parameters ONLY
    # (the entities_prev state lives in the downstream tokens)
    cfg = {"chunk_bytes": 512, "allowed_kinds": None, "allowed_terms": None}
    wh.run_stage(
        spark, "extracted", lambda: extract_document_rows(corpus, 512), config=cfg
    )
    assert wh.is_complete("extracted")

    # restart from scratch: extraction must be skipped, everything else computed
    resumed = run_job(spark, corpus, resumed_root, chunk_bytes=512)
    assert resumed["extracted"].skipped
    assert not clean["extracted"].skipped

    for stage in clean:
        assert clean[stage].rows == resumed[stage].rows, stage
        assert clean[stage].fingerprint == resumed[stage].fingerprint, stage


def test_rerun_everything_skipped(spark, corpus, tmp_path):
    root = str(tmp_path / "wh")
    first = run_job(spark, corpus, root, chunk_bytes=512)
    second = run_job(spark, corpus, root, chunk_bytes=512)
    assert all(info.skipped for info in second.values())
    assert {k: v.fingerprint for k, v in first.items()} == {
        k: v.fingerprint for k, v in second.items()
    }


def test_format_switch_orc_runs_and_resumes(spark, corpus, tmp_path):
    """The warehouse format is a config switch (parquet locally, Iceberg on
    a cluster with its jars) — prove the switch is real by running and
    resuming the whole job on a DIFFERENT builtin format (orc) with
    identical stage fingerprints."""
    root = str(tmp_path / "wh_orc")
    first = run_job(spark, corpus, root, chunk_bytes=512, fmt="orc")
    import os

    assert any(f.endswith(".orc") for f in os.listdir(f"{root}/extracted"))
    second = run_job(spark, corpus, root, chunk_bytes=512, fmt="orc")
    assert all(info.skipped for info in second.values())
    assert {k: v.fingerprint for k, v in first.items()} == {
        k: v.fingerprint for k, v in second.items()
    }
    # the side tables are driver-written parquet whatever the stage format,
    # and still sum to each stage's StageInfo
    wh = Warehouse(root, "orc")
    metrics = {r.stage: r for r in wh.metrics(spark).collect()}
    lineage: dict = {}
    for r in wh.lineage(spark).collect():
        lineage.setdefault(r.stage, []).append(r)
    assert set(metrics) == set(lineage) == set(first)
    for stage, info in first.items():
        assert (metrics[stage].rows, metrics[stage].fingerprint) == (
            info.rows, info.fingerprint
        ), stage
        assert sum(r.rows for r in lineage[stage]) == info.rows, stage
        assert sum(r.fingerprint for r in lineage[stage]) % 2 ** 63 == info.fingerprint, stage


def test_commit_spark_job_budget(spark, tmp_path):
    """One warehouse commit launches at most 2 Spark jobs: the data write
    (a shuffle stage + the write).  The rows and fingerprint are observed
    inside the write, the metrics row and marker are written by the
    driver, the read-back uses the written schema and lineage is computed
    only when read, so the commit adds no job of its own."""
    import os

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(1000).repartition(4)
    sc = spark.sparkContext
    group = f"commit-budget-{os.getpid()}"
    sc.setJobGroup(group, "one warehouse commit")
    try:
        _, info = wh.run_stage(spark, "s", lambda: df)
        # the marker and the _metrics row exist the moment run_stage returns
        assert wh.is_complete("s")
        assert os.path.exists(f"{wh.root}/_metrics/stage=s/part-00000.parquet")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert info.rows == 1000
    assert len(wh.lineage(spark).collect()) == 4  # multi-file stage
    assert len(jobs) <= 2, sorted(jobs)


def test_lineage_is_read_from_the_files_and_shows_drift(spark, tmp_path):
    """Lineage is aggregated from the stage files when read, while the
    marker holds what the write observed: once a data file is replaced
    with other rows after the commit, the lineage no longer sums to the
    marker's fingerprint."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = Warehouse(str(tmp_path / "wh"))
    _, info = wh.run_stage(spark, "s", lambda: spark.range(1000).repartition(4))

    def lineage_sums():
        rows = wh.lineage(spark).collect()
        return sum(r.rows for r in rows), sum(r.fingerprint for r in rows) % 2 ** 63

    assert lineage_sums() == (info.rows, info.fingerprint)
    first = sorted(f for f in os.listdir(wh.path("s")) if f.endswith(".parquet"))[0]
    os.remove(f"{wh.path('s')}/.{first}.crc")  # Hadoop's checksum of the old file
    pq.write_table(
        pa.table({"id": pa.array(range(5000, 5010), pa.int64())}),
        f"{wh.path('s')}/{first}",
    )
    meta = wh._read_marker("s")
    assert (meta["rows"], meta["fingerprint"]) == (info.rows, info.fingerprint)
    assert lineage_sums()[1] != meta["fingerprint"]


def test_empty_stage_commits_zero_rows_and_fingerprint(spark, tmp_path):
    """A stage of no rows commits rows=0 and fingerprint=0 (the observed
    sum is NULL) and has no lineage rows."""
    wh = Warehouse(str(tmp_path / "wh"))
    _, info = wh.run_stage(spark, "empty", lambda: spark.range(10).filter("id < 0"))
    assert (info.rows, info.fingerprint) == (0, 0)
    meta = wh._read_marker("empty")
    assert (meta["rows"], meta["fingerprint"]) == (0, 0)
    (m,) = wh.metrics(spark).collect()
    assert (m.stage, m.rows, m.fingerprint) == ("empty", 0, 0)
    assert wh.lineage(spark).collect() == []


def test_salted_reconcile_job_stage_equivalence(spark, corpus, tmp_path):
    """north_star skew mandate: the REAL job reconciles against an
    entities_prev table through the salted join, and its 'entities' stage
    equals the pure-Python reconcile (semantics.reconcile_entities) over
    the collected prev / new rows of the same 'extracted' (ids are unique
    on each side)."""
    import json

    from pyspark.sql import functions as F

    from scrapontologies_spark.functions.semantics import (
        Entity,
        canonical_json,
        reconcile_entities,
    )
    from scrapontologies_spark.operators.extract import (
        extract_document_rows,
        module_entities_view,
        symbol_entities_view,
    )

    def entities_of(doc_rows):
        return (
            module_entities_view(doc_rows)
            .select("id", "type", "attributes")
            .unionByName(symbol_entities_view(doc_rows))
        )

    def as_entities(df):
        return [
            Entity(r.id, r.type, json.loads(r.attributes) if r.attributes else {})
            for r in df.collect()
        ]

    prev = (
        entities_of(extract_document_rows(corpus, 512))
        .withColumn("attributes", F.lit('{"seen":"before"}'))
        .persist()
    )
    n_prev = prev.count()

    wh = Warehouse(str(tmp_path / "wh"))
    wh.run_stage(spark, "entities_prev", lambda: prev)
    infos = run_job(spark, corpus, wh.root, chunk_bytes=512)
    prev_ents = as_entities(prev)
    new_ents = as_entities(entities_of(wh.read_stage(spark, "extracted")))
    assert len({e.id for e in prev_ents}) == len(prev_ents)
    assert len({e.id for e in new_ents}) == len(new_ents)
    expected = sorted(
        (e.id, e.type, canonical_json(e.attributes))
        for e in reconcile_entities(prev_ents, new_ents)
    )
    got = sorted(map(tuple, wh.read_stage(spark, "entities").collect()))
    assert got == expected
    # the reconcile really ran: merged rows beyond the seed's entity count
    assert infos["entities"].rows == len(got) >= n_prev
    prev.unpersist()

def test_metrics_lineage_rows(spark, corpus, tmp_path):
    root = str(tmp_path / "wh")
    infos = run_job(spark, corpus, root, chunk_bytes=512)
    m = Warehouse(root).metrics(spark)
    stages = {r.stage for r in m.collect()}
    assert stages == set(infos.keys())
    rows = {r.stage: r.rows for r in m.collect()}
    assert rows["extracted"] == infos["extracted"].rows


def test_per_partition_lineage_consistent_with_metrics(spark, corpus, tmp_path):
    """north_rule: per-partition lineage rows — one per checkpoint file,
    whose counts sum (and whose modular hash-sums combine) to the stage
    metrics row."""
    root = str(tmp_path / "wh")
    infos = run_job(spark, corpus, root, chunk_bytes=512)
    wh = Warehouse(root)
    lin = wh.lineage(spark).collect()
    by_stage: dict = {}
    for r in lin:
        by_stage.setdefault(r.stage, []).append(r)
    for stage, info in infos.items():
        rows = by_stage[stage]
        assert all(r.file for r in rows)
        assert sum(r.rows for r in rows) == info.rows, stage
        assert sum(r.fingerprint for r in rows) % 2 ** 63 == info.fingerprint, stage
    # multi-partition stage really has >1 lineage row (per-partition, not
    # per-stage)
    assert len(by_stage["extracted"]) > 1


def test_config_mismatch_rebuilds_stage(spark, corpus, tmp_path):
    """Re-running against the same warehouse with a DIFFERENT extraction
    filter must rebuild, not serve the stale checkpoint (the resume marker
    carries a config token)."""
    root = str(tmp_path / "wh")
    first = run_job(spark, corpus, root, chunk_bytes=512)
    imports = frozenset({"import"})
    filtered = run_job(spark, corpus, root, chunk_bytes=512, allowed_kinds=imports)
    assert not filtered["extracted"].skipped
    assert filtered["triples"].rows < first["triples"].rows
    # and an identical re-run of the filtered config IS skipped again
    again = run_job(spark, corpus, root, chunk_bytes=512, allowed_kinds=imports)
    assert all(info.skipped for info in again.values())
    assert again["triples"].fingerprint == filtered["triples"].fingerprint


def test_fingerprint_detects_even_multiplicity_swaps(spark, tmp_path):
    """{A,A,C} and {B,B,C} must fingerprint differently — a xor of row
    hashes cancels even-multiplicity rows and cannot tell these apart,
    which is exactly the duplication-bug class a dedup engine must catch."""
    wh = Warehouse(str(tmp_path / "whf"))
    aac = spark.createDataFrame([("A",), ("A",), ("C",)], "v string")
    bbc = spark.createDataFrame([("B",), ("B",), ("C",)], "v string")
    f1 = wh.run_stage(spark, "aac", lambda: aac)[1].fingerprint
    f2 = wh.run_stage(spark, "bbc", lambda: bbc)[1].fingerprint
    assert f1 != f2


def test_remote_warehouse_root_rejected(tmp_path):
    """The manifest is driver-local POSIX; a remote root must fail fast
    instead of silently decoupling resume state from data."""
    with pytest.raises(NotImplementedError):
        Warehouse("s3://bucket/wh")
    Warehouse(str(tmp_path / "ok"))  # local path fine


def test_job_cli_corpus_parquet_flag(spark, tmp_path):
    """--corpus reads a real parquet corpus (input_hint shape) instead of
    synthesizing one — the parser accepts it and run_job consumes it."""
    from scrapontologies_spark.plans.job import _arg_parser

    args = _arg_parser().parse_args(["/tmp/wh", "--corpus", "/data/corpus.parquet"])
    assert args.corpus == "/data/corpus.parquet"
    # end-to-end: a parquet corpus drives run_job identically to the
    # in-memory frame it was written from
    corpus = corpus_df(spark, 30)
    cpath = str(tmp_path / "corpus_pq")
    corpus.write.mode("overwrite").parquet(cpath)
    r1 = run_job(spark, spark.read.parquet(cpath), str(tmp_path / "wh_a"),
                 chunk_bytes=512)
    r2 = run_job(spark, corpus, str(tmp_path / "wh_b"), chunk_bytes=512)
    assert {k: v.fingerprint for k, v in r1.items()} == {
        k: v.fingerprint for k, v in r2.items()
    }


def test_seeding_entities_prev_invalidates_entities_stage(spark, corpus, tmp_path):
    """Writing (or replacing) an entities_prev table between otherwise
    identical runs changes the reconcile's output, so the 'entities' stage
    and everything downstream must REBUILD — with entities_prev excluded
    from the token, the second run would silently skip the merge.  The
    extraction stage, which does not depend on it, stays skipped."""
    root = str(tmp_path / "wh")
    first = run_job(spark, corpus, root, chunk_bytes=512)

    from pyspark.sql import functions as F

    wh = Warehouse(root)
    prev = (
        wh.read_stage(spark, "entities")
        .limit(5)
        .withColumn("attributes", F.lit('{"seen":"before"}'))
    )
    wh.run_stage(spark, "entities_prev", lambda: prev)

    second = run_job(spark, corpus, root, chunk_bytes=512)
    assert second["extracted"].skipped          # extraction untouched
    assert not second["entities"].skipped       # reconcile actually ran
    assert not second["triples"].skipped
    assert second["global_schema"].skipped      # schema chain does not read it
    assert second["entities"].fingerprint != first["entities"].fingerprint


def test_aborted_rebuild_cannot_serve_half_rebuilt_data(spark, tmp_path):
    """run_stage must invalidate the old marker BEFORE overwriting the
    data: a rebuild under config B that crashes mid-write would otherwise
    leave config A's marker pointing at B's half-written data — a re-run
    under A would then skip and serve it."""
    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(10)
    _, info = wh.run_stage(spark, "s", lambda: df, config={"v": "A"})
    assert wh.is_complete("s")

    class Boom(RuntimeError):
        pass

    # a crash in build() itself leaves the data untouched, so A's marker
    # legitimately survives and an A re-run still skips
    with pytest.raises(Boom):
        wh.run_stage(spark, "s", lambda: (_ for _ in ()).throw(Boom()),
                     config={"v": "B"})
    _, info2 = wh.run_stage(spark, "s", lambda: df, config={"v": "A"})
    assert info2.skipped  # A's marker + data still intact

    # a crash in the WRITE path (after invalidation, mid-overwrite) must
    # leave the stage incomplete for BOTH tokens — emulate by failing the
    # save() itself (patch the CONCRETE DataFrame class: in Spark 4 the
    # public pyspark.sql.DataFrame is an abstract base whose `write` the
    # classic subclass overrides)
    cls = type(df)
    real_write = cls.write

    class _DyingWriter:
        def __getattr__(self, _):
            raise Boom()

    try:
        cls.write = property(lambda self: _DyingWriter())
        with pytest.raises(Boom):
            wh.run_stage(spark, "s", lambda: df, config={"v": "B"})
    finally:
        cls.write = real_write
    assert not wh.is_complete("s")  # stale marker cannot serve anything


def test_file_uri_warehouse_root_resolves_to_posix(spark, tmp_path):
    """A file: URI root must put the manifest at the SAME location as the
    data (POSIX resolution), not under a cwd-relative 'file:' directory —
    otherwise resume state and data silently decouple across cwds."""
    import os

    posix_root = str(tmp_path / "wh_uri")
    wh = Warehouse("file://" + posix_root)
    assert wh.root == posix_root
    assert os.path.isdir(os.path.join(posix_root, "_manifest"))
    wh.run_stage(spark, "s", lambda: spark.range(5), config={"k": 1})
    assert os.path.exists(os.path.join(posix_root, "_manifest", "s.json"))
    # a second Warehouse over the plain path sees the same completed stage
    assert Warehouse(posix_root).is_complete("s")
    with pytest.raises(NotImplementedError):
        Warehouse("file://otherhost/data/wh")


# --- the concurrent stage DAG and inline commits ----------------------------

# the stages each stage reads (run_job's DAG)
_READS = {
    "entities": {"extracted"},
    "alias_labels": {"entities"},
    "entities_canonical": {"entities", "alias_labels"},
    "triples": {"extracted", "alias_labels", "entities_canonical"},
    "global_schema": {"extracted"},
    "containment_triples": {"global_schema"},
}


def _fingerprints(infos):
    return {name: (i.rows, i.fingerprint) for name, i in infos.items()}


@pytest.fixture(scope="module")
def clean_fingerprints(spark, tmp_path_factory):
    """Stage rows and fingerprints of an undisturbed run over the corpus
    fixture's rows."""
    corpus = corpus_df(spark, 60)
    root = str(tmp_path_factory.mktemp("clean") / "wh")
    return _fingerprints(run_job(spark, corpus, root, chunk_bytes=512))


def _job_threads():
    return [t.name for t in threading.enumerate()
            if t.name.startswith("run_job")]


def test_schema_chain_overlaps_entity_chain(spark, corpus, tmp_path, monkeypatch):
    """The schema chain does not wait for the entity chain: global_schema
    starts before entities ends.  ``entities`` gives it 30 s to start — a
    sequential DAG reaches global_schema only after ``triples``."""
    events = []
    schemas_started = threading.Event()

    def observer(stage, event):
        events.append((stage, event))
        if (stage, event) == ("global_schema", "start"):
            schemas_started.set()
        if (stage, event) == ("entities", "start"):
            schemas_started.wait(timeout=30)

    monkeypatch.setattr(wh_io, "stage_observer", observer)
    run_job(spark, corpus, str(tmp_path / "wh"), chunk_bytes=512)
    assert events.index(("global_schema", "start")) < events.index(("entities", "end"))


def test_markers_land_after_the_markers_of_their_inputs(
    spark, corpus, tmp_path, monkeypatch
):
    order = []
    real = Warehouse._commit

    def recording(self, info, config_token=None):
        real(self, info, config_token)
        order.append(info.name)

    monkeypatch.setattr(Warehouse, "_commit", recording)
    root = tmp_path / "wh"
    infos = run_job(spark, corpus, str(root), chunk_bytes=512)
    assert tuple(infos) == STAGES
    assert sorted(order) == sorted(infos) == sorted(["extracted", *_READS])
    # the per-document kind filters of `extracted` are views, not stages
    for view in ("triples_raw", "doc_entities", "doc_schemas"):
        assert not (root / view).exists(), view
        assert not (root / "_manifest" / f"{view}.json").exists(), view
    for stage, inputs in _READS.items():
        for inp in inputs:
            assert order.index(inp) < order.index(stage), (inp, stage, order)


def test_failing_branch_raises_and_keeps_completed_stages(
    spark, corpus, tmp_path, monkeypatch, clean_fingerprints
):
    """A build that raises in the schema chain fails the job with that
    error once the other branches and every pending commit are done.
    Stages already written keep valid markers, and a rerun skips them and
    ends where a clean run does."""
    import scrapontologies_spark.plans.job as job_mod

    class Boom(RuntimeError):
        pass

    def boom(_schema_rows):
        raise Boom("global schema")

    root = str(tmp_path / "wh")
    monkeypatch.setattr(job_mod, "global_schema", boom)
    with pytest.raises(Boom):
        run_job(spark, corpus, root, chunk_bytes=512)
    assert not _job_threads()
    monkeypatch.undo()

    wh = Warehouse(root)
    done = {s for s in clean_fingerprints if wh.is_complete(s)}
    assert {"extracted"} <= done
    assert not done & {"global_schema", "containment_triples"}
    for s in done:
        meta = wh._read_marker(s)
        assert (meta["rows"], meta["fingerprint"]) == clean_fingerprints[s], s

    rerun = run_job(spark, corpus, root, chunk_bytes=512)
    assert {s for s, i in rerun.items() if i.skipped} == done
    assert _fingerprints(rerun) == clean_fingerprints
