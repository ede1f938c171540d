"""M4 — kill-and-resume: a job restarted mid-pipeline must skip completed
stages and produce byte-identical outputs to an uninterrupted run
(SURVEY §5.4; BASELINE north_rule resumability)."""

from __future__ import annotations

import shutil

import pytest

from scrapontologies_spark.plans.job import run_job
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
    # (with_cc is downstream-only and lives in the cc/triples tokens)
    cfg = {
        "chunk_bytes": 512,
        "allowed_kinds": None,
        "allowed_terms": None,
        "with_schemas": True,
    }
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


def test_flag_flip_invalidates_checkpoints(spark, corpus, tmp_path):
    """with_schemas changes the 'extracted' rows themselves, so flipping it
    between runs against the same warehouse must REBUILD, not serve the
    stale checkpoint (which would yield an empty global schema)."""
    root = str(tmp_path / "wh")
    run_job(spark, corpus, root, chunk_bytes=512, with_schemas=False)
    second = run_job(spark, corpus, root, chunk_bytes=512, with_schemas=True)
    assert not second["extracted"].skipped
    assert second["global_schema"].rows > 0


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """write_bucketed co-location: two entity snapshots bucketed on id join
    with NO Exchange on either side — the cross-run reconcile skips both
    corpus-sized shuffles (the parquet stand-in for Iceberg bucket(N, id))."""
    wh = Warehouse(str(tmp_path / "whb"))
    e1 = spark.range(0, 500).selectExpr("concat('e', id) AS id", "'module' AS type")
    e2 = spark.range(250, 750).selectExpr(
        "concat('e', id) AS id", "'module' AS type_new"
    )
    try:
        wh.write_bucketed(e1, "ent_prev_bt", "id", 8)
        wh.write_bucketed(e2, "ent_new_bt", "id", 8)
        prev_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("ent_prev_bt").join(
                spark.table("ent_new_bt"), "id", "full_outer"
            )
            plan = joined._sc._jvm.PythonSQLUtils.explainString(
                joined._jdf.queryExecution(), "formatted"
            )
            assert "Exchange" not in plan, plan
            assert joined.count() == 750
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_conf)
    finally:
        spark.sql("DROP TABLE IF EXISTS ent_prev_bt")
        spark.sql("DROP TABLE IF EXISTS ent_new_bt")


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
    """One warehouse commit launches at most 4 Spark jobs: the data write
    (a shuffle stage + the write) and ONE read-back aggregate (a shuffle
    stage + the collect).  Lineage and metrics are written by the driver,
    and the read-back uses the written schema and is the DataFrame
    run_stage returns, so no schema-inference job, no second read and no
    Python-worker job remains."""
    import os

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(1000).repartition(4)
    sc = spark.sparkContext
    group = f"commit-budget-{os.getpid()}"
    sc.setJobGroup(group, "one warehouse commit")
    try:
        _, info = wh.run_stage(spark, "s", lambda: df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert info.rows == 1000
    assert len(wh.lineage(spark).collect()) == 4  # multi-file stage
    assert len(jobs) <= 4, sorted(jobs)


def test_salted_reconcile_job_stage_equivalence(spark, corpus, tmp_path):
    """north_star skew mandate: the entity reconcile join runs salted in the
    REAL job when entities_prev exists, and salted == plain on the job
    stage's own fingerprint (order-independent modular sum of row hashes)."""
    from pyspark.sql import functions as F

    seed_root = str(tmp_path / "seed")
    run_job(spark, corpus, seed_root, chunk_bytes=512, with_cc=False,
            with_schemas=False)
    prev = (
        Warehouse(seed_root)
        .read_stage(spark, "entities")
        .withColumn("attributes", F.lit('{"seen":"before"}'))
        .persist()
    )
    prev.count()

    results = {}
    for mode, s in [("salted", 8), ("plain", 0), ("default", None)]:
        root = str(tmp_path / mode)
        wh = Warehouse(root)
        wh.run_stage(spark, "entities_prev", lambda: prev)
        infos = run_job(spark, corpus, root, chunk_bytes=512, with_cc=False,
                        with_schemas=False, salt=s)
        results[mode] = (infos["entities"].rows, infos["entities"].fingerprint)
    # salted (explicit and default-on) and plain produce identical outputs
    assert results["salted"] == results["plain"] == results["default"]
    # the reconcile really ran: merged rows beyond the seed's entity count
    assert results["salted"][0] >= prev.count()
    prev.unpersist()


def test_metrics_lineage_rows(spark, corpus, tmp_path):
    root = str(tmp_path / "wh")
    infos = run_job(spark, corpus, root, chunk_bytes=512, with_schemas=True)
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
    infos = run_job(spark, corpus, root, chunk_bytes=512, with_schemas=True)
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
    first = run_job(spark, corpus, root, chunk_bytes=512, with_cc=False,
                    with_schemas=False)
    filtered = run_job(spark, corpus, root, chunk_bytes=512, with_cc=False,
                       with_schemas=False, allowed_kinds=frozenset({"import"}))
    assert not filtered["extracted"].skipped
    assert filtered["triples_raw"].rows < first["triples_raw"].rows
    # and an identical re-run of the filtered config IS skipped again
    again = run_job(spark, corpus, root, chunk_bytes=512, with_cc=False,
                    with_schemas=False, allowed_kinds=frozenset({"import"}))
    assert all(info.skipped for info in again.values())
    assert again["triples_raw"].fingerprint == filtered["triples_raw"].fingerprint


def test_fingerprint_detects_even_multiplicity_swaps(spark, tmp_path):
    """{A,A,C} and {B,B,C} must fingerprint differently — a xor of row
    hashes cancels even-multiplicity rows and cannot tell these apart,
    which is exactly the duplication-bug class a dedup engine must catch."""
    wh = Warehouse(str(tmp_path / "whf"))
    aac = spark.createDataFrame([("A",), ("A",), ("C",)], "v string")
    bbc = spark.createDataFrame([("B",), ("B",), ("C",)], "v string")
    f1 = wh.write_stage(aac, "aac").fingerprint
    f2 = wh.write_stage(bbc, "bbc").fingerprint
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
                 chunk_bytes=512, with_cc=False, with_schemas=False)
    r2 = run_job(spark, corpus, str(tmp_path / "wh_b"),
                 chunk_bytes=512, with_cc=False, with_schemas=False)
    assert {k: v.fingerprint for k, v in r1.items()} == {
        k: v.fingerprint for k, v in r2.items()
    }


def test_partition_layout_change_rebuilds_stage(spark, tmp_path):
    """run_stage's resume token covers partition_by: the stage's on-disk
    LAYOUT is part of its output (pruning, bucketed-join co-location), so
    re-running with a different partitioning must rebuild — not silently
    serve the old layout."""
    import os

    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("lang")
    )
    _, info1 = wh.run_stage(spark, "s", lambda: df, config={"k": 1})
    assert not info1.skipped

    # same config, same builder, NEW layout -> rebuild
    _, info2 = wh.run_stage(
        spark, "s", lambda: df, partition_by=["lang"], config={"k": 1}
    )
    assert not info2.skipped
    assert any(
        name.startswith("lang=")
        for name in os.listdir(os.path.join(str(tmp_path / "wh"), "s"))
    )

    # identical layout + config -> skipped
    _, info3 = wh.run_stage(
        spark, "s", lambda: df, partition_by=["lang"], config={"k": 1}
    )
    assert info3.skipped
    assert info3.fingerprint == info2.fingerprint


def test_seeding_entities_prev_invalidates_entities_stage(spark, corpus, tmp_path):
    """Writing (or replacing) an entities_prev table between otherwise
    identical runs changes the reconcile's output, so the 'entities' stage
    and everything downstream must REBUILD — with entities_prev excluded
    from the token, the second run would silently skip the merge.  The
    extraction stage, which does not depend on it, stays skipped."""
    root = str(tmp_path / "wh")
    first = run_job(spark, corpus, root, chunk_bytes=512, with_cc=False,
                    with_schemas=False)

    from pyspark.sql import functions as F

    wh = Warehouse(root)
    prev = (
        wh.read_stage(spark, "entities")
        .limit(5)
        .withColumn("attributes", F.lit('{"seen":"before"}'))
    )
    wh.run_stage(spark, "entities_prev", lambda: prev)

    second = run_job(spark, corpus, root, chunk_bytes=512, with_cc=False,
                     with_schemas=False)
    assert second["extracted"].skipped          # extraction untouched
    assert not second["entities"].skipped       # reconcile actually ran
    assert not second["triples"].skipped
    assert second["entities"].fingerprint != first["entities"].fingerprint


def test_cc_flip_rebuilds_triples_but_not_extraction(spark, corpus, tmp_path):
    """with_cc changes only canonicalization and the final triples; flipping
    it must NOT re-run the mapInPandas extraction (the 100 TB hot path) —
    but must rebuild 'triples', whose rows it changes."""
    root = str(tmp_path / "wh")
    run_job(spark, corpus, root, chunk_bytes=512, with_cc=False,
            with_schemas=False)
    second = run_job(spark, corpus, root, chunk_bytes=512, with_cc=True,
                     with_schemas=False)
    assert second["extracted"].skipped
    assert second["triples_raw"].skipped
    assert second["entities"].skipped
    assert not second["triples"].skipped


def test_aborted_rebuild_cannot_serve_half_rebuilt_data(spark, tmp_path):
    """write_stage must invalidate the old marker BEFORE overwriting the
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


def test_generator_partition_by_still_partitions(spark, tmp_path):
    """A generator partition_by is legal per the Iterable hint; it must be
    materialized once — consumed-by-the-token-then-falsy would silently
    write unpartitioned while the token records the requested layout."""
    import os

    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("lang")
    )
    wh.run_stage(spark, "s", lambda: df,
                 partition_by=(c for c in ["lang"]), config={"k": 1})
    subdirs = {d for d in os.listdir(wh.path("s")) if d.startswith("lang=")}
    assert subdirs == {"lang=0", "lang=1"}


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
