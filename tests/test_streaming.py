"""Structured Streaming incremental ingest: two micro-batches of corpus
files must produce exactly the triples of a single batch run over the full
corpus (stateless extraction lifts to streaming; checkpoint resume must not
re-emit processed files)."""

from __future__ import annotations

from scrapontologies_spark.functions.code_gazetteer import document_triples
from scrapontologies_spark.sources.corpus import CORPUS_SCHEMA, corpus_rows
from scrapontologies_spark.streaming.incremental import run_incremental_triples

CHUNK = 512
N = 40


def _expected(rows):
    out = set()
    for repo, path, commit, lang, content in rows:
        out.update(document_triples(repo, path, lang, content, CHUNK))
    return out


def test_incremental_equals_batch(spark, tmp_path):
    rows = corpus_rows(N)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1 arrives
    spark.createDataFrame(rows[: N // 2], CORPUS_SCHEMA).write.mode(
        "append"
    ).parquet(in_dir)
    q = run_incremental_triples(spark, in_dir, out_dir, ckpt, chunk_bytes=CHUNK)
    q.awaitTermination(120)

    got1 = {
        (r.subj, r.pred, r.obj, r.rel_type)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got1 == _expected(rows[: N // 2])

    # batch 2 arrives; restart from the same checkpoint
    spark.createDataFrame(rows[N // 2 :], CORPUS_SCHEMA).write.mode(
        "append"
    ).parquet(in_dir)
    q = run_incremental_triples(spark, in_dir, out_dir, ckpt, chunk_bytes=CHUNK)
    q.awaitTermination(120)

    got2 = {
        (r.subj, r.pred, r.obj, r.rel_type)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got2 == _expected(rows)
    # no duplicate emission across restarts: row count == distinct count
    df = spark.read.parquet(out_dir)
    assert df.count() == df.distinct().count()
