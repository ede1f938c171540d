"""Workload inputs.  Each is made from the seed alone and reaches the program
only as a parquet corpus ``(repo, path, commit, lang, content)``."""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
POOL = os.path.join(HERE, "corpus", "real_files.parquet")
MANIFEST = os.path.join(HERE, "corpus", "manifest.json")

COLUMNS = ("repo", "path", "commit", "lang", "content")

# Synthetic corpus size.  run_job's wall is dominated by its fixed per-stage
# cost (about 24 s warm, 45 s cold on 4 cores, from 800 to 3000 docs), so a
# larger corpus buys no steadier figure, only longer set-up and replay.
SYNTH_DOCS = 1500
# share of day-1 files incremental_merge rewrites under the same (repo, path)
REWRITE_SHARE = 0.2
# share of each language's pool characters real_multichunk samples per seed
SAMPLE_SHARE = 0.5


@dataclass
class Prepared:
    """A workload's corpus plus, for incremental_merge, the day-1 entity
    rows the measured call reconciles against."""

    corpus_path: str
    prev_rows: Optional[list] = None


def rows_table(rows: list, columns=COLUMNS) -> pa.Table:
    return pa.table({c: pa.array(v, pa.string()) for c, v in zip(columns, zip(*rows))})


def write_corpus(rows: list, path: str) -> None:
    """Rows in order, split into one contiguous parquet file per core, so the
    scan gives every core a split."""
    os.makedirs(path)
    table = rows_table(rows)
    n_files = os.cpu_count() or 1
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def read_rows(path: str, columns=COLUMNS) -> list:
    """Rows of a parquet file or directory, in file order; by default the
    corpus exactly as the program reads it."""
    t = pq.read_table(path, columns=list(columns))
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


# ---------------------------------------------------------------- real files


def manifest(rows: list) -> dict:
    """File count, bytes and a sha256 over the sorted ``(repo/path, content
    sha256)`` pairs of corpus rows."""
    pairs = sorted(
        (f"{repo}/{path}", hashlib.sha256(content.encode()).hexdigest())
        for repo, path, _commit, _lang, content in rows
    )
    h = hashlib.sha256()
    for p, digest in pairs:
        h.update(f"{p}\0{digest}\n".encode())
    return {
        "files": len(rows),
        "bytes": sum(len(r[4].encode()) for r in rows),
        "sha256": h.hexdigest(),
    }


def load_pool() -> list:
    """The vendored pool's corpus rows; refuses to go on when they differ
    from the recorded manifest (the same seed must give the same input)."""
    rows = read_rows(POOL)
    with open(MANIFEST) as fh:
        want = json.load(fh)
    got = manifest(rows)
    if got != want:
        raise SystemExit(f"real-file pool differs from {MANIFEST}: recorded {want}, found {got}")
    return rows


def real_multichunk(spark, seed: int, work: str) -> Prepared:
    """A seeded sample of the vendored real-file pool: per language, files
    in a seeded order until ``SAMPLE_SHARE`` of its characters (at least one
    file), so the input size barely moves with the seed; rows in a seeded
    order.  The pool holds the rows
    ``sources.files.corpus_from_files`` read from the source trees."""
    rng = random.Random(seed)
    by_lang: dict = {}
    for row in sorted(load_pool()):
        by_lang.setdefault(row[3], []).append(row)
    rows = []
    for lang in sorted(by_lang):
        pool = by_lang[lang]
        budget = SAMPLE_SHARE * sum(len(r[4]) for r in pool)
        taken = 0
        for row in rng.sample(pool, len(pool)):
            if taken and taken + len(row[4]) > budget:
                break
            rows.append(row)
            taken += len(row[4])
    rng.shuffle(rows)
    corpus = os.path.join(work, "corpus")
    write_corpus(rows, corpus)
    return Prepared(corpus_path=corpus)


# ------------------------------------------------------------ synthetic docs


def synth_small_docs(spark, seed: int, work: str) -> Prepared:
    """``SYNTH_DOCS`` docs of ``sources.corpus`` (5 languages, mostly one
    chunk each, 30% of files in one mega-repo)."""
    from scrapontologies_spark.sources import corpus as synth

    corpus = os.path.join(work, "corpus")
    write_corpus(synth.corpus_rows(SYNTH_DOCS, seed), corpus)
    return Prepared(corpus_path=corpus)


def incremental_merge(spark, seed: int, work: str) -> Prepared:
    """Day 2 of a nightly job: the synth_small_docs corpus of which a seeded
    ``REWRITE_SHARE`` of files is rewritten under the same (repo, path).
    ``prev_rows`` are day 1's entity rows; the benchmark seeds them as the
    warehouse's ``entities_prev`` so the measured call reconciles against
    them."""
    from scrapontologies_spark.sources import corpus as synth

    from replay import replay

    day1 = synth.corpus_rows(SYNTH_DOCS, seed)
    rng = random.Random(seed)
    day2 = []
    for i, (repo, path, commit, lang, content) in enumerate(day1):
        if rng.random() < REWRITE_SHARE:
            content = synth._GEN[lang](random.Random(f"{seed}:{i}:day2"))
            commit = hashlib.sha256(f"{repo}:{path}:{seed}:day2".encode()).hexdigest()[:40]
        day2.append((repo, path, commit, lang, content))
    corpus = os.path.join(work, "corpus")
    write_corpus(day2, corpus)
    return Prepared(corpus_path=corpus, prev_rows=replay(day1).entity_rows)


def seed_entities_prev(root: str, prev_rows: list) -> None:
    """Leave ``prev_rows`` in the warehouse at ``root`` as a completed
    ``entities_prev`` stage, the state a day-1 job leaves behind.  Written
    without Spark: through Spark the write alone costs a cold session about
    15 s, longer than the benchmark's time budget allows.  The marker's
    fingerprint is a sha256 of the rows, not Spark's xxhash64 sum; run_job
    only folds it into the entities stage's resume token."""
    from scrapontologies_spark.sources.io import StageInfo, Warehouse

    wh = Warehouse(root)
    os.makedirs(wh.path("entities_prev"))
    table = rows_table(prev_rows, ("id", "type", "attributes"))
    pq.write_table(table, f"{wh.path('entities_prev')}/part-00000.parquet")
    digest = hashlib.sha256(json.dumps(sorted(prev_rows)).encode()).digest()
    fingerprint = int.from_bytes(digest[:8], "big") >> 1
    wh._commit(StageInfo("entities_prev", len(prev_rows), 0, fingerprint))


WORKLOADS = {
    "synth_small_docs": synth_small_docs,
    "real_multichunk": real_multichunk,
    "incremental_merge": incremental_merge,
}
