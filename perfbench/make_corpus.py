#!/usr/bin/env python3
"""Rebuild, or check, the vendored real-file pool of ``real_multichunk``.

Usage (from the repository root):
    python3 perfbench/make_corpus.py           # rebuild the pool
    python3 perfbench/make_corpus.py --check   # exit 1 if the trees changed

Reads source trees installed with the toolchain (pyspark, npm, the Linux
UAPI headers, Spark's examples, scripts and Dockerfiles, and pygments'
example files) through ``sources.files.corpus_from_files``, and writes the
corpus rows it returns to ``perfbench/corpus/real_files.parquet`` together
with ``manifest.json``.  The benchmark reads only the vendored rows, so a run
never depends on what is installed outside its checkout, and it refuses to
run when the rows no longer match the manifest.

Selection is deterministic: within each tree, files of 64 B to 64 KiB whose
extension the engine routes are ordered by the sha256 of their relative path
and taken until the tree's byte cap is reached.  The caps keep the pool near
4 MB: a run samples a share of it, which the kernel replay and output check
cover in a few seconds, while run_job's wall is set by its fixed per-stage
cost.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyarrow.parquet as pq  # noqa: E402
from inputs import COLUMNS, MANIFEST, POOL, manifest, rows_table  # noqa: E402
from scrapontologies_spark.sources.files import EXT_LANG  # noqa: E402

MIN_BYTES, MAX_BYTES = 64, 64 * 1024

def trees() -> list:
    """(tree name, which becomes the rows' repo; glob of its root; byte cap),
    located from SPARK_HOME and the npm and conda executables on PATH."""
    spark = os.environ.get("SPARK_HOME") or sys.exit("SPARK_HOME is not set")
    npm = shutil.which("npm") or sys.exit("npm is not on PATH")
    conda = shutil.which("conda") or sys.exit("conda is not on PATH")
    npm_root = os.path.dirname(os.path.dirname(os.path.realpath(npm)))
    conda_pkgs = os.path.join(os.path.dirname(os.path.dirname(conda)), "pkgs")
    return [
        ("pyspark", f"{spark}/python/pyspark", 1_400_000),
        ("npm", npm_root, 1_000_000),
        ("linux-include", "/usr/include/linux", 500_000),
        ("spark-examples", f"{spark}/examples/src/main", 600_000),
        ("spark-sbin", f"{spark}/sbin", 200_000),
        ("spark-dockerfiles", f"{spark}/kubernetes/dockerfiles", 50_000),
        (
            "pygments-examplefiles",
            f"{conda_pkgs}/pygments-2.*/info/test/tests/examplefiles",
            800_000,
        ),
    ]


def pick(root: str, cap: int) -> dict:
    """``{relpath: bytes}`` of the tree's selected files."""
    cands = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            full = os.path.join(dirpath, f)
            # Spark's file listing hides names starting with "_" or ".", so
            # corpus_from_files never reads them (every __init__.py is lost)
            ext = f.rsplit(".", 1)[-1].lower()
            if os.path.islink(full) or f[0] in "_." or ext not in EXT_LANG:
                continue
            if MIN_BYTES <= os.path.getsize(full) <= MAX_BYTES:
                rel = os.path.relpath(full, root)
                cands.append((hashlib.sha256(rel.encode()).hexdigest(), rel, full))
    out, total = {}, 0
    for _h, rel, full in sorted(cands):
        with open(full, "rb") as fh:
            data = fh.read()
        if total + len(data) <= cap:
            out[rel] = data
            total += len(data)
    return out


def read_trees(spark, src: str) -> list:
    """Copy each tree's selected files under ``src`` and read them all back
    through corpus_from_files, one repo per tree."""
    from pyspark.sql import DataFrame

    from scrapontologies_spark.sources.files import corpus_from_files

    n_files = 0
    for name, pattern, cap in trees():
        roots = sorted(glob.glob(pattern))
        if not roots:
            sys.exit(f"source tree not found: {pattern}")
        picked = pick(roots[-1], cap)
        print(f"{name}: {len(picked)} files, {sum(map(len, picked.values()))} B")
        n_files += len(picked)
        for rel, data in picked.items():
            dest = os.path.join(src, name, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            with open(dest, "wb") as fh:
                fh.write(data)
    frames = [
        corpus_from_files(spark, os.path.join(src, name), repo=name).select(*COLUMNS)
        for name in sorted(os.listdir(src))
    ]
    rows = sorted(tuple(r) for r in functools.reduce(DataFrame.unionByName, frames).collect())
    if len(rows) != n_files:
        sys.exit(f"corpus_from_files read {len(rows)} of the {n_files} selected files")
    return rows


def main() -> None:
    from scrapontologies_spark.session import build_session

    check = sys.argv[1:] == ["--check"]
    tmp = tempfile.mkdtemp()
    spark = build_session(app_name="make_corpus", master="local[2]")
    try:
        rows = read_trees(spark, os.path.join(tmp, "src"))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    got = manifest(rows)
    if check:
        with open(MANIFEST) as fh:
            want = json.load(fh)
        if got != want:
            sys.exit(f"source trees differ from {MANIFEST}: recorded {want}, found {got}")
        print("source trees match the manifest")
        return
    pq.write_table(rows_table(rows), POOL, compression="zstd")
    with open(MANIFEST, "w") as fh:
        json.dump(got, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {POOL} ({os.path.getsize(POOL)} B)")


if __name__ == "__main__":
    main()
