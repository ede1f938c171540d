"""Warehouse: stage-checkpointed storage + lineage metrics + resume.

The reference mutates parser-global state in place with no checkpointing
(SURVEY §4: failure handling = skip/raise/retry, no resume).  At corpus
scale every stage boundary instead writes a table + a manifest marker, so a
restarted job skips completed stages and produces identical output
(BASELINE north_rule: "resumable from checkpoint with per-partition
lineage + metrics").

Format: parquet in this sandbox; the writer goes through ``format(...)`` so
an Iceberg catalog (``df.writeTo(table).using("iceberg")``) is a config
switch, not a rewrite — no Iceberg jars ship in this container.

Metrics: one row per completed stage (rows, wall_ms, fingerprint) under
``_metrics/stage=<name>``; fingerprint is an order-independent MODULAR SUM
of row hashes (Σ xxhash64(row) mod 2⁶³), so cross-run output equality is
checkable without a diff.  Sum, not xor: xor cancels rows with even
multiplicity, so {A,A,C} and {B,B,C} would collide — exactly the
duplication bugs a dedup engine's fingerprint must catch.

Lineage: one row per checkpoint FILE (file, rows, fingerprint) — the
per-partition lineage rows of the north_rule.  The file is the durable
partition unit (what a restarted reader re-reads).

A commit runs no Spark action of its own.  The stage totals are observed
inside the write: the written frame carries a ``df.observe`` of the row
count and the decimal Σ xxhash64(row), so the write job itself reports
them, over exactly the rows it wrote.  The ``_metrics`` row — driver-written
parquet whatever the stage ``fmt``, atomically (tmp file + ``os.replace``)
and overwritten per attempt — and then the driver-local manifest marker
are written before ``run_stage`` returns, so a stage's marker always lands
after the markers of the stages it read.  ``wall_ms`` runs from the
write's start to the marker commit.  Lineage is computed on read:
:meth:`Warehouse.lineage` aggregates the committed stages' files per
``input_file_name()`` when called, off the write path, so at scale a
commit never re-scans a stage.  Callers may run stages from several
threads at once (``plans/job.py`` does), so ``stage_observer`` is called
from several threads, with overlapping spans.

Resume is guarded by a CONFIG TOKEN: ``run_stage(..., config=...)`` stores
a canonical-JSON token in the stage marker and rebuilds when the stored
token differs — re-running a job with changed parameters (filters,
chunking) cannot silently serve a stale checkpoint.  The token covers
declared parameters only; the warehouse root is per-corpus by contract
(input data is snapshot-immutable, as on Iceberg).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from functools import reduce
from typing import Callable, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class StageInfo:
    name: str
    rows: int
    wall_ms: int
    fingerprint: int
    skipped: bool = False


_FP_MOD = 2 ** 63
_METRICS_SCHEMA = pa.schema(
    [("rows", pa.int64()), ("wall_ms", pa.int64()), ("fingerprint", pa.int64())]
)


def _hash_sum(columns: list):
    """Σ xxhash64(row) over ``columns``, summed as decimal so the bigint
    sum cannot overflow under ANSI mode; NULL over no rows."""
    return F.sum(F.xxhash64(*columns).cast("decimal(38,0)")).alias("hash_sum")


# Optional hook: called as stage_observer(stage_name, "start"|"end") around
# every non-skipped stage's build, write and commit, in the thread that
# runs it.  run_job runs stages on several threads, so calls come from
# several threads and spans overlap.
# Diagnostics only (the sf1 bench installs a heap sampler here to
# attribute driver-JVM peaks per stage); the job's behavior must never
# depend on it.
stage_observer: Optional[Callable[[str, str], None]] = None


def _config_token(config) -> Optional[str]:
    """Canonical-JSON token for a stage's declared parameters (frozensets
    and sets serialize as sorted lists; None → no token)."""
    if config is None:
        return None

    def default(o):
        if isinstance(o, (set, frozenset)):
            return sorted(o)
        raise TypeError(f"unserializable config value: {o!r}")

    return json.dumps(config, sort_keys=True, default=default)


class Warehouse:
    def __init__(self, root: str, fmt: str = "parquet"):
        if "://" in root and not root.startswith("file:"):
            # manifest markers use driver-local POSIX I/O; a remote root
            # would silently decouple resume state from the data.  At
            # cluster scale the sanctioned storage layer is an Iceberg
            # catalog (SURVEY §1.4), not this local-FS warehouse.
            raise NotImplementedError(
                f"non-local warehouse root {root!r}: the manifest is "
                "driver-local; use an Iceberg catalog for remote storage"
            )
        if root.startswith("file:"):
            # resolve to the POSIX path: Spark resolves the file: URI for
            # the DATA while os.makedirs would treat 'file:///x' as a
            # cwd-RELATIVE dir named 'file:', scattering resume markers
            # per-cwd away from the data — the decoupling the guard above
            # exists to prevent
            from urllib.parse import urlparse

            u = urlparse(root)
            if u.netloc not in ("", "localhost"):
                raise NotImplementedError(
                    f"file: root with a host is not local: {root!r}"
                )
            root = u.path or "/"
        self.root = root.rstrip("/")
        self.fmt = fmt
        os.makedirs(f"{self.root}/_manifest", exist_ok=True)

    # -- manifest ------------------------------------------------------------

    def _marker(self, name: str) -> str:
        return f"{self.root}/_manifest/{name}.json"

    def _read_marker(self, name: str) -> Optional[dict]:
        try:
            with open(self._marker(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def is_complete(self, name: str) -> bool:
        """Stage ``name`` has a committed marker (whatever its token)."""
        return self._read_marker(name) is not None

    def _commit(self, info: StageInfo, config_token: Optional[str] = None) -> None:
        tmp = self._marker(info.name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "stage": info.name,
                    "rows": info.rows,
                    "wall_ms": info.wall_ms,
                    "fingerprint": info.fingerprint,
                    "config": config_token,
                },
                f,
            )
        os.replace(tmp, self._marker(info.name))  # atomic: marker is the commit point

    # -- stage I/O -----------------------------------------------------------

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def _write_stage(
        self, df: DataFrame, name: str, config_token: Optional[str]
    ) -> tuple[DataFrame, StageInfo]:
        """Write ``df`` as stage ``name`` and commit it; returns the stage
        read back from storage (the DataFrame downstream stages consume)
        and its StageInfo."""
        t0 = time.monotonic()
        # invalidate any prior marker BEFORE touching the data: a rebuild
        # that crashes mid-overwrite must leave the stage "incomplete" —
        # with the old marker still present, a re-run under the ORIGINAL
        # config would find its token matching and silently serve the
        # half-rebuilt data
        try:
            os.remove(self._marker(name))
        except FileNotFoundError:
            pass
        # the write job reports the stage totals itself: no read-back
        totals = Observation(f"warehouse stage {name} {uuid.uuid4().hex}")
        (
            df.observe(
                totals, F.count(F.lit(1)).alias("rows"), _hash_sum(df.columns)
            )
            .write.mode("overwrite")
            .format(self.fmt)
            .save(self.path(name))
        )
        observed = totals.get
        info = StageInfo(
            name=name,
            rows=observed["rows"],
            wall_ms=int((time.monotonic() - t0) * 1000),
            fingerprint=int(observed["hash_sum"] or 0) % _FP_MOD,
        )
        self._write_metrics(info)
        self._commit(info, config_token)
        # parquet schema inference is a Spark job of its own, and parquet
        # round-trips the written schema exactly (the reader makes it
        # nullable, as inference would), so read back under that schema.
        # Other formats may infer other types, so those reads still infer.
        reader = df.sparkSession.read.format(self.fmt)
        if self.fmt == "parquet":
            reader = reader.schema(df.schema)
        return reader.load(self.path(name)), info

    def _write_metrics(self, info: StageInfo) -> None:
        """Driver-side parquet write of ``<root>/_metrics/stage=<name>``:
        one file, replaced atomically (the dot-prefixed tmp file is hidden
        from Spark's file index), then any other entry in the partition dir
        — a previous writer's leftovers — removed, so the dir holds exactly
        this attempt's row."""
        d = f"{self.root}/_metrics/stage={info.name}"
        os.makedirs(d, exist_ok=True)
        final = "part-00000.parquet"
        tmp = f"{d}/.{final}.tmp"
        row = {"rows": info.rows, "wall_ms": info.wall_ms, "fingerprint": info.fingerprint}
        pq.write_table(pa.Table.from_pylist([row], _METRICS_SCHEMA), tmp)
        os.replace(tmp, f"{d}/{final}")
        for entry in os.listdir(d):
            if entry == final:
                continue
            p = f"{d}/{entry}"
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)

    def read_stage(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.format(self.fmt).load(self.path(name))

    def metrics(self, spark: SparkSession) -> DataFrame:
        """The ``_metrics`` rows: driver-written parquet whatever the
        stage format."""
        return spark.read.parquet(f"{self.root}/_metrics")

    def lineage(self, spark: SparkSession) -> DataFrame:
        """One row per file of every committed stage — (file, rows,
        fingerprint, stage) — aggregated from the stage files when called,
        so a file that changed after its commit shows here and not in the
        stage's marker."""
        stages = sorted(
            e[: -len(".json")]
            for e in os.listdir(f"{self.root}/_manifest")
            if e.endswith(".json")
        )
        per_file = []
        for name in stages:
            files = self.read_stage(spark, name)
            per_file.append(
                files.groupBy(F.input_file_name().alias("file"))
                .agg(F.count("*").alias("rows"), _hash_sum(files.columns))
                .select(
                    "file", "rows",
                    F.pmod("hash_sum", F.lit(str(_FP_MOD)).cast("decimal(38,0)"))
                    .cast("long")
                    .alias("fingerprint"),
                    F.lit(name).alias("stage"),
                )
            )
        if not per_file:
            return spark.createDataFrame(
                [], "file string, rows bigint, fingerprint bigint, stage string"
            )
        return reduce(DataFrame.unionByName, per_file)

    # -- resumable orchestration ----------------------------------------------

    def run_stage(
        self,
        spark: SparkSession,
        name: str,
        build: Callable[[], DataFrame],
        config=None,
    ) -> tuple[DataFrame, StageInfo]:
        """Build-and-write unless the manifest already marks the stage
        complete WITH the same ``config`` (any JSON-serializable value of
        the parameters this stage's output depends on); either way return
        the stored DataFrame (so downstream stages read the checkpoint, not
        the lineage — restart-safe).  A marker from a run with different
        parameters triggers a rebuild instead of serving stale data.
        Returns once the stage's marker is committed."""
        token = _config_token({"cfg": config, "fmt": self.fmt})
        meta = self._read_marker(name)
        if meta is not None and meta.get("config") == token:
            info = StageInfo(name, meta["rows"], 0, meta["fingerprint"], skipped=True)
            return self.read_stage(spark, name), info
        # tag the Spark UI / event log with the warehouse stage name, and
        # tell any installed observer (scripts/sf1_bench.py heap profiler)
        # which stage the jobs about to run belong to
        spark.sparkContext.setJobDescription(f"warehouse stage: {name}")
        if stage_observer is not None:
            stage_observer(name, "start")
        try:
            return self._write_stage(build(), name, token)
        finally:
            if stage_observer is not None:
                stage_observer(name, "end")
            spark.sparkContext.setJobDescription(None)
