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

Lineage: one row per checkpoint FILE (file, rows, fingerprint) under
``_lineage/stage=<name>`` — the per-partition lineage rows of the
north_rule.  The file is the durable partition unit (what a restarted
reader re-reads).

One Spark action per commit: after the data write, a single read-back
``groupBy(input_file_name())`` aggregate brings the per-file rows to the
driver, and the stage totals fold out of those same rows (count sums; the
modular sum is associative), so lineage and metrics can never disagree.
Both side tables are then written FROM THE DRIVER with pyarrow — parquet
whatever the stage ``fmt`` — beside the driver-local manifest markers,
atomically (tmp file + ``os.replace``) and overwritten per attempt: a
crash between a side-table write and the marker commit leaves rows a retry
replaces, never orphans next to live rows.  Readers recover the ``stage``
column from partition discovery.

A commit is split in two.  The data write runs in the CALLER's thread
(the old marker is removed first, as ever).  The bookkeeping — the
read-back aggregate, ``_lineage``, ``_metrics`` and the marker — runs on
the Warehouse's one committer thread, first in, first out, under the
Spark job group and description the caller had at its write.  A stage is
written only after the stages it reads are written, so FIFO order makes
its marker land after theirs: a crash can never leave a marker whose
inputs are unmarked.  A commit queued behind a failed one fails too.
``run_stage_nowait`` hands back the read-back DataFrame as soon as the
data is written, with the commit as a future; ``run_stage`` is that plus
a wait on the commit.  ``wall_ms`` runs from the write's start to the
marker commit, so it includes any wait behind earlier commits.  Callers
may run stages from several threads at once (``plans/job.py`` does), so
``stage_observer`` is called from several threads, with overlapping spans.

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
import threading
import time
from collections import deque
from concurrent.futures import Future
from dataclasses import dataclass
from typing import Callable, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


@dataclass
class StageInfo:
    name: str
    rows: int
    wall_ms: int
    fingerprint: int
    skipped: bool = False


_FP_MOD = 2 ** 63
_LINEAGE_SCHEMA = pa.schema(
    [("file", pa.string()), ("rows", pa.int64()), ("fingerprint", pa.int64())]
)
_METRICS_SCHEMA = pa.schema(
    [("rows", pa.int64()), ("wall_ms", pa.int64()), ("fingerprint", pa.int64())]
)

# Optional hook: called as stage_observer(stage_name, "start"|"end") around
# every non-skipped stage's build+write, in the thread that runs it (the
# bookkeeping is outside the span).  run_job runs stages on several
# threads, so calls come from several threads and spans overlap.
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
        # FIFO commit bookkeeping: one committer thread, started on demand
        # and gone once the queue is empty
        self._commit_lock = threading.Lock()
        self._commit_queue: deque = deque()
        self._committer: Optional[threading.Thread] = None

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
    ) -> tuple[DataFrame, Future]:
        """Write ``df`` as stage ``name`` in this thread and queue its
        commit; returns the stage read back from storage (the DataFrame
        downstream stages consume) and the commit's future StageInfo."""
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
        df.write.mode("overwrite").format(self.fmt).save(self.path(name))
        # parquet schema inference is a Spark job of its own, and parquet
        # round-trips the written schema exactly (the reader makes it
        # nullable, as inference would), so read back under that schema.
        # Other formats may infer other types, so those reads still infer.
        spark = df.sparkSession
        reader = spark.read.format(self.fmt)
        if self.fmt == "parquet":
            reader = reader.schema(df.schema)
        out = reader.load(self.path(name))
        # wrapped here, so the committer runs the read-back under this
        # thread's job group and description
        bookkeep = inheritable_thread_target(spark)(
            lambda: self._bookkeep(out, name, t0, config_token)
        )
        return out, self._enqueue_commit(bookkeep)

    def _bookkeep(
        self, out: DataFrame, name: str, t0: float, config_token: Optional[str]
    ) -> StageInfo:
        """The committer-thread half of a commit: lineage, metrics, marker."""
        # the commit's one action: per-file lineage rows to the driver.
        # Per-file fingerprint = Σ xxhash64(row) mod 2⁶³ — multiplicity-
        # sensitive where bit_xor cancels even-multiplicity rows (see module
        # docstring); summed as decimal so the bigint sum cannot overflow
        # under ANSI mode.
        lineage = (
            out.groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count("*").alias("rows"),
                F.pmod(
                    F.sum(F.xxhash64(*out.columns).cast("decimal(38,0)")),
                    F.lit(str(_FP_MOD)).cast("decimal(38,0)"),
                )
                .cast("long")
                .alias("fingerprint"),
            )
            .collect()
        )
        info = StageInfo(
            name=name,
            rows=sum(r["rows"] for r in lineage),
            wall_ms=int((time.monotonic() - t0) * 1000),
            fingerprint=sum(r["fingerprint"] for r in lineage) % _FP_MOD,
        )
        self._write_side_table(
            "_lineage", name,
            pa.Table.from_pylist([r.asDict() for r in lineage], _LINEAGE_SCHEMA),
        )
        self._write_side_table(
            "_metrics", name,
            pa.Table.from_pylist(
                [{"rows": info.rows, "wall_ms": info.wall_ms,
                  "fingerprint": info.fingerprint}],
                _METRICS_SCHEMA,
            ),
        )
        self._commit(info, config_token)
        return info

    def _enqueue_commit(self, bookkeep: Callable[[], StageInfo]) -> Future:
        fut: Future = Future()
        with self._commit_lock:
            self._commit_queue.append((bookkeep, fut))
            if self._committer is None:
                self._committer = threading.Thread(
                    target=self._run_commits, name="warehouse-committer", daemon=True
                )
                self._committer.start()
        return fut

    def _run_commits(self) -> None:
        failed: Optional[BaseException] = None
        while True:
            with self._commit_lock:
                if not self._commit_queue:
                    self._committer = None
                    return
                bookkeep, fut = self._commit_queue.popleft()
            if failed is not None:
                # a stage queued behind a failed commit may read it: its
                # marker must not land without the upstream one
                fut.set_exception(
                    RuntimeError(f"not committed: an earlier commit failed ({failed!r})")
                )
                continue
            try:
                fut.set_result(bookkeep())
            except BaseException as exc:
                failed = exc
                fut.set_exception(exc)

    def drain_commits(self) -> None:
        """Wait until every queued commit has run and the committer thread
        has exited."""
        with self._commit_lock:
            committer = self._committer
        if committer is not None:
            committer.join()

    def _write_side_table(self, table: str, stage: str, rows: pa.Table) -> None:
        """Driver-side parquet write of ``<root>/<table>/stage=<stage>``:
        one file, replaced atomically (the dot-prefixed tmp file is hidden
        from Spark's file index), then any other entry in the partition dir
        — a previous writer's leftovers — removed, so the dir holds exactly
        this attempt's rows."""
        d = f"{self.root}/{table}/stage={stage}"
        os.makedirs(d, exist_ok=True)
        final = "part-00000.parquet"
        tmp = f"{d}/.{final}.tmp"
        pq.write_table(rows, tmp)
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

    # side tables are driver-written parquet whatever the stage format
    def metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(f"{self.root}/_metrics")

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(f"{self.root}/_lineage")

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
        out, commit = self.run_stage_nowait(spark, name, build, config)
        return out, commit.result()

    def run_stage_nowait(
        self,
        spark: SparkSession,
        name: str,
        build: Callable[[], DataFrame],
        config=None,
    ) -> tuple[DataFrame, Future]:
        """:meth:`run_stage` that returns as soon as the data is written:
        the read-back DataFrame and a future of the StageInfo, resolved
        when the committer thread has committed the marker (already
        resolved for a skipped stage)."""
        token = _config_token({"cfg": config, "fmt": self.fmt})
        meta = self._read_marker(name)
        if meta is not None and meta.get("config") == token:
            done: Future = Future()
            done.set_result(
                StageInfo(name, meta["rows"], 0, meta["fingerprint"], skipped=True)
            )
            return self.read_stage(spark, name), done
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
