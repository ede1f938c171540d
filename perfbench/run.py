#!/usr/bin/env python3
"""KG-job benchmark: times the KG-construction job on one seeded workload.

Usage (from the repository root):
    python3 perfbench/run.py --workload incremental_merge --seed 1 --seconds 1 --trace 0

``incremental_merge`` (and ``synth_small_docs``) run the whole
``plans.job.run_job``; ``real_multichunk`` runs its first stage, the fused
extraction pass written as the warehouse stage ``extracted``.  See README.md
for the workloads, the deployment settings and the metrics.

Each run starts one Spark session, builds the workload's parquet corpus from
the seed (``SETUP_REPEATS`` times; set-up reports the median) and then runs
the job into fresh warehouse roots, back to back, until ``--seconds`` have
passed (at least one job).  The first job of a session is the one
``spark-submit`` pays; with ``--seconds 1`` each run times exactly that job.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
warehouse stage observer, enables Spark's event log and prints the per-layer
metrics.  Both replay the kernel in one process, check the outputs against it
and exit non-zero when a check fails.  The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Deployment settings: one local-mode process using every core, the
# session's default of two shuffle partitions per core, and a pinned driver
# heap (at the default 1 g the incremental_merge entities stage has died
# with a BroadcastExchange OOM on larger corpora).
CORES = os.cpu_count() or 1
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEMORY = "2g"
# input builds per run; setup reports their median
SETUP_REPEATS = 3

STAGES = (
    "extracted", "triples_raw", "doc_entities", "entities", "alias_labels",
    "entities_canonical", "triples", "doc_schemas", "global_schema",
    "containment_triples",
)
# languages every workload has, for the per-language grammar throughput
GRAMMAR_LANGS = ("python", "javascript", "java", "go", "markdown")

END_TO_END = {
    "setup_s": "s", "job_s": "s", "job_cpu_s": "s",
    "decl_recall_ast": "share", "decl_precision_ast": "share",
}
PER_LAYER = {
    "session.start_s": "s", "setup.input_s": "s", "mem.peak_rss_mb": "MB",
    "trace.job_s": "s",
    "input.docs": "count", "input.mb": "MB", "input.chunks": "count", "input.mb_per_s": "MB/s",
    "extract.span_s": "s", "extract.tasks": "count", "extract.out_rows_per_doc": "count",
    "extract.overhead_share": "share", "extract.views_span_s": "s", "extract.arrow_s": "s",
    "code_gazetteer.extract_mentions_s": "s", "code_gazetteer.chunk_mask_s": "s",
    "code_gazetteer.payload_digest_s": "s", "code_gazetteer.triples_s": "s",
    **{f"code_gazetteer.mb_per_s.{lang}": "MB/s" for lang in GRAMMAR_LANGS},
    "semantics.fold_s": "s", "semantics.json_rows_s": "s",
    "schema_merge.span_s": "s", "schema_merge.build_s": "s",
    "cc.labels_span_s": "s", "cc.labels_build_s": "s", "cc.jobs": "count", "cc.canon_span_s": "s",
    "link.entities_span_s": "s", "link.matched_ids": "count",
    "link.triples_span_s": "s", "link.dropped_triples": "count",
    "io.bytes_written": "B", "io.outside_stages_s": "s",
    **{f"io.{stage}.rows": "count" for stage in STAGES},
    "spark.shuffle_write_mb": "MB", "spark.tasks": "count", "spark.jobs": "count",
    "spark.task_retry_share": "share",
    "decl.skipped_files": "count",
}


_T0 = time.monotonic()


def note(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"[{time.monotonic() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0], allow_abbrev=False)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, trace: bool):
    from scrapontologies_spark.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/events")
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work}/events"
        conf["spark.eventLog.compress"] = "false"
    spark = build_session(
        app_name="perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end its JVM (it exits when its stdin closes) and wait
    for the JVM and the Python workers to end."""
    from pyspark import SparkContext

    from probes import children_pids, wait_ended

    pids = children_pids()
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    if not wait_ended(pids, timeout_s=60):
        print("Spark processes still running after the session stopped", file=sys.stderr)


def corpus_digest(rows: list) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def ast_decls(docs: list) -> tuple[dict, int]:
    """``{module id: FunctionDef/AsyncFunctionDef/ClassDef names}`` of the
    python docs, and the number of docs ``ast`` could not parse."""
    labels, skipped = {}, 0
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for repo, path, _commit, lang, content in docs:
        if lang != "python":
            continue
        try:
            tree = ast.parse(content or "")
        except (SyntaxError, ValueError):
            skipped += 1
            continue
        labels[f"{repo}/{path}"] = {n.name for n in ast.walk(tree) if isinstance(n, kinds)}
    return labels, skipped


def decl_scores(labels: dict, triples: list) -> tuple[float, float]:
    """Recall and precision of the ``defines`` triples against ``labels``,
    over the modules ``labels`` covers."""
    pred = {m: set() for m in labels}
    for subj, p, obj, _rel in triples:
        if p == "defines" and subj in pred:
            pred[subj].add(obj[len(subj) + 2 :])
    hit = sum(len(pred[m] & labels[m]) for m in labels)
    n_label = sum(len(v) for v in labels.values())
    n_pred = sum(len(v) for v in pred.values())
    return hit / max(n_label, 1), hit / max(n_pred, 1)


def check_outputs(wh_root: str, rep, prev_rows, infos_per_call) -> tuple[list, list]:
    """Failures of the output checks, as messages (empty when all hold),
    and the job's triple rows.  Stages the job did not run go unchecked."""
    from inputs import read_rows

    from scrapontologies_spark.functions.semantics import canonical_json, schema_union_all

    fails = []
    stages = infos_per_call[0]
    extracted = read_rows(f"{wh_root}/extracted", ["kind", "subj", "pred", "obj", "rel_type"])
    kinds = Counter(r[0] for r in extracted)
    if kinds != rep.kind_rows:
        fails.append(f"extracted rows per kind {dict(kinds)} != replay {dict(rep.kind_rows)}")
    if "triples_raw" in stages:
        triples = read_rows(f"{wh_root}/triples_raw", ["subj", "pred", "obj", "rel_type"])
    else:
        triples = [r[1:] for r in extracted if r[0] == "triple"]
    if len(set(triples)) != len(triples) or set(triples) != rep.triples:
        fails.append(
            f"triples: {len(triples)} rows, {len(set(triples) ^ rep.triples)} differ "
            "from the union of code_gazetteer.document_triples"
        )
    if "global_schema" in stages:
        (gjson,) = read_rows(f"{wh_root}/global_schema", ["schema_json"])[0]
        if gjson != canonical_json(schema_union_all(rep.doc_schemas)):
            fails.append("global_schema differs from schema_union_all of the document schemas")
    if "entities" in stages:
        ids = {i for (i,) in read_rows(f"{wh_root}/entities", ["id"])}
        want_ids = {r[0] for r in rep.entity_rows} | {r[0] for r in prev_rows or ()}
        if ids != want_ids:
            fails.append(f"entities ids: {len(ids ^ want_ids)} differ from prev ∪ new")
    fps = {tuple((s, i.fingerprint) for s, i in sorted(infos.items())) for infos in infos_per_call}
    if len(fps) != 1:
        fails.append("stage fingerprints differ between the jobs of one seed")
    return fails, triples


def layer_metrics(call: dict, rep, docs: list, counts: dict, prev_rows) -> dict:
    """Per-layer metrics of one traced job."""
    from probes import dir_bytes

    infos, group, spans = call["infos"], call["group"], call["spans"]
    rows = {s: infos[s].rows if s in infos else 0 for s in STAGES}
    calls_counts = [c for g, c in counts.items() if g == group or g.startswith(group + "/")]
    tasks = sum(c["tasks"] for c in calls_counts)
    span = lambda s: spans.get(s, 0.0)  # noqa: E731
    build = lambda s: span(s) - infos[s].wall_ms / 1000 if s in infos else 0.0  # noqa: E731
    stage_counts = lambda s: counts.get(f"{group}/{s}", {"jobs": 0, "tasks": 0})  # noqa: E731
    n_docs = len(docs)
    sec = rep.seconds
    new_ids = {r[0] for r in rep.entity_rows}
    m = {
        "trace.job_s": call["job_s"],
        "input.docs": n_docs,
        "input.mb": sum(rep.lang_bytes.values()) / 1e6,
        "input.chunks": rep.chunks,
        "input.mb_per_s": sum(rep.lang_bytes.values()) / 1e6 / call["job_s"],
        "extract.span_s": span("extracted"),
        "extract.tasks": stage_counts("extracted")["tasks"],
        "extract.out_rows_per_doc": rows["extracted"] / max(n_docs, 1),
        "extract.overhead_share": 1 - (rep.kernel_s / CORES) / span("extracted"),
        "extract.views_span_s": span("triples_raw") + span("doc_entities") + span("doc_schemas"),
        "extract.arrow_s": sec["arrow"],
        "code_gazetteer.extract_mentions_s": sec["extract_mentions"],
        "code_gazetteer.chunk_mask_s": sec["chunk_mask"],
        "code_gazetteer.payload_digest_s": sec["payload_digest"],
        "code_gazetteer.triples_s": sec["triples"],
        "semantics.fold_s": sec["fold"],
        "semantics.json_rows_s": sec["json_rows"],
        "schema_merge.span_s": span("global_schema"),
        "schema_merge.build_s": build("global_schema"),
        "cc.labels_span_s": span("alias_labels"),
        "cc.labels_build_s": build("alias_labels"),
        "cc.jobs": stage_counts("alias_labels")["jobs"],
        "cc.canon_span_s": span("entities_canonical"),
        "link.entities_span_s": span("entities"),
        "link.matched_ids": len(new_ids & {r[0] for r in prev_rows or ()}),
        "link.triples_span_s": span("triples"),
        "link.dropped_triples": rows["triples_raw"] - rows["triples"],
        "io.bytes_written": dir_bytes(call["root"]),
        "io.outside_stages_s": call["job_s"] - sum(spans.values()),
        "spark.shuffle_write_mb": sum(c["shuffle_bytes"] for c in calls_counts) / 1e6,
        "spark.tasks": tasks,
        "spark.jobs": sum(c["jobs"] for c in calls_counts),
        "spark.task_retry_share": sum(c["failed_tasks"] for c in calls_counts) / max(tasks, 1),
    }
    for lang in GRAMMAR_LANGS:
        m[f"code_gazetteer.mb_per_s.{lang}"] = (
            rep.lang_bytes[lang] / 1e6 / rep.lang_grammar_s[lang]
            if rep.lang_grammar_s[lang] else 0.0
        )
    for s in STAGES:
        m[f"io.{s}.rows"] = rows[s]
    return m


def extract_stage(spark, corpus, root: str) -> dict:
    """run_job's first stage alone, wired as run_job wires it: the fused
    extraction pass written as the warehouse stage ``extracted``."""
    from scrapontologies_spark.operators.extract import extract_document_rows
    from scrapontologies_spark.sources.io import Warehouse

    _, info = Warehouse(root).run_stage(spark, "extracted", lambda: extract_document_rows(corpus))
    return {"extracted": info}


def measure(spark, args, work: str):
    """Build the input ``SETUP_REPEATS`` times, then run the job until
    ``args.seconds`` have passed.  Returns the prepared input, the input
    build times, the finished jobs, the number of failed ones and the peak
    RSS (traced runs only)."""
    import inputs
    from probes import PeakRss, StageSpans, tree_cpu_s

    from scrapontologies_spark.plans.job import run_job
    from scrapontologies_spark.sources import io as wh_io

    # real_multichunk times the extraction stage only: a cold run_job takes
    # about 50 s here, and two such workloads do not fit the time budget
    job = extract_stage if args.workload == "real_multichunk" else run_job
    build = inputs.WORKLOADS[args.workload]
    input_s, digests = [], set()
    for i in range(SETUP_REPEATS):
        t = time.monotonic()
        prepared = build(spark, args.seed, f"{work}/input-{i}")
        input_s.append(time.monotonic() - t)
        note(f"input {i} built in {input_s[-1]:.1f}s")
        digests.add(corpus_digest(inputs.read_rows(prepared.corpus_path)))
    if len(digests) != 1:
        raise SystemExit("the same seed built different corpora")

    calls, failed = [], 0
    # the sampler competes with the driver thread for the GIL, so only the
    # traced run, which reports the peak, pays for it
    rss = PeakRss() if args.trace else contextlib.nullcontext()
    with rss:
        window = time.monotonic()
        while True:
            i = len(calls)
            root = f"{work}/wh-{i}"
            if prepared.prev_rows is not None:
                inputs.seed_entities_prev(root, prepared.prev_rows)
            group = f"perfbench/{i}"
            spans = StageSpans(spark, group) if args.trace else None
            if spans:
                spark.sparkContext.setJobGroup(group, "measured job")
                wh_io.stage_observer = spans
            note(f"measured job {i}")
            t, cpu = time.monotonic(), tree_cpu_s()
            try:
                infos = job(spark, spark.read.parquet(prepared.corpus_path), root)
            except Exception as exc:  # a failed job counts against the run
                print(f"job failed: {exc!r}", file=sys.stderr)
                failed += 1
                break
            finally:
                wh_io.stage_observer = None
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            calls.append({
                "job_s": time.monotonic() - t, "job_cpu_s": tree_cpu_s() - cpu,
                "infos": infos, "root": root, "group": group,
                "spans": dict(spans.spans) if spans else {},
            })
            if time.monotonic() - window >= args.seconds:
                break
    return prepared, input_s, calls, failed, rss.peak if args.trace else None


def run(args, work: str) -> int:
    import inputs
    from probes import event_log_counts
    from replay import replay

    t = time.monotonic()
    spark = start_session(work, bool(args.trace))
    session_start_s = time.monotonic() - t
    note(f"session started in {session_start_s:.1f}s")
    try:
        prepared, input_s, calls, failed, peak_rss = measure(spark, args, work)
    finally:
        note("stopping the session")
        stop_session(spark)
    setup_s = session_start_s + statistics.median(input_s)

    docs = inputs.read_rows(prepared.corpus_path)
    rep = replay(docs)
    note(f"replayed the kernel ({rep.kernel_s:.1f}s)")
    fails = [f"{failed} job(s) failed"] if failed else []
    triples = []
    if calls:
        more, triples = check_outputs(
            calls[0]["root"], rep, prepared.prev_rows, [c["infos"] for c in calls]
        )
        fails += more
    for f in fails:
        print(f"check failed: {f}", file=sys.stderr)

    langs = Counter(d[3] for d in docs)
    print("# input " + json.dumps({
        "workload": args.workload, "seed": args.seed, "docs": len(docs),
        "mb": sum(rep.lang_bytes.values()) / 1e6, "chunks": rep.chunks,
        "docs_per_lang": dict(sorted(langs.items())),
        "mb_per_lang": {k: v / 1e6 for k, v in sorted(rep.lang_bytes.items())},
    }))
    if calls:
        print("# stages " + json.dumps({
            s: {"rows": i.rows, "wall_ms": i.wall_ms, "fingerprint": i.fingerprint}
            for s, i in calls[0]["infos"].items()
        }))

    metrics = {}
    if calls and not args.trace:
        job_s = statistics.median(c["job_s"] for c in calls)
        labels, _skipped = ast_decls(docs)
        recall, precision = decl_scores(labels, triples)
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "job_cpu_s": statistics.median(c["job_cpu_s"] for c in calls),
            "decl_recall_ast": recall,
            "decl_precision_ast": precision,
        }
    elif calls:
        counts = event_log_counts(f"{work}/events")
        per_call = [
            layer_metrics(c, rep, docs, counts, prepared.prev_rows)
            for c in calls
        ]
        metrics = {k: statistics.median(m[k] for m in per_call) for k in per_call[0]}
        metrics.update({
            "session.start_s": session_start_s,
            "setup.input_s": statistics.median(input_s),
            "mem.peak_rss_mb": peak_rss / 1e6,
            "decl.skipped_files": ast_decls(docs)[1],
        })
    units = PER_LAYER if args.trace else END_TO_END
    correct = not fails
    print(json.dumps({
        "correct": correct,
        "attempted": len(calls) + failed,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    import inputs

    if args.workload not in inputs.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        import scrapontologies_spark  # noqa: F401
    except ImportError as exc:
        print(f"the program's sources are not here: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # the JVM, the Python workers and tempfile all stay inside the work dir
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
