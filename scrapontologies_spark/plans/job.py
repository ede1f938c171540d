"""Resumable KG-construction job: the spark-submit entry point.

Stage DAG (each boundary = warehouse checkpoint + manifest + metrics row,
so a killed run resumes mid-pipeline with identical output — north_rule):

  corpus → extracted (one fused mapInPandas pass), then two independent
  chains at the same time, each on a driver thread of its own:
    entities (modules ∪ symbols, reconciled against any existing entities
        table — the MERGE INTO analog of J1/M6)
      → alias_labels (closed-form star labelling of import-stem aliases:
        every component is a star centred on lib::<stem>, so no CC rounds)
      → entities_canonical
    global_schema → containment_triples
  → triples (canonicalized + referential integrity), once alias_labels and
    entities_canonical are written.

The per-document entity, schema and triple rows are not stages but
``kind`` filters (operators/extract.py ``*_view``) of extracted's read-back
frame, which is its checkpoint when a rerun skips extracted.

Each stage commits inline and runs no Spark job beyond its write: its
rows and fingerprint are observed inside the write, and the driver writes
its metrics row and marker before the next stage of its chain starts
(sources/io.py).  Per-file lineage is computed on read
(``Warehouse.lineage``), off the job's path.

Shuffle layout per BASELINE north_star: explicit repartition(repo, lang)
before the link stage; AQE + skew-join on (session.py); the deleted-ids /
alias dimension sides broadcast; the entity reconcile against an
``entities_prev`` table (operators/link.reconcile) is one salted left join
(8 slices) plus one anti join — the incremental-merge case where a
mega-repo's new entities can hash-skew the link join.  Its rows are
checked against the pure-Python full outer (functions/semantics) at the
operator and at the job stage.

Usage (cluster — spark-submit takes a primary .py FILE, not a module):
    spark-submit --py-files scrapontologies_spark.zip \
        scripts/run_job.py <warehouse_root> <n_rows>
Local:  python -m scrapontologies_spark.plans.job <warehouse_root> <n_rows>
"""

from __future__ import annotations

import sys
import threading
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Dict, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ..functions.semantics import canonical_json
from ..operators.cc import (
    canonicalize_entities,
    canonicalize_triples,
    module_alias_labels,
)
from ..operators.extract import (
    doc_schemas_view,
    extract_document_rows,
    module_entities_view,
    symbol_entities_view,
    triples_view,
)
from ..operators.link import reconcile, referential_integrity
from ..operators.schema_merge import global_schema
from ..sources.io import StageInfo, Warehouse

# every stage in DAG order: the order of run_job's result
STAGES = (
    "extracted", "entities", "alias_labels", "entities_canonical", "triples",
    "global_schema", "containment_triples",
)


class _Aborted(Exception):
    """Raised instead of starting a stage once another stage has failed."""


def run_job(
    spark: SparkSession,
    corpus: DataFrame,
    warehouse_root: str,
    chunk_bytes: int = 1024,
    fmt: str = "parquet",
    allowed_kinds=None,
    allowed_terms=None,
) -> Dict[str, StageInfo]:
    """``fmt``: the warehouse storage format (sources/io.py).

    ``allowed_kinds``/``allowed_terms``: P8 extraction allowlist
    (user_prompt_for_filter stand-in) — restricts mention extraction, so
    every downstream stage reflects the filter."""
    wh = Warehouse(warehouse_root, fmt)
    infos: Dict[str, StageInfo] = {}
    errors: list = []
    errors_lock = threading.Lock()
    failed = threading.Event()

    # Resume guard: each stage's token covers the parameters ITS output
    # depends on — no more (a whole-DAG token would re-run the mapInPandas
    # extraction, the 100 TB hot path, when only entities_prev changes)
    # and no less (every upstream-affecting knob present).
    #
    # - cfg: the extraction params.
    # - ent_cfg adds the entities_prev state (rows + fingerprint from its
    #   marker): writing or replacing an entities_prev table between runs
    #   changes the reconcile's output, so it must invalidate 'entities'
    #   and everything downstream of it — with it excluded, an identical
    #   re-run after seeding entities_prev would silently skip the merge.
    cfg = {
        "chunk_bytes": chunk_bytes,
        "allowed_kinds": allowed_kinds,
        "allowed_terms": allowed_terms,
    }
    prev_meta = wh._read_marker("entities_prev")
    ent_cfg = {
        **cfg,
        "entities_prev": None
        if prev_meta is None
        else {"rows": prev_meta["rows"], "fingerprint": prev_meta["fingerprint"]},
    }

    def fail(exc: BaseException) -> None:
        # first error wins; a branch that stopped because of it is not one
        with errors_lock:
            if not isinstance(exc, _Aborted) and exc not in errors:
                errors.append(exc)
        failed.set()

    def stage(name: str, build, config) -> DataFrame:
        """Write and commit stage ``name`` in this thread."""
        if failed.is_set():
            raise _Aborted(name)
        out, infos[name] = wh.run_stage(spark, name, build, config=config)
        return out

    def entity_chain():
        def build_entities() -> DataFrame:
            # explicit repartition(repo, lang) ahead of the link stage
            # (north_star) — co-locates a repo's symbols for reconcile/CC
            new = (
                module_entities_view(extracted.repartition("repo", "lang"))
                .select("id", "type", "attributes")
                .unionByName(symbol_entities_view(extracted))
            )
            # MERGE-INTO analog: reconcile against a previous run's entities
            # table when present (J1 full-outer + A1 attribute merge), salted
            # per the north_star skew mandate (prev_meta: the one marker
            # read behind ent_cfg's token too)
            if prev_meta is not None:
                existing = wh.read_stage(spark, "entities_prev")
                return reconcile(existing, new)
            return new

        entities = stage("entities", build_entities, ent_cfg)
        labels = stage("alias_labels", lambda: module_alias_labels(entities), ent_cfg)
        return labels, stage(
            "entities_canonical",
            lambda: canonicalize_entities(entities, labels),
            ent_cfg,
        )

    def schema_chain() -> None:
        # driver-sized frames (1 row, ~10 rows) are built from Arrow: the
        # Python-list path would run a Python-worker job per frame
        built: Dict[str, str] = {}

        def build_global() -> DataFrame:
            built["schema_json"] = canonical_json(
                global_schema(doc_schemas_view(extracted))
            )
            return spark.createDataFrame(
                pd.DataFrame({"scope": ["global"], "schema_json": [built["schema_json"]]}),
                "scope string, schema_json string",
            )

        gdf = stage("global_schema", build_global, cfg)

        # M5(a) — containment triples from the global ontology (the Digraph
        # exemplar, prompts.py:1-38; rendered arrows pyecharts_renderer.py:
        # 65-67): ROOT → top-level entity → nested-object attribute.  The
        # global schema is ONE tiny row, so derivation is driver-side; the
        # checkpoint is read only when this run skipped the global stage.
        def build_containment() -> DataFrame:
            import json as _json

            from ..functions.semantics import (
                derive_containment_relations,
                schema_to_entities,
            )

            gjson = built.get("schema_json")
            if gjson is None:
                gjson = gdf.collect()[0]["schema_json"]
            rels = derive_containment_relations(
                schema_to_entities(_json.loads(gjson) if gjson else {})
            )
            cols = ["subj", "pred", "obj", "rel_type"]
            return spark.createDataFrame(
                pd.DataFrame(
                    [(r.source, r.name, r.target, r.type) for r in rels], columns=cols
                ),
                "subj string, pred string, obj string, rel_type string",
            )

        stage("containment_triples", build_containment, cfg)

    try:
        # Fused one-pass extraction: chunk/fold/schema/triple rows from ONE
        # narrow mapInPandas over the scan (operators/extract.py) — the
        # 100 TB hot path has zero shuffles; the warehouse write is the only
        # wide cost and doubles as the resume checkpoint.
        extracted = stage(
            "extracted",
            lambda: extract_document_rows(
                corpus, chunk_bytes,
                allowed_kinds=allowed_kinds, allowed_terms=allowed_terms,
            ),
            cfg,
        )
        # the two chains share nothing but `extracted`; each runs on a
        # driver thread that carries this thread's Spark job group and
        # description.  Leaving the block waits for every started branch.
        with ThreadPoolExecutor(max_workers=2, thread_name_prefix="run_job") as pool:

            def branch(chain) -> Future:
                def body():
                    try:
                        return chain()
                    except BaseException as exc:
                        fail(exc)
                        raise

                return pool.submit(inheritable_thread_target(spark)(body))

            linked = branch(entity_chain)
            branch(schema_chain)
            labels, entities_final = linked.result()
            triples = canonicalize_triples(triples_view(extracted), labels)
            stage(
                "triples",
                lambda: referential_integrity(triples, entities_final),
                ent_cfg,
            )
    except BaseException as exc:
        fail(exc)
    if errors:
        raise errors[0]
    return {name: infos[name] for name in STAGES}


def _arg_parser() -> "argparse.ArgumentParser":
    import argparse

    ap = argparse.ArgumentParser(
        prog="job",
        description="Run the staged KG-construction job over a synthetic corpus.",
        allow_abbrev=False,
    )
    ap.add_argument("warehouse_root", nargs="?", default="/tmp/sparkonto_warehouse")
    ap.add_argument("n_rows", nargs="?", type=int, default=5_000)
    ap.add_argument(
        "--corpus", default=None, metavar="PARQUET_PATH",
        help="read the corpus from this parquet path (input_hint shape: "
        "repo, path, commit, lang, content) instead of generating the "
        "synthetic corpus; n_rows is ignored",
    )
    ap.add_argument(
        "--allowed-kinds", default=None,
        help="comma-separated entity kinds to keep (P8 extraction filter)",
    )
    ap.add_argument(
        "--allowed-terms", default=None,
        help="comma-separated entity ids to keep (P8 extraction filter)",
    )
    return ap


def main(argv: Optional[list] = None) -> None:
    # argparse rejects unknown --flags and flags missing their value with a
    # usage error, instead of silently routing a typo into warehouse_root
    args = _arg_parser().parse_args(argv if argv is not None else sys.argv[1:])
    allowed_kinds = (
        frozenset(args.allowed_kinds.split(",")) if args.allowed_kinds else None
    )
    allowed_terms = (
        frozenset(args.allowed_terms.split(",")) if args.allowed_terms else None
    )
    warehouse_root = args.warehouse_root
    n_rows = args.n_rows
    from ..session import build_session
    from ..sources.corpus import corpus_df

    spark = build_session(app_name="kg-job")
    corpus = (
        spark.read.parquet(args.corpus)
        if args.corpus
        else corpus_df(spark, n_rows)
    )
    infos = run_job(
        spark, corpus, warehouse_root,
        allowed_kinds=allowed_kinds, allowed_terms=allowed_terms,
    )
    for name, info in infos.items():
        print(
            f"{name}: rows={info.rows} wall_ms={info.wall_ms} "
            f"skipped={info.skipped} fp={info.fingerprint}"
        )


if __name__ == "__main__":
    main()
