#!/usr/bin/env python3
"""One-command correctness gate (VERDICT r04 ask #6).

Round 4's highest-yield technique was the adversarial-data program, but it
only helps if it re-runs after every operator/oracle change — and it was
five manual invocations.  This gate chains all of them, runs every
independent step to completion (one summary, all failures visible), skips
an oracle sweep whose table-generation step failed (a stale directory
passing would muddy diagnosis), and exits nonzero if ANY step failed:

  1. full pytest suite (`python -m pytest tests/ -q`)
  2. full-registry cross-engine check vs DuckDB at the driver's gate scale
     (sf0.01 by default)
  3. the three adversarial sweeps — hostile (NULL/CJK/malformed), skew
     (mass duplication + hot keys), and zero-row tables — each regenerated
     fresh, then the full registry vs DuckDB on each
  4. the KG-job benchmark's output checks on real multi-chunk files
     (`perfbench/run.py --workload real_multichunk`): exits 1 when the
     job's triples, global schema or fingerprints disagree with the
     sequential kernel replay
  5. (full mode only) the same checks on a whole `run_job` with a
     reconcile (`perfbench/run.py --workload incremental_merge`) — the
     only bench workload that runs the concurrent stage DAG; it also
     exits 1 when the entity ids disagree with the replay
  6. the scaling bench's timed job (`scripts/scaling_run.py`, i.e.
     `pipeline_summary`) on the vendored real-file pool at local[4]: it
     must exit 0 and print exactly one JSON line
  7. the per-round bench (`bench.py`: `kg_pipeline` plus the operator
     suite) once at sf0.001: it must exit 0 and print exactly one JSON line

In `--fast` mode step 1 runs only FAST_TESTS: the suites that pin every
caller of the global-schema reduce, plus `run_job`'s stage DAG, resume and
marker order (`tests/test_resumability.py`), which step 4 never runs, and
the entity-linking operators behind the job's reconcile and alias labels
(`tests/test_link_cc.py`), which step 5 exercises only in full mode, and
the embedding operators' unit tests (`tests/test_training_data_ops.py`:
brute-force, LSH and IVF top-k, exact and LSH near-dup, the bucket-key
UDF's NULL/ragged/NaN rows, the hot-bucket guards, zero norms and the
shared sign-LSH candidate generator) and their MinHash side
(`tests/test_training_data_ops.py`: LSH band recall, n-gram Jaccard over
LSH candidates against a pure-Python oracle with and without the shingle
cap, the band hot-bucket guard, the band-size check, and the plan test
that pins one keyed shuffle under both families' bucket self-join
`util.bucket_pairs`; `tests/test_scale_profile.py`: every scale-profile
knob on the near-dup operators), which the oracle sweeps check only
end to end, and the grammar kernel on the production path
(`tests/test_extraction_real_files.py`: pinned per-language digests of
every vendored real file's chunks, masks and mentions;
`tests/test_extraction_pr.py`: declaration P/R on the hand-labeled
fixture tree, whole-file and chunked), which step 4 checks only against
its own replay of the same grammar functions, and the incremental
Structured Streaming ingest (`tests/test_streaming.py`: two availableNow
micro-batches with a checkpoint restart equal the batch triples), the one
streaming path, which no other step runs, and every package module's
import (`tests/test_package_imports.py`), which catches a dangling import
in a module no other step reaches.

Usage:
  python scripts/run_all_checks.py            # everything (~25-35 min)
  python scripts/run_all_checks.py --fast     # sf0.001, FAST_TESTS only,
                                              # no incremental_merge
                                              # (~10 min)
  SPARK_GRAFT_CPUS=16 ...                     # parallelism override
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")
FAST_TESTS = [
    "tests/test_pipeline_equivalence.py",
    "tests/test_schema_union.py",
    "tests/test_api_facade.py",
    "tests/test_ddl.py",
    "tests/test_resumability.py",
    "tests/test_link_cc.py",
    "tests/test_extraction_real_files.py",
    "tests/test_extraction_pr.py",
    "tests/test_streaming.py",
    "tests/test_package_imports.py",
    "tests/test_scale_profile.py",
    *(
        f"tests/test_training_data_ops.py::{t}"
        for t in (
            "test_cosine_topk_bruteforce",
            "test_lsh_topk_recall",
            "test_lsh_topk_recall_clustered",
            "test_ivf_topk_recall_clustered",
            "test_ivf_topk_recall_and_candidate_bound",
            "test_embedding_near_dup_exact_vs_numpy",
            "test_embedding_near_dup_lsh_subset_of_exact",
            "test_lsh_ops_tolerate_empty_embeddings",
            "test_bucket_udf_null_and_ragged_rows",
            "test_bucket_udf_nan_matches_sql_semantics",
            "test_embedding_near_dup_hot_bucket_guard",
            "test_cosine_topk_lsh_hot_bucket_guard",
            "test_zero_norm_embeddings_do_not_abort_cosine_ops",
            "test_sign_lsh_pairs_matches_python_reference",
            "test_lsh_candidates_superset_of_high_jaccard",
            "test_ngram_jaccard_default_lsh_path",
            "test_ngram_jaccard_shingle_df_cap",
            "test_ngram_jaccard_rejects_zero_shingle_cap",
            "test_hot_bucket_guard_noop_when_under_cap",
            "test_hot_bucket_guard_bounds_candidates",
            "test_ngram_jaccard_forwards_bucket_cap",
            "test_band_size_must_divide_num_hashes",
            "test_bucket_pairs_reuse_one_keyed_exchange",
        )
    ),
]


def _one_json_line(out: str) -> bool:
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        return len(lines) == 1 and isinstance(json.loads(lines[0]), dict)
    except ValueError:
        return False


def run(label: str, cmd: list[str], env: dict | None = None,
        one_json_line: bool = False) -> tuple[str, float, int]:
    print(f"\n=== {label}: {' '.join(cmd)}", flush=True)
    t0 = time.monotonic()
    if one_json_line:
        p = subprocess.run(cmd, cwd=REPO, env=env, stdout=subprocess.PIPE, text=True)
        print(p.stdout, end="", flush=True)
        rc = p.returncode or (0 if _one_json_line(p.stdout) else 1)
    else:
        rc = subprocess.call(cmd, cwd=REPO, env=env)
    dt = time.monotonic() - t0
    print(f"=== {label}: {'OK' if rc == 0 else f'FAILED rc={rc}'} ({dt:.1f}s)",
          flush=True)
    return label, dt, rc


def main() -> int:
    fast = "--fast" in sys.argv[1:]
    sf = os.environ.get(
        "SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.001" if fast else "/root/testdata/sf0.01",
    )
    py = sys.executable
    steps: list[tuple[str, list[str]]] = []
    steps.append(("pytest", [py, "-m", "pytest", *(FAST_TESTS if fast else ["tests/"]), "-q"]))
    steps.append((f"oracle@{sf}",
                  [py, "scripts/cross_scale_check.py", sf, CPUS]))
    for variant, flag in (("adversarial", None),
                          ("adversarial_skew", "--skew"),
                          ("adversarial_empty", "--empty")):
        out = os.path.join(REPO, "bench_data", variant)
        gen = [py, "scripts/adversarial_tables.py"]
        if flag:
            gen.append(flag)
        gen.append(out)
        # the oracle sweep depends on its gen step: mark it so a failed
        # generation skips the sweep instead of re-checking stale tables
        steps.append((f"gen:{variant}", gen))
        steps.append((f"oracle@{variant}",
                      [py, "scripts/cross_scale_check.py", out, CPUS]))
    workloads = ["real_multichunk"] if fast else ["real_multichunk", "incremental_merge"]
    for workload in workloads:
        steps.append((f"perfbench:{workload}",
                      [py, "perfbench/run.py", "--workload", workload,
                       "--seed", "1", "--seconds", "1", "--trace", "0"]))

    results = []
    failed_gens: set[str] = set()
    for label, cmd in steps:
        if label.startswith("oracle@adversarial") and \
                label.split("@", 1)[1] in failed_gens:
            print(f"\n=== {label}: SKIPPED (generation failed)", flush=True)
            results.append((label, 0.0, 1))
            continue
        results.append(run(label, cmd))
        if label.startswith("gen:") and results[-1][2] != 0:
            failed_gens.add(label.split(":", 1)[1])
    # the scaling bench's Python workers import the package from the repo
    results.append(run(
        "scaling_run",
        [py, "scripts/scaling_run.py", "perfbench/corpus/real_files.parquet", "4"],
        env={**os.environ, "PYTHONPATH": REPO}, one_json_line=True,
    ))
    # bench.py at the driver contract's own tables (__spark_entry__.SF0001)
    sys.path.insert(0, REPO)
    from __spark_entry__ import SF0001

    results.append(run(
        "bench@sf0.001",
        [py, "bench.py"],
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": CPUS,
             "SPARK_GRAFT_SF_DIR": SF0001, "SPARK_GRAFT_REPEATS": "1"},
        one_json_line=True,
    ))
    print("\n==== gate summary ====")
    bad = 0
    for label, dt, rc in results:
        print(f"  {'PASS' if rc == 0 else 'FAIL'}  {label:28s} {dt:8.1f}s")
        bad += rc != 0
    print(f"==== {'ALL GREEN' if not bad else f'{bad} step(s) FAILED'} ====")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
