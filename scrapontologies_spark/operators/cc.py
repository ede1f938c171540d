"""Connected-components canonicalization — large-star/small-star.

Generalizes the reference's exact-id entity linking (J1) to transitive
alias resolution: entity ids that should unify beyond string equality form
alias edges; each connected component canonicalizes to its minimum id
(deterministic tie-break).  Not present in the reference at all (SURVEY §7
hard-list #2) — additive, so parity tests pin only the exact-id path.

Algorithm: alternating large-star/small-star DataFrame self-joins
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14),
O(log n) rounds, skew-resistant: large-star splits high-degree neighborhoods
instead of funneling them through one reducer.  Each round localCheckpoints
to truncate lineage; convergence = edge-set fingerprint (count + xxhash sum)
stable — an O(1)-size driver check, no collect of the edge set.

The code corpus's module-alias graph needs none of this: it is a disjoint
union of stars, which :func:`module_alias_labels` labels in one closed-form
pass with its preferred-canonical ids (the KG job's ``alias_labels``
stage).  The rounds serve graphs of unknown shape — duplicate clustering
and the dataset queries.

:func:`canonicalize_entities` folds each component's entity rows into one
with a single streamed pass (one ``mapInPandas`` over rows sorted by
component and id), whatever the component's size: no size split, no cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import persisted_rdd_ids, release_rdds

# rounds before connected_components gives up (O(log n) rounds converge)
_MAX_ROUNDS = 50


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) symmetric → for each u: m = min(N(u) ∪ {u}); emit (v, m) for
    v ∈ N(u) with v > u."""
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """directed (u,v) with v ≤ u → per u: m = min(N≤(u) ∪ {u});
    emit (w, m) for w ∈ N≤(u) ∪ {u}."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    joined = directed.join(m, "u")
    out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        joined.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _fingerprint(edges: DataFrame) -> tuple:
    # bit_xor is overflow-free (ANSI mode) and order-independent; edges are
    # distinct so xor-cancellation cannot collide consecutive iterations
    # with different edge sets except with ~2^-64 probability.
    row = edges.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(u string, v string) → labels(node string, component string)
    with component = min node id of the connected component.

    Driver loop with convergence detection per SURVEY §4; isolated nodes
    (no edges) are the identity mapping and are NOT emitted — callers
    coalesce(label, id).
    """
    spark = edges.sparkSession
    cur = edges.select("u", "v").filter(F.col("u") != F.col("v")).distinct()
    prev_fp = None
    prev_block_ids: set = set()
    for _ in range(_MAX_ROUNDS):
        cur = _small_star(_large_star(cur))
        # LAZY checkpoint every round (an unchecked plan grows ~4× a round):
        # the fingerprint aggregation below is the materializing action, so
        # each round costs ONE Spark job (compute + checkpoint + convergence
        # check together).
        before = persisted_rdd_ids(spark)
        cur = cur.localCheckpoint(eager=False)
        fp = _fingerprint(cur)
        # round i's blocks are live now, so round i-1's checkpoint is pure
        # garbage — release it (left alone, one block set per round piles
        # up until a multi-minute full GC: this repo's measured ~30 GB
        # heap-growth failure mode).  The FINAL round's blocks stay live:
        # the returned labels read them.
        release_rdds(spark, prev_block_ids)
        prev_block_ids = persisted_rdd_ids(spark) - before
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(f"connected_components did not converge in {_MAX_ROUNDS} rounds")
    # After convergence every edge is (node, root): u's min-neighbor is the
    # component root.  Roots map to themselves.
    labels = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return labels.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def canonicalize_triples(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the component labels (identity where
    unlabeled).  Two broadcast-or-shuffle left joins; dedup after rewrite."""
    lab_s = labels.select(
        F.col("node").alias("subj"), F.col("component").alias("_cs")
    )
    lab_o = labels.select(F.col("node").alias("obj"), F.col("component").alias("_co"))
    return (
        triples.join(lab_s, "subj", "left")
        .join(lab_o, "obj", "left")
        .select(
            F.coalesce("_cs", "subj").alias("subj"),
            "pred",
            F.coalesce("_co", "obj").alias("obj"),
            "rel_type",
        )
        .distinct()
    )


def canonicalize_entities(entities: DataFrame, labels: DataFrame) -> DataFrame:
    """Merge entity rows that canonicalize to the same id: group by the
    component label (identity where unlabeled) and fold attributes with the
    A1 merge in ascending-id order — a deterministic order for the
    order-sensitive merge (SURVEY §2.4 A1).

    One streamed fold for every component size: the labeled rows are
    hash-partitioned on ``component`` and sorted on (component, id), and
    one ``mapInPandas`` walks each partition's runs of equal component,
    keeping only the running merge.  A giant component (a hot alias stem
    like ``utils``, see :func:`module_alias_labels`) never sits in one row
    or one pandas group, so it has no size cap.  ``repartition``, not
    ``rebalance``: AQE may split a skewed rebalance partition, which would
    cut a run in two."""
    import json

    import pandas as pd

    from ..functions.semantics import canonical_json, merge_into_owned

    lab = labels.select(F.col("node").alias("id"), F.col("component"))
    # Scale split: only entities that actually carry a label go through the
    # Python merge (a tiny fraction — alias components are rare relative to
    # the entity universe); everything else passes through JVM-side.  The
    # label side is broadcast when small; AQE decides otherwise.
    labeled = entities.join(lab, "id", "inner")
    cols = ["id", "type", "attributes"]
    untouched = entities.join(lab.select("id"), "id", "left_anti").select(*cols)

    def close(run):
        return run[0], run[1], canonical_json(run[2])

    def fold_runs(batches):
        # the open run: [component, type, merged attributes, canonical seen].
        # Its type is the min-id row's until the CANONICAL member's row
        # (id == component) turns up — module_alias_labels may pick a
        # non-min id.  A run can straddle Arrow batches, so it is carried
        # across them and emitted after the last one.
        run = None
        for pdf in batches:
            done = []
            for comp, eid, typ, attrs in zip(*(pdf[c] for c in pdf.columns)):
                if run is None or comp != run[0]:
                    if run is not None:
                        done.append(close(run))
                    run = [comp, typ, {}, eid == comp]
                elif eid == comp and not run[3]:
                    run[1], run[3] = typ, True
                merge_into_owned(run[2], json.loads(attrs or "{}"))
            if done:
                yield pd.DataFrame(done, columns=cols)
        if run is not None:
            yield pd.DataFrame([close(run)], columns=cols)

    merged = (
        labeled.select("component", "id", "type", "attributes")
        .repartition("component")
        .sortWithinPartitions("component", "id")
        .mapInPandas(fold_runs, schema="id string, type string, attributes string")
    )
    return untouched.unionByName(merged)


def module_alias_labels(entities: DataFrame) -> DataFrame:
    """Component labels (node, component) of the code corpus's alias
    graph in one closed-form pass — no CC rounds.

    Alias rule: an import target ``lib::<stem>`` aliases every module whose
    basename is ``<stem>.<ext>`` (a basename with a '-' or a second '.',
    e.g. ``api.d.ts``, has none).  Each module has one centre and no module
    id (it contains a '.') is a centre, so the graph is a disjoint union of
    stars centred on the ``lib::<stem>`` nodes: grouping modules by centre
    IS the partition.  Hot stems (``utils``) make giant stars.

    Canonical id: the min REAL member, so the rewrite never erases real
    module identity behind an alias (once a 2× triple loss in referential
    integrity); an all-alias (lib::/term::) star takes its min node, centre
    included.  Conditional mins, not a sentinel sort key: a '~' marker
    would mangle real ids starting with '~' and lose to ids sorting above
    '~' (non-ASCII)."""
    mods = (
        entities.filter(F.col("type") == "module")
        .select(
            F.col("id").alias("node"),
            F.concat(
                F.lit("lib::"),
                F.regexp_extract(
                    F.col("id"), r"(?:^|/)([A-Za-z0-9_]+)\.[A-Za-z0-9]+$", 1
                ),
            ).alias("centre"),
        )
        .filter(F.col("centre") != "lib::")
        .distinct()
    )
    is_alias = F.col("node").startswith("lib::") | F.col("node").startswith("term::")
    canon = mods.groupBy("centre").agg(
        F.coalesce(
            F.min(F.when(~is_alias, F.col("node"))),
            F.least(F.min("node"), F.col("centre")),
        ).alias("component")
    )
    return (
        mods.join(canon, "centre")
        .select("node", "component")
        .unionByName(canon.select(F.col("centre").alias("node"), "component"))
    )
