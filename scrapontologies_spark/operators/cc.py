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
union of stars, which :func:`module_alias_labels` labels in closed form
(the KG job's ``alias_labels`` stage).  The rounds serve graphs of unknown
shape — duplicate clustering and the dataset queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def _persistent_rdd_ids(sc) -> set:
    """Ids of RDDs currently holding persisted/localCheckpoint blocks
    (JVM-side registry — the only handle that can release checkpoint
    blocks; same access pattern as bench._persistent_ids)."""
    it = sc._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _release_rdds(sc, rdd_ids: set) -> None:
    m = sc._jsc.sc().getPersistentRDDs()
    for rdd_id in rdd_ids:
        if m.contains(rdd_id):
            m.apply(rdd_id).unpersist(False)


def _fingerprint(edges: DataFrame) -> tuple:
    # bit_xor is overflow-free (ANSI mode) and order-independent; edges are
    # distinct so xor-cancellation cannot collide consecutive iterations
    # with different edge sets except with ~2^-64 probability.
    row = edges.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(
    edges: DataFrame, max_iter: int = 50, checkpoint_every: int = 1
) -> DataFrame:
    """edges(u string, v string) → labels(node string, component string)
    with component = min node id of the connected component.

    Driver loop with convergence detection per SURVEY §4; isolated nodes
    (no edges) are the identity mapping and are NOT emitted — callers
    coalesce(label, id).
    """
    if checkpoint_every < 1:
        # 0 would silently disable lineage truncation: each round embeds
        # the previous round's plan ~4× (two unions, two join sides), so
        # the unresolved plan grows 4^i and Catalyst analysis dies long
        # before max_iter
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    sc = edges.sparkSession.sparkContext
    cur = edges.select("u", "v").filter(F.col("u") != F.col("v")).distinct()
    prev_fp = None
    prev_block_ids: set = set()
    for i in range(max_iter):
        cur = _small_star(_large_star(cur))
        if i % checkpoint_every == 0:
            # LAZY checkpoint: the fingerprint aggregation below is the
            # materializing action, so each round costs ONE Spark job
            # (compute + checkpoint + convergence check together) instead
            # of an eager-checkpoint job plus a fingerprint job.
            before = _persistent_rdd_ids(sc)
            cur = cur.localCheckpoint(eager=False)
            fp = _fingerprint(cur)
            # round i's blocks are live now, so round i-1's checkpoint is
            # pure garbage — release it at the RDD level (unpersist() on
            # the DataFrame cannot reach localCheckpoint blocks; left
            # alone they accumulate one block set per round until a
            # multi-minute full GC lands on an arbitrary later query —
            # this repo's measured ~30 GB heap-growth failure mode).  The
            # FINAL round's blocks stay live: the returned labels read
            # them and a truncated lineage cannot recompute.
            _release_rdds(sc, prev_block_ids)
            prev_block_ids = _persistent_rdd_ids(sc) - before
        else:
            fp = _fingerprint(cur)
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # After convergence every edge is (node, root): u's min-neighbor is the
    # component root.  Roots map to themselves.
    labels = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return labels.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def prefer_real_canonical(
    labels: DataFrame, alias_prefixes: tuple = ("lib::", "term::")
) -> DataFrame:
    """Re-pick each component's canonical id to prefer REAL entity nodes
    over alias namespaces (lib::/term::): canonical = min member, but any
    alias-prefixed member sorts after every real member ('~' > ASCII
    letters).  A component with only alias members keeps its alias min.

    Without this, a lib:: node (lexicographically < 'org...') would become
    canonical and the rewrite would erase real module identity — observed
    as a 2× triple loss in referential integrity.

    Implemented as two conditional mins + coalesce, NOT a sentinel-prefixed
    sort key: a '~' marker would mangle real ids that themselves start with
    '~' (stripping their first character into a phantom node) and lose to
    real ids whose first codepoint sorts above '~' (DEL, non-ASCII)."""
    # lit(False) seed: with NO alias prefixes every member is "real" and
    # the re-pick degrades to min-member (instead of `~None` raising)
    is_alias = F.lit(False)
    for p in alias_prefixes:
        is_alias = is_alias | F.col("node").startswith(p)
    best = (
        labels.groupBy("component")
        .agg(
            F.min(F.when(~is_alias, F.col("node"))).alias("_real_min"),
            F.min("node").alias("_all_min"),
        )
        .select(
            "component",
            F.coalesce("_real_min", "_all_min").alias("_canonical"),
        )
    )
    return labels.join(best, "component").select(
        "node", F.col("_canonical").alias("component")
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


def canonicalize_entities(
    entities: DataFrame, labels: DataFrame, batch_cap: int = 256
) -> DataFrame:
    """Merge entity rows that canonicalize to the same id: group by the
    component label (identity where unlabeled) and fold attributes with the
    A1 merge in ascending-id order — a deterministic order for the
    order-sensitive merge (SURVEY §2.4 A1).

    Shape at scale, two-path by component size:

    - components with ≤ ``batch_cap`` members (the overwhelming majority —
      alias stars are usually 2-row): the JVM groups members per component
      (collect_list is a map-side-combining aggregation) and ONE
      Arrow-batched scalar pandas UDF merges thousands of components per
      batch in a plain-Python loop.  The round-2 applyInPandas-per-group
      form paid a pandas DataFrame construction per COMPONENT — ~0.2 ms ×
      200k tiny groups of pure overhead at sf1 (measured 42.9 s → 16.3 s
      isolated; job stage 44.3 → 11.5 s).
    - GIANT components (hot alias stems — module_alias_edges warns a stem
      like ``utils`` can alias one node per repo): streamed per-group
      applyInPandas, because collect_list would buffer the whole
      component's payloads in one UnsafeRow (BufferHolder's 2 GB hard cap)
      and one Arrow batch would carry up to maxRecordsPerBatch such rows.
      Rare by construction, so the per-group overhead is irrelevant here.

    Both paths run the same fold; equality is pinned by
    tests/test_link_cc.py::test_canonicalize_giant_component_paths_agree."""
    import json as _json

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.semantics import canonical_json, combine_entities_data

    lab = labels.select(F.col("node").alias("id"), F.col("component"))
    # Scale split: only entities that actually carry a label go through the
    # Python merge (a tiny fraction — alias components are rare relative to
    # the entity universe); everything else passes through JVM-side.  The
    # label side is broadcast when small; AQE decides otherwise.
    labeled = entities.join(lab, "id", "inner")
    untouched = entities.join(lab.select("id"), "id", "left_anti").select(
        "id", "type", "attributes"
    )

    def _fold(mem_sorted, cid):
        """The shared A1 fold over ascending-id member dicts."""
        merged = combine_entities_data(
            [
                _json.loads(m["attributes"]) if m["attributes"] else {}
                for m in mem_sorted
            ]
        )
        # the merged row keeps the CANONICAL member's type when that node
        # is in the group (prefer_real_canonical may pick a non-min id);
        # min-id type is only the fallback for components whose canonical
        # node carries no entity row
        typ = next(
            (m["type"] for m in mem_sorted if m["id"] == cid),
            mem_sorted[0]["type"],
        )
        return cid, typ, canonical_json(merged)

    # no type hints: Series->DataFrame inference is unsupported for
    # multi-arg struct-returning scalar UDFs; positional pandas_udf works
    def merge_members(cid, members):
        # sorted() is stable, matching the old sort_values semantics
        out = [
            _fold(sorted(mem, key=lambda m: m["id"]), c)
            for c, mem in zip(cid, members)
        ]
        return pd.DataFrame(out, columns=["id", "type", "attributes"])

    merge_members = pandas_udf(
        merge_members, "struct<id:string,type:string,attributes:string>"
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        row = _fold(pdf.to_dict("records"), pdf["component"].iloc[0])
        return pd.DataFrame([row], columns=["id", "type", "attributes"])

    sizes = labeled.groupBy("component").agg(F.count("*").alias("_n"))
    sized = labeled.join(sizes, "component")
    small = sized.filter(F.col("_n") <= batch_cap)
    giant = sized.filter(F.col("_n") > batch_cap)

    grouped = small.groupBy("component").agg(
        F.collect_list(F.struct("id", "type", "attributes")).alias("_members")
    )
    merged_small = grouped.select(
        merge_members(F.col("component"), F.col("_members")).alias("_m")
    ).select("_m.id", "_m.type", "_m.attributes")
    merged_giant = (
        giant.select("component", "id", "type", "attributes")
        .groupBy("component")
        .applyInPandas(
            merge_group, schema="id string, type string, attributes string"
        )
    )
    return untouched.unionByName(merged_small).unionByName(merged_giant)


def module_alias_edges(entities: DataFrame) -> DataFrame:
    """Alias rule for the code corpus: an import target ``lib::<stem>``
    aliases every module entity whose filename stem is <stem> (JVM-side
    regexp on the module id).  Hot stems produce giant star components;
    :func:`module_alias_labels` labels them without CC rounds."""
    mods = entities.filter(F.col("type") == "module").select(
        F.col("id").alias("u"),
        F.concat(
            F.lit("lib::"),
            F.regexp_extract(F.col("id"), r"([A-Za-z0-9_]+)\.[A-Za-z0-9]+$", 1),
        ).alias("v"),
    )
    return mods.filter(F.col("v") != "lib::")


def module_alias_labels(entities: DataFrame) -> DataFrame:
    """Component labels of the :func:`module_alias_edges` graph in closed
    form: (u, v) ∪ (v, v) as (node, component), no CC rounds.

    Every edge's v = ``lib::<stem>`` is a function of its u, so each u has
    exactly one neighbour; and every u matched ``\\.[A-Za-z0-9]+$`` — it
    contains a '.', which no v does — so no node is both a u and a v.  The
    graph is therefore a disjoint union of stars centred on the
    ``lib::<stem>`` nodes, and each star's centre labels its component.
    Same partition as ``connected_components(module_alias_edges(e))``
    (component ids differ: the centre, not the min member), so after
    :func:`prefer_real_canonical`, which depends only on the partition,
    the two agree row for row."""
    edges = module_alias_edges(entities)
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(edges.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )
