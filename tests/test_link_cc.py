"""M3 tests: distributed reconcile (J1/M6) vs the pure oracle, salted join
equivalence, and large-star/small-star CC vs a union-find oracle."""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from scrapontologies_spark.functions.semantics import (
    Entity,
    canonical_json,
    reconcile_entities,
)
from scrapontologies_spark.operators.cc import (
    canonicalize_entities,
    prefer_real_canonical,
    canonicalize_triples,
    connected_components,
    module_alias_edges,
    module_alias_labels,
)
from scrapontologies_spark.operators.link import (
    reconcile,
    referential_integrity,
    salted_join,
)

ENT_SCHEMA = "id string, type string, attributes string"


def _ents_df(spark, ents):
    return spark.createDataFrame(
        [(e.id, e.type, canonical_json(e.attributes)) for e in ents], ENT_SCHEMA
    )


def test_reconcile_matches_pure_oracle(spark):
    rng = random.Random(7)
    existing = [
        Entity(f"e{i}", "object", {"a": rng.randrange(3), "b": "NA", "l": [i]})
        for i in rng.sample(range(30), 18)
    ]
    new = [
        Entity(f"e{i}", "object", {"b": rng.randrange(5), "c": [i, "NA"], "l": [i + 100]})
        for i in rng.sample(range(30), 20)
    ]
    got = {
        r.id: (r.type, json.loads(r.attributes))
        for r in reconcile(_ents_df(spark, existing), _ents_df(spark, new)).collect()
    }
    expected = {
        e.id: (e.type, e.attributes) for e in reconcile_entities(existing, new)
    }
    assert got == expected


def test_reconcile_empty_existing_copies_new(spark):
    new = [Entity("x", "object", {"k": 1})]
    empty = spark.createDataFrame([], ENT_SCHEMA)
    got = reconcile(empty, _ents_df(spark, new)).collect()
    assert len(got) == 1 and got[0].id == "x" and json.loads(got[0].attributes) == {"k": 1}


def test_salted_reconcile_equals_plain(spark):
    """reconcile(salt=8) == reconcile(salt=0) row for row: a hot id carried
    by many new rows, both-sided rows (the merge UDF), one-sided rows on
    either side, and rows whose attributes are empty or NULL on one or
    both sides."""
    existing = spark.createDataFrame(
        [
            ("hot", "object", '{"a":1}'),
            ("both", "object", '{"x":[1]}'),
            ("e_only", "object", '{"k":"v"}'),
            ("e_empty", "object", ""),
            ("empty_e", "object", ""),
            ("empty_n", "object", '{"z":3}'),
            ("null_e", "object", None),
        ],
        ENT_SCHEMA,
    )
    new = spark.createDataFrame(
        [("hot", "object", f'{{"n":{i}}}') for i in range(64)]
        + [
            ("both", "function", '{"x":[2],"y":"NA"}'),
            ("n_only", "object", '{"q":1}'),
            ("n_null", "object", None),
            ("empty_e", "object", '{"y":2}'),
            ("empty_n", "object", ""),
            ("null_e", "object", '{"w":0}'),
        ],
        ENT_SCHEMA,
    )
    salted = sorted(map(tuple, reconcile(existing, new, salt=8).collect()), key=str)
    plain = sorted(map(tuple, reconcile(existing, new, salt=0).collect()), key=str)
    assert salted == plain
    assert sum(r[0] == "hot" for r in plain) == 64
    assert {r[0] for r in plain} == {
        "hot", "both", "e_only", "e_empty", "empty_e", "empty_n", "null_e",
        "n_only", "n_null",
    }


def test_pagerank_matches_python_power_iteration(spark):
    """Fixed-iteration PageRank == a driver-side power iteration on the
    same graph; duplicate edges count once; dangling nodes (no out-edges)
    keep the base (1-d) and leak their mass (no-redistribution variant)."""
    from scrapontologies_spark.operators.graph import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "b"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, iters=5).collect()}

    uniq = sorted(set(edges))
    nodes = sorted({u for u, _ in uniq} | {v for _, v in uniq})
    deg = {}
    for u, _ in uniq:
        deg[u] = deg.get(u, 0) + 1
    rank = {n: 1.0 for n in nodes}
    for _ in range(5):
        nxt = {n: 0.0 for n in nodes}
        for u, v in uniq:
            nxt[v] += rank[u] / deg[u]
        rank = {n: 0.15 + 0.85 * nxt[n] for n in nodes}
    assert set(got) == set(nodes)
    for n in nodes:
        assert got[n] == pytest.approx(rank[n], abs=1e-12), n


def test_salted_join_equals_plain_join(spark):
    fact = spark.createDataFrame(
        [(i % 5, f"f{i}") for i in range(200)], "k int, payload string"
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(5)], "k int, name string")
    plain = {(r.k, r.payload, r.name) for r in fact.join(dim, "k").collect()}
    salted = {
        (r.k, r.payload, r.name)
        for r in salted_join(fact, dim, "k", salt=4).collect()
    }
    assert salted == plain


def _uf_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 30, 25), (2, 60, 80), (3, 40, 10)])
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges):
    rng = random.Random(seed)
    edges = [
        (f"n{rng.randrange(n_nodes):03d}", f"n{rng.randrange(n_nodes):03d}")
        for _ in range(n_edges)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "u string, v string")
    got = {r.node: r.component for r in connected_components(df).collect()}
    expected = _uf_oracle(edges)
    # oracle labels every touched node by component min; ours must agree on
    # exactly the touched set
    comp_min = {}
    for n, root in expected.items():
        comp_min.setdefault(root, []).append(n)
    canon = {n: min(comp_min[root]) for n, root in expected.items()}
    assert got == canon


def test_cc_giant_star_skew(spark):
    # one hub connected to 500 spokes — the hot-stem case
    edges = [("hub", f"spoke{i:04d}") for i in range(500)]
    df = spark.createDataFrame(edges, "u string, v string")
    labels = {r.node: r.component for r in connected_components(df).collect()}
    assert set(labels.values()) == {"hub"}
    assert len(labels) == 501


def test_canonicalize_and_integrity_end_to_end(spark):
    """Alias edges from import stems → CC → triple rewrite, on a small
    synthetic pipeline run."""
    from scrapontologies_spark.operators.extract import (
        extract_document_rows,
        module_entities_view,
        symbol_entities_view,
        triples_view,
    )
    from scrapontologies_spark.sources.corpus import corpus_df

    doc_rows = extract_document_rows(
        corpus_df(spark, 40), 512, with_schemas=False
    ).persist()
    entities = (
        module_entities_view(doc_rows)
        .select("id", "type", "attributes")
        .unionByName(symbol_entities_view(doc_rows))
    )
    alias = module_alias_edges(entities)
    assert alias.count() > 0
    raw_labels = connected_components(alias)
    labels = prefer_real_canonical(raw_labels)
    canon = canonicalize_triples(triples_view(doc_rows), labels)

    # raw CC contract: every node maps to its component min
    label_map = {r.node: r.component for r in raw_labels.collect()}
    oracle = _uf_oracle([(r.u, r.v) for r in alias.collect()])
    comp_members: dict = {}
    for n, root in oracle.items():
        comp_members.setdefault(root, []).append(n)
    expected_min = {n: min(comp_members[root]) for n, root in oracle.items()}
    assert label_map == expected_min

    # preferred-canonical contract: canonical = min REAL member when the
    # component has any non-alias node
    pref_map = {r.node: r.component for r in labels.collect()}
    for n, root in oracle.items():
        real = [m for m in comp_members[root] if not m.startswith(("lib::", "term::"))]
        expect = min(real) if real else min(comp_members[root])
        assert pref_map[n] == expect, n

    # rewrite leaves no non-canonical members anywhere, and every canonical
    # module subject is a real entity id
    non_canonical = {n for n, c in pref_map.items() if n != c}
    objs = {r.obj for r in canon.collect()}
    subjs = {r.subj for r in canon.collect()}
    assert not (objs & non_canonical) and not (subjs & non_canonical)

    # entity canonicalization: merged table keyed by canonical ids, and
    # referential integrity retains all defines/has_method triples
    ents_canon = canonicalize_entities(entities, labels)
    ids = {r.id for r in ents_canon.select("id").collect()}
    assert not (ids & non_canonical)
    ok = referential_integrity(canon, ents_canon)
    for rel in ("defines", "containment"):
        n_in = canon.filter(F.col("rel_type") == rel).count()
        n_out = ok.filter(F.col("rel_type") == rel).count()
        assert n_in == n_out, f"{rel}: {n_in} -> {n_out} lost by integrity"

    # the job's closed-form star labelling == the CC reference, on these
    # entities plus hand-made edge cases: a hot stem shared by many repos,
    # a module id without '/' (NULL repo), and a repo named lib::x (real
    # ids carrying the alias prefix, alone and sharing a star)
    extra = spark.createDataFrame(
        [(f"r{i}/pkg/utils.py", "module", "{}") for i in range(40)]
        + [
            ("setup.py", "module", "{}"),
            ("lib::x/core.py", "module", "{}"),
            ("lib::x/utils.py", "module", "{}"),
        ],
        ENT_SCHEMA,
    )
    ents = entities.unionByName(extra)
    closed = set(prefer_real_canonical(module_alias_labels(ents)).collect())
    reference = set(
        prefer_real_canonical(connected_components(module_alias_edges(ents))).collect()
    )
    assert closed == reference
    assert ("lib::x/core.py", "lib::core") in closed
    assert ("lib::utils", "lib::x/utils.py") not in closed
    doc_rows.unpersist()


def test_prefer_real_canonical_alias_only_component(spark):
    labels = spark.createDataFrame(
        [("lib::b", "lib::a"), ("lib::a", "lib::a")], "node string, component string"
    )
    out = {r.node: r.component for r in prefer_real_canonical(labels).collect()}
    assert out == {"lib::a": "lib::a", "lib::b": "lib::a"}


def test_prefer_real_canonical_hostile_ids(spark):
    """No sentinel-character trap: a real id starting with '~' must survive
    intact as canonical, and a non-ASCII real id must still beat an alias
    (the old '~'-prefixed sort key stripped the former's first character
    and lost to the latter)."""
    from scrapontologies_spark.operators.cc import prefer_real_canonical

    labels = spark.createDataFrame(
        [
            ("~vendor/mod.py", "c1"), ("lib::vendor", "c1"),
            ("привет/mod.py", "c2"), ("lib::privet", "c2"),
        ],
        "node string, component string",
    )
    got = {r.node: r.component for r in prefer_real_canonical(labels).collect()}
    assert got["lib::vendor"] == "~vendor/mod.py"
    assert got["~vendor/mod.py"] == "~vendor/mod.py"
    assert got["lib::privet"] == "привет/mod.py"


def test_canonicalize_entities_keeps_canonical_member_type(spark):
    """The merged row carries the CANONICAL node's type when that node has
    an entity row, not the lexicographically smallest member's."""
    from scrapontologies_spark.operators.cc import canonicalize_entities

    ents = spark.createDataFrame(
        [("a_alias", "alias_kind", '{"x":"1"}'), ("b_mod", "module", '{"y":"2"}')],
        "id string, type string, attributes string",
    )
    labels = spark.createDataFrame(
        [("a_alias", "b_mod"), ("b_mod", "b_mod")],
        "node string, component string",
    )
    [row] = canonicalize_entities(ents, labels).collect()
    assert (row.id, row.type) == ("b_mod", "module")


def test_canonicalize_giant_component_paths_agree(spark):
    """A hot-stem giant star must take the streamed per-group path (the
    batched collect_list form would buffer the whole component in one
    UnsafeRow) and produce EXACTLY what the batched path produces when the
    cap is raised above the component size."""
    import json

    from pyspark.sql import functions as F

    from scrapontologies_spark.operators.cc import canonicalize_entities

    n = 600  # > default batch_cap=256
    ents = spark.range(n).select(
        F.concat(F.lit("org/repo"), F.col("id"), F.lit("/utils.py")).alias("id"),
        F.lit("module").alias("type"),
        F.concat(F.lit('{"k'), F.col("id") % 7, F.lit('": "v"}')).alias(
            "attributes"
        ),
    )
    # one giant component: every node labels to the same canonical, plus a
    # small 2-node component to exercise both paths in one call
    labels = ents.select(
        F.col("id").alias("node"), F.lit("org/repo0/utils.py").alias("component")
    )
    small_ents = spark.createDataFrame(
        [("a", "t", '{"x": 1}'), ("b", "t", '{"y": 2}')],
        "id string, type string, attributes string",
    )
    ents = ents.unionByName(small_ents)
    labels = labels.unionByName(
        spark.createDataFrame(
            [("a", "a"), ("b", "a")], "node string, component string"
        )
    )

    # batch_cap EXPLICIT, not the default: the test exists to pin the
    # streamed per-group path, and a future default bump past 600 would
    # silently turn this into batched==batched
    via_split = canonicalize_entities(ents, labels, batch_cap=256)
    via_batch = canonicalize_entities(ents, labels, batch_cap=10_000)
    a = {(r.id, r.type, r.attributes) for r in via_split.collect()}
    b = {(r.id, r.type, r.attributes) for r in via_batch.collect()}
    assert a == b
    giant_row = {r for r in a if r[0] == "org/repo0/utils.py"}
    assert len(giant_row) == 1
    merged = json.loads(next(iter(giant_row))[2])
    assert set(merged) == {f"k{i}" for i in range(7)}  # all attrs folded


def test_salted_join_rejects_dim_driven_hows(spark):
    """right/full_outer would emit salt-1 spurious null-padded rows per
    unmatched dim key (each dim replica matches nothing); salted_join must
    reject them instead of silently duplicating data."""
    from scrapontologies_spark.operators.link import salted_join

    fact = spark.createDataFrame([("a", 1)], "id string, x int")
    dim = spark.createDataFrame([("a", 2), ("b", 3)], "id string, y int")
    for how in ("right", "full_outer", "outer", "full"):
        with pytest.raises(ValueError):
            salted_join(fact, dim, "id", how=how, salt=4)
    # fact-driven joins stay value-identical to the unsalted join
    out = salted_join(fact, dim, "id", how="left", salt=4)
    assert [(r.id, r.x, r.y) for r in out.collect()] == [("a", 1, 2)]


def test_connected_components_rejects_checkpoint_every_zero(spark):
    """0 silently meant 'never truncate lineage' — the plan grows ~4^round
    and Catalyst analysis explodes long before max_iter; reject it."""
    edges = spark.createDataFrame([("a", "b")], "u string, v string")
    with pytest.raises(ValueError):
        connected_components(edges, checkpoint_every=0)


def test_prefer_real_canonical_empty_prefixes_is_min_member(spark):
    """With no alias namespaces every member is 'real': the re-pick must
    degrade to min-member (a no-op on CC output), not raise on ~None."""
    labels = spark.createDataFrame(
        [("b", "a"), ("a", "a"), ("z", "a")], "node string, component string"
    )
    out = prefer_real_canonical(labels, alias_prefixes=())
    assert {(r.node, r.component) for r in out.collect()} == {
        ("a", "a"), ("b", "a"), ("z", "a")
    }


def test_cc_releases_superseded_round_checkpoints(spark):
    """Each CC round localCheckpoints; superseded rounds' blocks must be
    released inside the operator (DataFrame.unpersist cannot reach them —
    accumulating one block set per round is this repo's measured ~30 GB
    heap-growth failure mode).  The FINAL round's blocks stay live: the
    returned labels read them."""
    from scrapontologies_spark.operators.cc import _persistent_rdd_ids

    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    # a path graph needs several LS/SS rounds
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(40)], "u string, v string"
    )
    labels = connected_components(edges)
    assert labels.count() == 41
    leaked = _persistent_rdd_ids(sc) - before
    # at most the final round's checkpoint survives (it backs `labels`)
    assert len(leaked) <= 1, leaked
