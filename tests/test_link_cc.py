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
    combine_entities_data,
    merge_dicts_preferring_non_na,
    reconcile_entities,
)
from scrapontologies_spark.operators.cc import (
    canonicalize_entities,
    canonicalize_triples,
    connected_components,
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


def _full_outer_reconcile(existing, new):
    """Pure-Python full outer on id (NULL never matches): the A1 merge
    where both payloads are non-empty, else the existing payload unless it
    is empty/NULL — the reconcile contract, row for row, duplicates on
    both sides included."""
    def absent(a):
        return a is None or a == ""

    def merged(e, n):
        typ = e[1] if e[1] is not None else n[1]
        if absent(e[2]) or absent(n[2]):
            return (e[0], typ, n[2] if absent(e[2]) else e[2])
        return (e[0], typ, canonical_json(
            merge_dicts_preferring_non_na(json.loads(e[2]), json.loads(n[2]))
        ))

    out = []
    for e in existing:
        hits = [n for n in new if e[0] is not None and n[0] == e[0]]
        out += [merged(e, n) for n in hits] or [merged(e, (e[0], None, None))]
    e_ids = {e[0] for e in existing if e[0] is not None}
    out += [merged((n[0], None, None), n) for n in new if n[0] not in e_ids]
    return out


def test_salted_reconcile_equals_plain(spark):
    """The salted reconcile == a pure-Python full outer row for row: a hot
    id carried by many new rows, both-sided rows (the merge UDF),
    one-sided rows on either side, rows whose attributes are empty or NULL
    on one or both sides, NULL ids on both sides, and ids duplicated on
    both sides (a full outer emits their cross product)."""
    existing_rows = [
        ("hot", "object", '{"a":1}'),
        ("both", "object", '{"x":[1]}'),
        ("e_only", "object", '{"k":"v"}'),
        ("e_empty", "object", ""),
        ("empty_e", "object", ""),
        ("empty_n", "object", '{"z":3}'),
        ("null_e", "object", None),
        (None, "object", '{"nid":"e"}'),
        ("dup", "object", '{"d":[1]}'),
        ("dup", "object", '{"d":[2]}'),
    ]
    new_rows = [("hot", "object", f'{{"n":{i}}}') for i in range(64)] + [
        ("both", "function", '{"x":[2],"y":"NA"}'),
        ("n_only", "object", '{"q":1}'),
        ("n_null", "object", None),
        ("empty_e", "object", '{"y":2}'),
        ("empty_n", "object", ""),
        ("null_e", "object", '{"w":0}'),
        (None, "object", '{"nid":"n"}'),
        ("dup", "object", '{"d":[3]}'),
        ("dup", "object", ""),
    ]
    got = reconcile(
        spark.createDataFrame(existing_rows, ENT_SCHEMA),
        spark.createDataFrame(new_rows, ENT_SCHEMA),
    ).collect()
    expected = _full_outer_reconcile(existing_rows, new_rows)
    assert sorted(map(tuple, got), key=str) == sorted(expected, key=str)
    assert sum(r[0] == "hot" for r in expected) == 64
    assert sum(r[0] == "dup" for r in expected) == 4
    assert sum(r[0] is None for r in expected) == 2
    assert {r[0] for r in expected} == {
        "hot", "both", "e_only", "e_empty", "empty_e", "empty_n", "null_e",
        "n_only", "n_null", "dup", None,
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
    """salted_join == the plain left join row for row, unmatched fact keys
    (null-padded) and unmatched dim keys (dropped) included."""
    fact = spark.createDataFrame(
        [(i % 7, f"f{i}") for i in range(200)], "k int, payload string"
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(2, 9)], "k int, name string"
    )
    plain = sorted(
        (r.k, r.payload, r.name) for r in fact.join(dim, "k", "left").collect()
    )
    salted = sorted(
        (r.k, r.payload, r.name) for r in salted_join(fact, dim, "k").collect()
    )
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


def _star_edges(entities):
    """The alias rule as an edge list (module id, lib::<basename stem>),
    the CC reference's input for module_alias_labels."""
    stem = F.regexp_extract(
        F.col("id"), r"(?:^|/)([A-Za-z0-9_]+)\.[A-Za-z0-9]+$", 1
    )
    return (
        entities.filter(F.col("type") == "module")
        .select(F.col("id").alias("u"), F.concat(F.lit("lib::"), stem).alias("v"))
        .filter(F.col("v") != "lib::")
    )


def _preferred(members):
    """Min real member, else (all aliases) min member."""
    real = [m for m in members if not m.startswith(("lib::", "term::"))]
    return min(real) if real else min(members)


def _module_labels(spark, ids):
    ents = spark.createDataFrame([(i, "module", "{}") for i in ids], ENT_SCHEMA)
    return {r.node: r.component for r in module_alias_labels(ents).collect()}


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
    alias = _star_edges(entities)
    assert alias.count() > 0
    raw_labels = connected_components(alias)
    labels = module_alias_labels(entities)
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
    assert set(pref_map) == set(oracle)
    for n, root in oracle.items():
        assert pref_map[n] == _preferred(comp_members[root]), n

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
    closed = set(module_alias_labels(ents).collect())
    cc = {r.node: r.component for r in connected_components(_star_edges(ents)).collect()}
    members: dict = {}
    for n, c in cc.items():
        members.setdefault(c, []).append(n)
    reference = {(n, _preferred(members[c])) for n, c in cc.items()}
    assert closed == reference
    assert ("lib::x/core.py", "lib::core") in closed
    assert ("lib::utils", "lib::x/utils.py") not in closed
    doc_rows.unpersist()


def test_module_alias_labels_alias_only_component(spark):
    """A star whose members all carry an alias prefix takes its min node,
    the centre included."""
    got = _module_labels(spark, ["lib::x/b.py", "term::y/b.py", "lib::a/c.py"])
    assert got == {
        "lib::x/b.py": "lib::b", "term::y/b.py": "lib::b", "lib::b": "lib::b",
        "lib::a/c.py": "lib::a/c.py", "lib::c": "lib::a/c.py",
    }


def test_module_alias_labels_hostile_ids(spark):
    """No sentinel-character trap: a real id starting with '~' must survive
    intact as canonical, and a non-ASCII real id must still beat its lib::
    centre (a '~'-prefixed sort key would strip the former's first
    character and lose to the latter)."""
    got = _module_labels(spark, ["~vendor/mod.py", "привет/privet.py"])
    assert got == {
        "~vendor/mod.py": "~vendor/mod.py", "lib::mod": "~vendor/mod.py",
        "привет/privet.py": "привет/privet.py",
        "lib::privet": "привет/privet.py",
    }


def test_module_alias_stem_is_the_whole_basename(spark):
    """The stem is the whole basename minus one extension: `api.d.ts` and
    `skip-first.py` have no stem, so unrelated modules never merge through
    `lib::d` or `lib::first`, and canonicalization keeps all four ids."""
    ids = ["a/types/index.d.ts", "b/src/api.d.ts", "c/skip-first.py", "d/first.py"]
    assert _module_labels(spark, ids) == {
        "d/first.py": "d/first.py", "lib::first": "d/first.py",
    }
    ents = spark.createDataFrame([(i, "module", "{}") for i in ids], ENT_SCHEMA)
    canon = canonicalize_entities(ents, module_alias_labels(ents))
    assert sorted(r.id for r in canon.collect()) == ids


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


def _python_fold(entity_rows, label_rows):
    """canonicalize_entities in plain Python: per component, the A1 fold of
    the members' attributes in ascending-id order; the type is the
    canonical member's, else (no row for the canonical id) the min-id
    member's.  Unlabeled rows pass through."""
    component = dict(label_rows)
    members: dict = {}
    out = []
    for row in entity_rows:
        if row[0] in component:
            members.setdefault(component[row[0]], []).append(row)
        else:
            out.append(row)
    for cid, rows in members.items():
        rows = sorted(rows, key=lambda r: r[0])
        typ = next((r[1] for r in rows if r[0] == cid), rows[0][1])
        merged = combine_entities_data([json.loads(r[2] or "{}") for r in rows])
        out.append((cid, typ, canonical_json(merged)))
    return out


def test_canonicalize_entities_matches_python_fold(spark):
    """The streamed fold == the plain-Python fold row for row, with 7-row
    Arrow batches so component runs straddle batches: a 600-member star
    whose list attributes pin the ascending-id fold order, two 2-member
    components (one with a non-min canonical id), a component whose
    canonical id has no entity row, NULL and '' attributes, non-ASCII and
    '~' ids, and an unlabeled pass-through row."""
    star = [
        (f"org/repo{i:03d}/utils.py", f"t{i % 3}",
         canonical_json({f"k{i % 7}": f"v{i}", "l": [i]}))
        for i in range(600)
    ]
    entity_rows = star + [
        ("a", "t", '{"x":1}'),
        ("b", "u", None),
        ("c", "alias", '{"y":[1],"z":"NA"}'),
        ("d", "module", '{"y":[2],"z":"keep"}'),
        ("x1", "first", ""),
        ("x2", "second", '{"w":2}'),
        ("~vendor/mod.py", "module", '{"m":"tilde"}'),
        ("привет/mod.py", "module", '{"m":"privet","n":[0]}'),
        ("solo", "lone", '{"s":1}'),
    ]
    label_rows = [(r[0], "org/repo000/utils.py") for r in star] + [
        ("a", "a"), ("b", "a"),
        ("c", "d"), ("d", "d"),
        ("x0", "x0"), ("x1", "x0"), ("x2", "x0"),
        ("lib::mod", "~vendor/mod.py"), ("~vendor/mod.py", "~vendor/mod.py"),
        ("привет/mod.py", "~vendor/mod.py"),
    ]
    ents = spark.createDataFrame(entity_rows, ENT_SCHEMA)
    labels = spark.createDataFrame(label_rows, "node string, component string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = canonicalize_entities(ents, labels).collect()
    finally:
        spark.conf.set(key, saved)
    expected = _python_fold(entity_rows, label_rows)
    assert sorted(map(tuple, got)) == sorted(expected)
    assert len(got) == 6
    [giant] = [r for r in got if r.id == "org/repo000/utils.py"]
    assert json.loads(giant.attributes)["l"] == list(range(600))


def test_canonicalize_entities_is_one_map_in_pandas(spark):
    """One Python stage for every component size: a single MapInPandas,
    no scalar pandas UDF and no per-group applyInPandas."""
    ents = spark.createDataFrame([("a", "t", "{}"), ("b", "t", "{}")], ENT_SCHEMA)
    labels = spark.createDataFrame(
        [("a", "a"), ("b", "a")], "node string, component string"
    )
    plan = (
        canonicalize_entities(ents, labels)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_cc_releases_superseded_round_checkpoints(spark):
    """Each CC round localCheckpoints; superseded rounds' blocks must be
    released inside the operator (DataFrame.unpersist cannot reach them —
    accumulating one block set per round is this repo's measured ~30 GB
    heap-growth failure mode).  The FINAL round's blocks stay live: the
    returned labels read them."""
    from scrapontologies_spark.operators.util import persisted_rdd_ids

    before = persisted_rdd_ids(spark)
    # a path graph needs several LS/SS rounds
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(40)], "u string, v string"
    )
    labels = connected_components(edges)
    assert labels.count() == 41
    leaked = persisted_rdd_ids(spark) - before
    # at most the final round's checkpoint survives (it backs `labels`)
    assert len(leaked) <= 1, leaked
