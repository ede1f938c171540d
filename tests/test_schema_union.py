"""Layer-2 property tests (SURVEY.md §5.2): M3 schema-union algebra.

Commutativity + associativity + idempotence license the per-partition
global schema reduce (SURVEY §2.4 A5) — without them, partial aggregation
order would change the global ontology."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from scrapontologies_spark.functions.semantics import (
    canonical_json,
    schema_union,
    schema_union_all,
)

_types = st.sampled_from(["string", "integer", "number", "object", "array", "boolean"])


def _schema(depth: int = 2) -> st.SearchStrategy:
    leaf = st.fixed_dictionaries(
        {"type": st.sampled_from(["string", "integer", "number", "boolean"])},
        optional={"format": st.sampled_from(["date", "uri"])},
    )
    if depth == 0:
        return leaf
    names = st.sampled_from(["alpha", "beta", "gamma", "delta"])
    obj = st.builds(
        lambda props, req: {
            "type": "object",
            "properties": props,
            **({"required": sorted(set(req) & set(props))} if req else {}),
        },
        st.dictionaries(names, st.deferred(lambda: _schema(depth - 1)), max_size=3),
        st.lists(names, max_size=3),
    )
    arr = st.builds(
        lambda items: {"type": "array", "items": items},
        st.deferred(lambda: _schema(depth - 1)),
    )
    return st.one_of(leaf, obj, arr)


SCHEMAS = _schema(2)


@settings(max_examples=200, deadline=None)
@given(SCHEMAS, SCHEMAS)
def test_commutative(a, b):
    assert canonical_json(schema_union(a, b)) == canonical_json(schema_union(b, a))


@settings(max_examples=200, deadline=None)
@given(SCHEMAS, SCHEMAS, SCHEMAS)
def test_associative(a, b, c):
    left = schema_union(schema_union(a, b), c)
    right = schema_union(a, schema_union(b, c))
    assert canonical_json(left) == canonical_json(right)


@settings(max_examples=100, deadline=None)
@given(SCHEMAS)
def test_idempotent(a):
    # direct: the earlier OR-fallback (== union(a, {})) could pass a union
    # that mangles `a` the same way in both calls; idempotence holds
    # strictly (verified over 500 hypothesis examples)
    assert canonical_json(schema_union(a, a)) == canonical_json(a)


@settings(max_examples=100, deadline=None)
@given(SCHEMAS)
def test_identity(a):
    assert schema_union(a, {}) == a or canonical_json(schema_union(a, {})) == canonical_json(a)
    assert canonical_json(schema_union({}, a)) == canonical_json(schema_union(a, {}))


@settings(max_examples=50, deadline=None)
@given(st.lists(SCHEMAS, min_size=1, max_size=6))
def test_fold_equals_tree(schemas):
    """Sequential fold == pairwise tree reduce (the A5 safety property)."""
    seq = schema_union_all(schemas)
    level = list(schemas)
    while len(level) > 1:
        nxt = []
        for i in range(0, len(level) - 1, 2):
            nxt.append(schema_union(level[i], level[i + 1]))
        if len(level) % 2:
            nxt.append(level[-1])
        level = nxt
    assert canonical_json(seq) == canonical_json(level[0])


def test_union_rules_golden():
    a = {
        "type": "object",
        "properties": {"name": {"type": "string"}, "fee": {"type": "integer"}},
        "required": ["name", "fee"],
    }
    b = {
        "type": "object",
        "properties": {"name": {"type": "string"}, "addr": {"type": "string"}},
        "required": ["name"],
    }
    u = schema_union(a, b)
    assert set(u["properties"]) == {"name", "fee", "addr"}
    assert u["required"] == ["name"]  # intersection
    # type conflict → most-general wins, conflict recorded
    conflicts: list = []
    u2 = schema_union({"type": "integer"}, {"type": "string"}, conflicts)
    assert u2["type"] == "string" and conflicts


# ---------------------------------------------------------------------------
# chunk_schema_digest structural dedup == naive per-symbol fold
# ---------------------------------------------------------------------------

_attr_value = st.recursive(
    st.one_of(
        st.booleans(),
        st.integers(-5, 5),
        st.text(alphabet="abNA", max_size=3),
        st.just("NA"),
        st.none(),
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.sampled_from(["kind", "owner", "calls", "called_by", "x"]), children, max_size=4),
    ),
    max_leaves=8,
)


def _realistic(payload):
    # chunk_payload only ever emits dict attrs whose "kind" is a string —
    # keep the property inside the function's domain
    for attrs in payload.values():
        if isinstance(attrs, dict) and "kind" in attrs and not isinstance(attrs["kind"], str):
            attrs["kind"] = "function"
    return payload


@given(
    st.dictionaries(
        st.text(alphabet="abc", min_size=1, max_size=3), _attr_value, max_size=6
    ).map(_realistic)
)
@settings(max_examples=200, deadline=None)
def test_digest_dedup_equals_naive_fold(payload):
    from scrapontologies_spark.functions.code_gazetteer import (
        chunk_schema_digest,
        induce_schema,
    )
    from scrapontologies_spark.functions.semantics import is_na, schema_union

    naive = {}
    for name, attrs in payload.items():
        kind = attrs.get("kind") if isinstance(attrs, dict) else None
        key = kind if not is_na(kind) else "unknown"
        naive = schema_union(
            naive, {"type": "object", "properties": {key: induce_schema(attrs)}}
        )
    assert canonical_json(chunk_schema_digest(payload)) == canonical_json(naive)


def test_union_type_lists_and_keyword_shadowing():
    """Regressions for two crash classes: JSON-Schema union-type lists
    ('type': ['string','null']) and properties literally NAMED 'type' /
    'required' (keyword-vs-property-name conflation inside properties
    maps).  Both variants must agree and obey the commutative algebra."""
    import copy

    from scrapontologies_spark.functions.semantics import (
        schema_union,
        schema_union_owned,
    )

    # union-type list vs plain string: most-general element of the union
    a = {"type": ["string", "null"]}
    b = {"type": "string"}
    assert schema_union(a, b) == {"type": "string"}
    assert schema_union(b, a) == {"type": "string"}
    assert schema_union(a, a) == a  # idempotent, list preserved
    assert (
        schema_union_owned(copy.deepcopy(a), copy.deepcopy(b))
        == {"type": "string"}
    )

    # a property literally named 'type' (and 'required') merges as a
    # SUBSCHEMA, not via the keyword rules
    p1 = {
        "type": "object",
        "properties": {
            "type": {"type": "string"},
            "required": {"type": "boolean"},
        },
    }
    p2 = {
        "type": "object",
        "properties": {
            "type": {"type": "integer"},
            "required": {"type": "boolean"},
        },
    }
    got = schema_union(p1, p2)
    assert got["properties"]["type"] == {"type": "string"}  # precedence
    assert got["properties"]["required"] == {"type": "boolean"}
    assert got == schema_union(p2, p1)
    assert (
        schema_union_owned(copy.deepcopy(p1), copy.deepcopy(p2)) == got
    )

    # malformed 'type' value: deterministic pick, never a crash
    m1 = {"type": {"weird": 1}}
    m2 = {"type": "string"}
    assert schema_union(m1, m2) == schema_union(m2, m1)


def test_global_schema_is_one_job_over_partitions(spark, tmp_path):
    """The A5 reduce is one Spark job (per-partition unions, folded on the
    driver; no shuffle) and equals the M3 fold of its rows, with an empty
    partition and a NULL schema_json in the input."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from scrapontologies_spark.operators.schema_merge import global_schema

    parts = [
        [
            '{"properties": {"x": {"type": "string"}}, "required": ["x"]}',
            '{"properties": {"y": {"type": "integer"}}, "required": ["x", "y"]}',
        ],
        [],  # an empty file → an empty partition
        [None, '{"properties": {"x": {"type": "object", "properties": {"z": {}}}}}'],
        ['{"type": "object", "properties": {"y": {"type": "number"}}}'],
    ]
    for i, rows in enumerate(parts):
        pq.write_table(
            pa.table({"schema_json": pa.array(rows, pa.string())}),
            str(tmp_path / f"part-{i}.parquet"),
        )
    df = spark.read.parquet(str(tmp_path))
    sizes = df.rdd.glom().map(len).collect()
    assert len(sizes) > 1 and 0 in sizes, sizes

    sc = spark.sparkContext
    group = f"global-schema-{id(df)}"
    sc.setJobGroup(group, "one global-schema reduce")
    try:
        got = global_schema(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    expected = schema_union_all(
        json.loads(s) for rows in parts for s in rows if s is not None
    )
    assert canonical_json(got) == canonical_json(expected)
    assert global_schema(spark.createDataFrame([], "schema_json string")) == {}
