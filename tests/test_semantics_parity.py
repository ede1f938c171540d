"""Layer-1 parity tests (SURVEY.md §5.1): our pure semantics vs the
reference's own functions executed from /root/reference (see
reference_oracle.py).  These pin the P/R contract before any Spark."""

from __future__ import annotations

import copy
import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from scrapontologies_spark.functions import semantics as S
from tests.reference_oracle import REFERENCE_PDF_PARSER, load_oracle


class _LazyOracle:
    """Loads the reference oracle on first attribute access, so importing
    this module never reads the reference checkout."""

    def __getattr__(self, name):
        return getattr(load_oracle(), name)


oracle = _LazyOracle()

# Only the tests that call ``oracle`` need the reference source.
needs_reference = pytest.mark.skipif(
    not REFERENCE_PDF_PARSER.is_file(),
    reason=f"reference source {REFERENCE_PDF_PARSER} is absent",
)

# --- golden merge cases (FIXTURES.md merge_na_cases) -----------------------

MERGE_CASES = [
    # NA skipping: None / 'NA' / '' from right are ignored
    ({"a": 1}, {"a": None, "b": "NA", "c": "", "d": 2}),
    # right fills missing or NA-valued left keys
    ({"a": None, "b": "NA", "c": ""}, {"a": 1, "b": 2, "c": 3}),
    # first-non-NA wins: existing scalars never overwritten
    ({"a": 1}, {"a": 2}),
    ({"a": "x"}, {"a": "y"}),
    # dict ∧ dict recursion
    ({"a": {"x": 1, "y": "NA"}}, {"a": {"y": 2, "z": 3}}),
    # list ∧ list extends, keeps duplicates, drops NA elements
    ({"a": [1, 2]}, {"a": [2, "NA", 3, None, ""]}),
    # type mismatch (dict vs scalar): keep left
    ({"a": {"x": 1}}, {"a": 5}),
    ({"a": 5}, {"a": {"x": 1}}),
    # list vs scalar: keep left
    ({"a": [1]}, {"a": 2}),
    # 0 and False are NOT NA (== semantics of the sentinel tuple)
    ({}, {"a": 0, "b": False}),
    ({"a": 0}, {"a": 9}),
    # deep nesting
    (
        {"p": {"q": {"r": "NA", "s": [1]}}},
        {"p": {"q": {"r": 7, "s": [2], "t": {"u": "v"}}}},
    ),
    # empty left copies right minus NA
    ({}, {"a": 1, "b": None}),
    ({}, {}),
]


@needs_reference
@pytest.mark.parametrize("d1,d2", MERGE_CASES)
def test_merge_matches_reference(d1, d2):
    ours = S.merge_dicts_preferring_non_na(d1, d2)
    ref = oracle.merge(copy.deepcopy(d1), copy.deepcopy(d2))
    assert ours == ref


def test_merge_is_pure_reference_is_not():
    d1 = {"a": [1]}
    S.merge_dicts_preferring_non_na(d1, {"a": [2]})
    assert d1 == {"a": [1]}  # ours: no mutation (documented deviation)


# --- fold order sensitivity (A2) -------------------------------------------

FOLD_CASES = [
    [{"a": 1}, {"a": 2}, {"b": 3}],
    [{"a": "NA"}, {"a": 1}, {"a": 2}],
    [{"l": [1]}, {"l": [2]}, {"l": [1]}],
    [{"n": {"x": 1}}, {"n": {"x": 9, "y": 2}}, {"n": "scalar"}],
    [],
    [{"a": None}, {}, {"a": 5}],
]


@needs_reference
@pytest.mark.parametrize("dicts", FOLD_CASES)
def test_fold_matches_reference(dicts):
    ours = S.combine_entities_data(copy.deepcopy(dicts))
    ref = oracle.combine(copy.deepcopy(dicts))
    assert ours == ref


def test_fold_is_order_sensitive():
    a = [{"a": 1}, {"a": 2}]
    b = [{"a": 2}, {"a": 1}]
    assert S.combine_entities_data(a) != S.combine_entities_data(b)


# --- property-based: merge vs reference on random nested dicts -------------

_scalars = st.one_of(
    st.none(),
    st.just("NA"),
    st.just(""),
    st.integers(-5, 5),
    st.sampled_from(["x", "y", "zz"]),
    st.booleans(),
)
_values = st.recursive(
    _scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.sampled_from("abcde"), children, max_size=3),
    ),
    max_leaves=12,
)
_dicts = st.dictionaries(st.sampled_from("abcde"), _values, max_size=4)


@needs_reference
@settings(max_examples=300, deadline=None)
@given(_dicts, _dicts)
def test_merge_property_parity(d1, d2):
    ours = S.merge_dicts_preferring_non_na(d1, d2)
    ref = oracle.merge(copy.deepcopy(d1), copy.deepcopy(d2))
    assert ours == ref


@needs_reference
@settings(max_examples=100, deadline=None)
@given(st.lists(_dicts, max_size=5))
def test_fold_property_parity(dicts):
    ours = S.combine_entities_data(copy.deepcopy(dicts))
    ref = oracle.combine(copy.deepcopy(dicts))
    assert ours == ref


@settings(max_examples=100, deadline=None)
@given(_dicts)
def test_merge_left_bias_invariants(d):
    # merge(a, {}) == a ; merge({}, b) == strip_na(b) at the top level
    assert S.merge_dicts_preferring_non_na(d, {}) == d
    merged = S.merge_dicts_preferring_non_na({}, d)
    assert set(merged) == {k for k, v in d.items() if not S.is_na(v)}


# --- fence extraction (P1/P2) ----------------------------------------------

FENCE_CASES = [
    "```json\n{\"a\": 1}\n```",
    "noise before ```json {\"a\": 1} ``` noise after",
    "```python\nentities = []\n```",
    "no fences at all",
    "```json\n```",  # empty body
    "```json\n{\"nested\": \"``\"}\n```",
    "Page 1: ```json\n[1,2,3]\n``` Page 2: ```json\n[4]\n```",  # first match wins
    "```JSON\n{}\n```",  # case-sensitive: no match
]


@needs_reference
@pytest.mark.parametrize("s", FENCE_CASES)
def test_fence_extraction_matches_reference(s):
    assert S.extract_json_content(s) == oracle.extract_json(s)
    assert S.extract_python_content(s) == oracle.extract_python(s)


# --- A3 page merge → entities ----------------------------------------------


@needs_reference
def test_merge_extracted_pages_entities():
    pages = ['{"inv": {"name": "A", "fee": "NA"}}', '{"inv": {"fee": 3}, "co": {"n": 1}}']
    ents, bad = S.merge_extracted_pages(pages)
    assert bad == []
    assert [e.id for e in ents] == ["inv", "co"]
    assert ents[0].type == "object"
    assert ents[0].attributes == {"name": "A", "fee": 3}
    # cross-check the merged dict against the reference fold itself
    ref = oracle.combine([json.loads(p) for p in pages])
    assert {e.id: e.attributes for e in ents} == ref


def test_merge_extracted_pages_quarantine_vs_raise():
    pages = ['{"a": 1}', "not json"]
    ents, bad = S.merge_extracted_pages(pages, quarantine=True)
    assert bad == ["not json"] and [e.id for e in ents] == ["a"]
    with pytest.raises(ValueError):  # reference-exact mode: raises (pdf_parser.py:692-694)
        S.merge_extracted_pages(pages, quarantine=False)


# --- C1/C2 delete cascade ---------------------------------------------------


def _graph():
    ents = [S.Entity("a", "object", {}), S.Entity("b", "object", {}), S.Entity("c", "object", {})]
    rels = [
        S.Relation("r1", "a", "b", "has_b"),
        S.Relation("r2", "b", "c", "has_c"),
        S.Relation("r3", "a", "c", "has_c"),
        S.Relation("r4", "a", "c", "likes"),
    ]
    return ents, rels


def test_delete_entity_cascade():
    ents, rels = _graph()
    e2, r2 = S.delete_entity_cascade(ents, rels, "b")
    assert [e.id for e in e2] == ["a", "c"]
    assert [r.id for r in r2] == ["r3", "r4"]


def test_delete_relation_by_composite_key():
    _, rels = _graph()
    out = S.delete_relation(rels, ("a", "c", "has_c"))
    assert [r.id for r in out] == ["r1", "r2", "r4"]


# --- M6 reconcile -----------------------------------------------------------


def test_reconcile_rules():
    existing = [S.Entity("x", "object", {"p": 1, "q": "NA"})]
    new = [S.Entity("x", "object", {"q": 2, "r": 3}), S.Entity("y", "object", {"s": 4})]
    out = S.reconcile_entities(existing, new)
    assert [e.id for e in out] == ["x", "y"]
    assert out[0].attributes == {"p": 1, "q": 2, "r": 3}
    # rule 4: empty existing → copy new
    out2 = S.reconcile_entities([], new)
    assert [e.id for e in out2] == ["x", "y"]


# --- M4 schema → entities (exemplar prompts.py:286-301 shape) ---------------


def test_schema_to_entities():
    schema = {
        "type": "object",
        "properties": {
            "investorInformation": {
                "type": "object",
                "properties": {
                    "targetInvestors": {"type": "string"},
                    "investmentConsiderations": {"type": "string"},
                },
            },
            "fees": {"type": "array", "items": {"type": "string"}},
        },
    }
    ents = S.schema_to_entities(schema)
    assert [e.id for e in ents] == ["investorInformation", "fees"]
    assert all(e.type == "object" for e in ents)
    assert ents[0].attributes == {
        "targetInvestors": "string",
        "investmentConsiderations": "string",
    }
    assert ents[1].attributes == {"array": "string"}


# --- M5 containment relations (Digraph exemplar prompts.py:1-38) ------------


def test_containment_relations():
    ents = [
        S.Entity(
            "portfolio",
            "object",
            {"name": "string", "fees": {"salesCharges": "string", "fundExpenses": {"mer": "string"}}},
        )
    ]
    rels = S.derive_containment_relations(ents)
    triples = {(r.source, r.name, r.target) for r in rels}
    assert ("ROOT", "has_portfolio", "portfolio") in triples
    assert ("portfolio", "has_fees", "fees") in triples
    assert ("fees", "has_fundExpenses", "fundExpenses") in triples
    assert ("portfolio", "has_name", "name") not in triples  # scalars are not nodes


# --- gazetteer attribution / payload edge cases ----------------------------


def test_java_method_owner_is_nearest_class_above():
    """A Java method belongs to the class declared nearest ABOVE it, not to
    whichever class a finditer loop saw last; stacked modifiers
    ('public final class') must still declare a class."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "public final class A {\n"
        "    public int foo(int x) {\n        return x;\n    }\n"
        "}\n"
        "class B {\n"
        "    public int bar(int x) {\n        return x;\n    }\n"
        "}\n"
    )
    ms = extract_mentions("java", src)
    classes = {m["name"] for m in ms if m["kind"] == "class"}
    owners = {m["name"]: m["owner"] for m in ms if m["kind"] == "method"}
    assert classes == {"A", "B"}
    assert owners == {"foo": "A", "bar": "B"}
    # a method whose class declaration landed in an earlier chunk falls
    # back to kind='function' (owner '') like python/rust/ruby — an
    # ownerless 'method' would emit a has_method triple from the dangling
    # node '<repo>/<path>::'
    ms2 = extract_mentions("java", "    public int baz(int x) {\n")
    assert [m["kind"] for m in ms2 if m["name"] == "baz"] == ["function"]
    # full modifier set: 'protected ... close()' is a declaration, not a
    # call leaking into the stream
    ms3 = extract_mentions(
        "java",
        "class C {\n    protected synchronized void close() {\n        x();\n    }\n}\n",
    )
    assert {m["name"]: m["kind"] for m in ms3 if m["name"] == "close"} == {
        "close": "method"
    }
    assert ("close", ) not in {(m["name"],) for m in ms3 if m["kind"] == "call"}


def test_self_recursive_call_keeps_called_by():
    """caller == callee must accumulate BOTH calls and called_by on the one
    payload key — a second delta entry under the same key would overwrite
    the called_by list."""
    from scrapontologies_spark.functions.code_gazetteer import (
        chunk_payload,
        extract_mentions,
    )

    payload = chunk_payload(extract_mentions("python", "def f():\n    f()\n"))
    assert payload["f"]["kind"] == "function"
    assert payload["f"]["calls"] == ["f"]
    assert payload["f"]["called_by"] == ["f"]


def test_quarantine_non_object_json_pages():
    """Valid JSON that is not an object ('[1,2]', '\"x\"', '3') quarantines
    like unparseable pages instead of crashing the merge."""
    good = '{"a": {"kind": "function"}}'
    for bad_page in ("[1, 2, 3]", '"just a string"', "42"):
        entities, bad = S.merge_extracted_pages([good, bad_page], quarantine=True)
        assert bad == [bad_page]
        assert [e.id for e in entities] == ["a"]
    with pytest.raises(AttributeError):
        S.merge_extracted_pages([good, "[1]"], quarantine=False)


def test_document_triples_oracle_accepts_p8_filters():
    """The sequential triple oracle takes the same P8 parameters as the
    fused UDF, and equals the manual compose of chunk/extract/filter."""
    from scrapontologies_spark.functions.code_gazetteer import (
        chunk_text,
        document_triples,
        extract_mentions,
        triples_for_mentions,
    )

    content = "import os\nclass C:\n    def m(self):\n        os.path(1)\n"
    kinds = frozenset({"import"})
    got = document_triples("r", "p.py", "python", content, 512, kinds, None)
    want = set()
    for _, text in chunk_text(content, 512):
        want |= triples_for_mentions(
            "r/p.py", extract_mentions("python", text, kinds, None)
        )
    assert got == sorted(want)
    assert got and all(pred == "imports" for _, pred, _, _ in got)


def test_rust_grammar_mentions():
    """Rust: use→import (crate root), struct/enum/trait→class, fn→function
    or method (owner = nearest preceding impl target when indented);
    enum-variant constructors (Some/Ok/…) and macros never register as
    calls."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "use std::collections::HashMap;\n"
        "pub struct Graph;\n"
        "enum Mode { Fast, Slow }\n"
        "pub trait Walk {}\n"
        "impl Graph {\n"
        "    pub fn insert(&mut self, k: u64) {\n"
        "        self.grow();\n"
        "        let v = Some(make_node(k));\n"
        "        println!(\"{k}\");\n"
        "    }\n"
        "}\n"
        "impl Walk for Graph {\n"
        "    fn step(&self) {}\n"
        "}\n"
        "pub async fn run(g: Graph) {\n"
        "    g.walk();\n"
        "}\n"
    )
    ms = extract_mentions("rust", src)
    assert {m["name"] for m in ms if m["kind"] == "import"} == {"std"}
    assert {m["name"] for m in ms if m["kind"] == "class"} == {"Graph", "Mode", "Walk"}
    methods = {m["name"]: m["owner"] for m in ms if m["kind"] == "method"}
    assert methods == {"insert": "Graph", "step": "Graph"}
    assert {m["name"] for m in ms if m["kind"] == "function"} == {"run"}
    calls = {(m["name"], m["owner"]) for m in ms if m["kind"] == "call"}
    # Some(…) and println!(…) are excluded; self.grow() / g.walk() are
    # dotted receiver calls, excluded by the _CALL lookbehind in every
    # grammar; make_node attributes to the enclosing method
    assert calls == {("make_node", "insert")}


def test_ruby_grammar_mentions():
    """Ruby: require→import (first path segment), class/module→class,
    def→method under a class (paren-less defs still become the call owner);
    `def self.x` strips the receiver."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "require 'json'\n"
        "require_relative 'util/helpers'\n"
        "module Analytics\n"
        "  class Report\n"
        "    def self.build(rows)\n"
        "      validate(rows)\n"
        "    end\n"
        "    def render\n"
        "      emit(header)\n"
        "    end\n"
        "  end\n"
        "end\n"
        "def main\n"
        "  Report.new\n"
        "end\n"
    )
    ms = extract_mentions("ruby", src)
    assert {m["name"] for m in ms if m["kind"] == "import"} == {"json", "util"}
    assert {m["name"] for m in ms if m["kind"] == "class"} == {"Analytics", "Report"}
    methods = {m["name"]: m["owner"] for m in ms if m["kind"] == "method"}
    assert methods == {"build": "Report", "render": "Report"}
    assert {m["name"] for m in ms if m["kind"] == "function"} == {"main"}
    calls = {(m["name"], m["owner"]) for m in ms if m["kind"] == "call"}
    # paren-less `def render` still owns emit; header is an argument, not a
    # call; Report.new is a dotted receiver (excluded by _CALL's lookbehind)
    assert calls == {("validate", "build"), ("emit", "render")}


def test_c_grammar_mentions():
    """C/C++: #include→import (file stem), class/struct with a body→class,
    definitions→function (qualified Foo::bar→method with owner Foo);
    brace-on-next-line signatures still register and own their calls;
    control statements and sizeof never register."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "#include <stdio.h>\n"
        '#include "lib/graph.hpp"\n'
        "struct node { int id; };\n"
        "struct fwd;\n"
        "class Graph : public Base {\n"
        "};\n"
        "static int count_nodes(struct node *n)\n"
        "{\n"
        "    if (n == NULL) { return 0; }\n"
        "    return 1 + count_nodes(next_of(n));\n"
        "}\n"
        "void Graph::insert(int id) {\n"
        "    grow(sizeof(struct node));\n"
        "}\n"
    )
    ms = extract_mentions("c", src)
    assert {m["name"] for m in ms if m["kind"] == "import"} == {"stdio", "graph"}
    # fwd (no body) must NOT register
    assert {m["name"] for m in ms if m["kind"] == "class"} == {"node", "Graph"}
    assert {m["name"] for m in ms if m["kind"] == "function"} == {"count_nodes"}
    methods = {m["name"]: m["owner"] for m in ms if m["kind"] == "method"}
    assert methods == {"insert": "Graph"}
    calls = {(m["name"], m["owner"]) for m in ms if m["kind"] == "call"}
    assert calls == {
        ("count_nodes", "count_nodes"),  # recursion is a real call site
        ("next_of", "count_nodes"),
        ("grow", "insert"),
    }


def test_rust_trait_impl_owner_is_the_for_target():
    """The most common impl forms — path-qualified trait (`impl
    fmt::Display for Graph`), generic trait (`impl From<u64> for Graph`),
    path-qualified target (`impl T for crate::Graph`) — must attribute
    methods to the TYPE after `for`, never to the trait's first segment
    (regression: `fmt::Display` failed the optional trait group and the
    capture grabbed `fmt`, mis-owning every such method)."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "use std::fmt;\n"
        "pub struct Graph;\n"
        "impl fmt::Display for Graph {\n"
        "    fn fmt(&self, f: &mut fmt::Formatter) -> fmt::Result {\n"
        "        todo!()\n"
        "    }\n"
        "}\n"
        "impl From<u64> for Graph {\n"
        "    fn from(n: u64) -> Self { todo!() }\n"
        "}\n"
        "impl Walk for crate::Graph {\n"
        "    fn step(&self) {}\n"
        "}\n"
        "impl<T> Wrapper<T> {\n"
        "    fn get(&self) -> &T { todo!() }\n"
        "}\n"
    )
    ms = extract_mentions("rust", src)
    methods = {m["name"]: m["owner"] for m in ms if m["kind"] == "method"}
    assert methods == {
        "fmt": "Graph",
        "from": "Graph",
        "step": "Graph",
        "get": "Wrapper",
    }


def test_c_prototypes_are_not_calls_and_else_if_is_not_a_definition():
    """Header prototypes (`void foo(int);`) fit the _CALL shape but are
    declarations — with 'h' files routed to the C grammar, counting them
    as calls fabricates one wrong edge per header line.  `else if (…) {`
    at column 0 fits the definition shape with name 'if' — the two-word
    control form must not register or steal call ownership.  An unindented
    `return foo(a);` body line is still a genuine call site."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "#include <stdio.h>\n"
        "void foo(int x);\n"
        "int bar(void);\n"
        "struct node make_node(int id,\n"
        "                      int weight);\n"
        "static int helper(int a) {\n"
        "    return foo(a);\n"
        "}\n"
        "else if (global_flag) {\n"
        "    run();\n"
        "}\n"
    )
    ms = extract_mentions("c", src)
    assert {m["name"] for m in ms if m["kind"] == "function"} == {"helper"}
    calls = {(m["name"], m["owner"]) for m in ms if m["kind"] == "call"}
    # foo/bar/make_node prototypes are NOT call sites; foo inside helper is
    assert calls == {("foo", "helper"), ("run", "helper")}


def test_cpp_class_body_member_prototypes_are_not_calls():
    """Member declarations inside a class body are indented prototypes —
    each would otherwise emit a false call edge per declared method;
    statement keywords (return/throw) keep their calls even indented."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "class Graph {\n"
        "  public:\n"
        "    void insert(int id);\n"
        "    int count(void) const;\n"
        "};\n"
        "void Graph::insert(int id) {\n"
        "    grow(id);\n"
        "    throw Overflow(id);\n"
        "}\n"
    )
    ms = extract_mentions("c", src)
    calls = {(m["name"], m["owner"]) for m in ms if m["kind"] == "call"}
    assert calls == {("grow", "insert"), ("Overflow", "insert")}


def test_containment_unwraps_top_level_array_entities():
    """An array-typed top-level entity's simplified subtree IS the
    {'array': ...} wrapper; containment must unwrap it at the entity level
    too — not emit every such entity's edge to one shared bogus node
    literally named 'array'."""
    schema = {
        "tags": {"type": "array", "items": {"type": "object", "properties": {
            "label": {"type": "object", "properties": {"x": {"type": "string"}}},
        }}},
        "people": {"type": "array", "items": {"type": "object", "properties": {
            "address": {"type": "object", "properties": {"city": {"type": "string"}}},
        }}},
    }
    rels = S.derive_containment_relations(S.schema_to_entities(schema))
    edges = {(r.source, r.target) for r in rels}
    assert not any(t == "array" for _, t in edges)
    assert ("tags", "label") in edges
    assert ("people", "address") in edges


def test_schema_union_required_never_crashes_on_malformed_lists():
    """External schemas can carry malformed 'required' lists (unhashable
    dicts, mixed str/int); the union must intersect without crashing —
    the same never-a-crash hardening as _resolve_type — and stay exactly
    sorted(set&set) for well-formed string lists."""
    ok = S.schema_union({"required": ["b", "a"]}, {"required": ["a", "b", "c"]})
    assert ok["required"] == ["a", "b"]
    bad1 = S.schema_union({"required": [{"a": 1}, "x"]}, {"required": ["x", {"a": 1}]})
    assert {"a": 1} in bad1["required"] and "x" in bad1["required"]
    assert len(bad1["required"]) == 2
    bad2 = S.schema_union({"required": ["x", 1]}, {"required": [1, "x"]})
    assert set(map(str, bad2["required"])) == {"x", "1"}


def test_reconcile_merges_duplicate_ids_in_existing():
    """Duplicate ids WITHIN existing merge by the A1 rule (first position
    kept) instead of last-wins dropping the earlier attributes and
    aliasing one Entity object into two output slots."""
    existing = [
        S.Entity("a", "object", {"x": 1}),
        S.Entity("a", "object", {"y": 2}),
    ]
    out = S.reconcile_entities(existing, [])
    assert len(out) == 1
    assert out[0].attributes == {"x": 1, "y": 2}


def test_cypher_script_handles_dict_and_nonfinite_values():
    """A dict-valued field renders as its canonical-JSON STRING (inline
    JSON would emit quoted map keys — a cypher-shell syntax error) and
    NaN/Infinity floats (no Cypher literal) become null."""
    from scrapontologies_spark.sources.graph_sink import cypher_script

    script = cypher_script(
        [{"id": "a", "type": "t", "attributes": {"k": 1}}],
        [{"subj": "a", "pred": float("nan"), "obj": "b", "rel_type": "r"}],
    )
    assert '{"' not in script          # no quoted map keys anywhere
    assert "NaN" not in script
    assert "pred: null" in script
    assert '"{\\"k\\": 1}"' in script  # dict value -> escaped JSON string


def test_cpp_inline_member_definitions_are_methods():
    """Inline member definitions inside a class body (the C++ header norm)
    must register as methods of the enclosing class — indent-rejected,
    their names (and body calls) leaked into the call stream as spurious
    file-scope calls."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "class A {\n"
        "  public:\n"
        "    void f() { g(); }\n"
        "};\n"
        "static int top(void) {\n"
        "    return f2(1);\n"
        "}\n"
    )
    ms = extract_mentions("c", src)
    methods = {m["name"]: m["owner"] for m in ms if m["kind"] == "method"}
    assert methods == {"f": "A"}
    calls = {(m["name"], m["owner"]) for m in ms if m["kind"] == "call"}
    assert ("f", "") not in calls
    assert ("g", "f") in calls and ("f2", "top") in calls


def test_js_require_is_import_not_call():
    """CommonJS require yields the import mention only — counting the
    'require(' shape as a call fabricated a local symbol 'require' per
    require-style file."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    ms = extract_mentions("javascript", "const x = require('mod');\nrun(x);\n")
    assert {m["name"] for m in ms if m["kind"] == "import"} == {"mod"}
    calls = {m["name"] for m in ms if m["kind"] == "call"}
    assert "require" not in calls and "run" in calls


def test_json_grammar_mentions():
    """JSON: top-level keys -> class, depth-2 keys -> method owned by the
    enclosing top-level key; brace depth survives braces inside string
    values; minified and pretty forms extract identically; non-word keys
    are skipped (entity ids must stay join-safe)."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    pretty = (
        '{\n  "server": {\n    "host": "a{b}:c",\n    "port": 80\n  },\n'
        '  "log-level": "info",\n  "bad key": 1\n}\n'
    )
    minified = '{"server":{"host":"a{b}:c","port":80},"log-level":"info","bad key":1}'
    want = [
        {"kind": "class", "name": "server", "owner": ""},
        {"kind": "method", "name": "host", "owner": "server"},
        {"kind": "method", "name": "port", "owner": "server"},
        {"kind": "class", "name": "log-level", "owner": ""},
    ]
    assert extract_mentions("json", pretty) == want
    assert extract_mentions("json", minified) == want


def test_yaml_grammar_mentions():
    """YAML: unindented keys -> class, indented keys -> method owned by the
    nearest unindented key above; comment lines and value-embedded colons
    (url: http://x) produce no extra keys; an indented key with no section
    in the chunk falls back to a standalone 'function' entity (the
    continuation-chunk caveat shared with the code grammars)."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "server:\n  host: localhost\n  port: 8080\n"
        "# note: a comment\nurl: http://x:9\n"
    )
    ms = extract_mentions("yaml", src)
    assert {m["name"] for m in ms if m["kind"] == "class"} == {"server", "url"}
    assert {m["name"]: m["owner"] for m in ms if m["kind"] == "method"} == {
        "host": "server", "port": "server",
    }
    cont = extract_mentions("yaml", "  retries: 3\n")
    assert cont == [{"kind": "function", "name": "retries", "owner": ""}]


def test_toml_grammar_mentions():
    """TOML: [section] / [[array.section]] -> class, keys under a section
    -> method owned by it, keys before any section -> class (root-level
    settings are entities in their own right)."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = 'title = "x"\n[server]\nhost = "h"\n[[jobs.batch]]\ncron = "* *"\n'
    ms = extract_mentions("toml", src)
    assert [m for m in ms if m["kind"] == "class"] == [
        {"kind": "class", "name": "title", "owner": ""},
        {"kind": "class", "name": "server", "owner": ""},
        {"kind": "class", "name": "jobs.batch", "owner": ""},
    ]
    assert {m["name"]: m["owner"] for m in ms if m["kind"] == "method"} == {
        "host": "server", "cron": "jobs.batch",
    }


def test_shell_grammar_mentions():
    """Shell: `name() {` / `function name {` -> function; source/'.' lines
    -> import (path stem, '.env'-style empty stems skipped); array
    assignments and $(...) substitutions never register; no call kind (in
    shell every bare word is an invocation — a declared gap)."""
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions

    src = (
        "#!/bin/sh\nsource lib/util.sh\n. ./.env\n"
        "greet() {\n  echo hi\n}\nfunction deploy {\n  greet\n}\n"
        "arr=()\nval=$(date)\n"
    )
    ms = extract_mentions("shell", src)
    assert {m["name"] for m in ms if m["kind"] == "import"} == {"util"}
    assert {m["name"] for m in ms if m["kind"] == "function"} == {"greet", "deploy"}
    assert all(m["kind"] != "call" for m in ms)
