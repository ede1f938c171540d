"""Modern JS/TS declaration recall (round-4 verdict's one `weak` mark).

The old grammar anchored on `^\\s*function` / `^\\s*class` and default-only
imports, so on a real modern repo — where nearly every top-level declaration
is `export`-prefixed or an arrow-function declarator — M1 extracted almost
nothing for the whole JS/TS language family.  These fixtures pin every shape
the upgraded grammar claims (reference parity target: the reference's
per-page LLM reads everything, parsers/pdf_parser.py:396-416, so per-lang
recall is the fidelity axis).  Also pins the three ADVICE-r04 config-grammar
fixes (root-array JSON, YAML list-item keys, newline-key rejection).
"""

from __future__ import annotations

from scrapontologies_spark.functions.code_gazetteer import (
    document_triples,
    extract_mentions,
)


def _pairs(lang, text):
    return [(m["kind"], m["name"]) for m in extract_mentions(lang, text)]


# ---------------------------------------------------------------------------
# Declarations
# ---------------------------------------------------------------------------


def test_export_prefixed_declarations():
    src = (
        "export function foo(x) {}\n"
        "export default function main(a, b) {}\n"
        "export async function load(u) {}\n"
        "export class Widget {}\n"
        "export default class App {}\n"
        "export abstract class Base {}\n"
    )
    assert _pairs("javascript", src) == [
        ("function", "foo"),
        ("function", "main"),
        ("function", "load"),
        ("class", "Widget"),
        ("class", "App"),
        ("class", "Base"),
    ]


def test_arrow_and_function_expression_declarators():
    src = (
        "const handler = async (req, res) => { dispatch(req); };\n"
        "let square = x => x * x;\n"
        "var legacy = function (a) { return a; };\n"
        "export const tap = (v) => v;\n"
        "const NOT_A_FN = (a + b) * c;\n"  # initializer, must NOT register
    )
    ms = _pairs("javascript", src)
    assert ms == [
        ("function", "handler"),
        ("function", "square"),
        ("function", "legacy"),
        ("function", "tap"),
        # dispatch(req) sits on the declarator line itself — decl lines never
        # yield calls (same envelope as one-line `function f() { g(); }`)
    ]


def test_generator_and_plain_still_match():
    src = "function* gen(n) {}\nfunction plain(y) {\n  helper(y);\n}\n"
    assert _pairs("javascript", src) == [
        ("function", "gen"),
        ("function", "plain"),
        ("call", "helper"),
    ]
    # owner attribution survives the new tracked-call path
    ms = extract_mentions("javascript", src)
    assert {(m["name"], m["owner"]) for m in ms if m["kind"] == "call"} == {
        ("helper", "plain")
    }


def test_typescript_nominal_types_are_class_kind():
    src = (
        "export interface Props { x: number }\n"
        "interface Internal {}\n"
        "export type Alias = string;\n"
        "type Local = { a: b };\n"
        "export enum Mode { A, B }\n"
        "const enum Color { Red }\n"
        "export declare enum Flags { F }\n"
    )
    assert _pairs("javascript", src) == [
        ("class", "Props"),
        ("class", "Internal"),
        ("class", "Alias"),
        ("class", "Local"),
        ("class", "Mode"),
        ("class", "Color"),
        ("class", "Flags"),
    ]


def test_import_shapes_and_module_name_normalization():
    src = (
        "import React from 'react';\n"
        "import {useState, useEffect} from 'react-dom';\n"
        "import * as fs from 'fs';\n"
        "import d, {x} from './utils/helper.js';\n"
        "import type {T} from '@scope/pkg';\n"
        "import '../lib/polyfill.css';\n"
        "const legacy = require('path/posix');\n"
    )
    assert [p for p in _pairs("javascript", src) if p[0] == "import"] == [
        ("import", "react"),
        ("import", "react-dom"),
        ("import", "fs"),
        ("import", "utils"),
        ("import", "scope"),
        ("import", "lib"),
        ("import", "path"),
    ]


def test_owner_attribution_through_arrow_bodies():
    src = (
        "export const handler = async (req) => {\n"
        "  validate(req);\n"
        "  return persist(req);\n"
        "};\n"
        "cleanup();\n"
    )
    ms = extract_mentions("javascript", src)
    calls = {(m["name"], m["owner"]) for m in ms if m["kind"] == "call"}
    # cleanup() fires after the arrow's closing line; line-based tracking
    # attributes it to the last declarator — the documented envelope shared
    # by every grammar here (chunk-local, no brace matching)
    assert ("validate", "handler") in calls
    assert ("persist", "handler") in calls


def test_class_header_lines_yield_no_calls():
    src = "export default class App extends Mixin(Base) {\n}\n"
    ms = extract_mentions("javascript", src)
    assert [(m["kind"], m["name"]) for m in ms] == [("class", "App")]


def test_triples_for_modern_ts_module():
    src = (
        "import {api} from '@corp/api';\n"
        "export interface Req {}\n"
        "export const route = (r) => {\n"
        "  return send(r);\n"  # bare call: receiver calls (api.send) are
        "};\n"                 # excluded by _CALL in every grammar
    )
    triples = {
        (s, p, o)
        for s, p, o, _ in document_triples("org/app", "src/route.ts", "javascript", src)
    }
    assert ("org/app/src/route.ts", "imports", "lib::corp") in triples
    assert (
        "org/app/src/route.ts",
        "defines",
        "org/app/src/route.ts::Req",
    ) in triples
    assert (
        "org/app/src/route.ts",
        "defines",
        "org/app/src/route.ts::route",
    ) in triples
    assert (
        "org/app/src/route.ts::route",
        "calls",
        "org/app/src/route.ts::send",
    ) in triples


def test_ts_file_end_to_end_through_files_source(spark, tmp_path):
    from scrapontologies_spark.operators.extract import (
        extract_document_rows,
        triples_view,
    )
    from scrapontologies_spark.sources.files import corpus_from_files

    root = tmp_path / "webapp"
    (root / "src").mkdir(parents=True)
    (root / "src" / "app.tsx").write_text(
        "import {render} from 'react-dom';\n"
        "export interface AppProps {}\n"
        "export default class App {\n"
        "}\n"
        "export const boot = () => {\n"
        "  render(App);\n"
        "};\n"
    )
    corpus = corpus_from_files(spark, str(root))
    doc_rows = extract_document_rows(corpus, 512, with_schemas=False)
    triples = {(r.subj, r.pred, r.obj) for r in triples_view(doc_rows).collect()}
    mod = "webapp/src/app.tsx"
    assert (mod, "imports", "lib::react-dom") in triples
    assert (mod, "defines", f"{mod}::AppProps") in triples
    assert (mod, "defines", f"{mod}::App") in triples
    assert (mod, "defines", f"{mod}::boot") in triples
    assert (f"{mod}::boot", "calls", f"{mod}::render") in triples


# ---------------------------------------------------------------------------
# ADVICE-r04 config-grammar fixes
# ---------------------------------------------------------------------------


def test_json_root_array_documents_yield_mentions():
    # keys of array-rooted docs sit at depth 2 with no owner: standalone
    # entities, matching the YAML continuation-chunk fallback
    assert _pairs("json", '[{"name": "a", "cfg": {"deep": 1}}, {"name": "b"}]') == [
        ("function", "name"),
        ("function", "cfg"),
        ("function", "name"),
    ]


def test_yaml_list_item_keys_match():
    src = "jobs:\n  - name: build\n    run: make test\nversion: 2\n"
    assert _pairs("yaml", src) == [
        ("class", "jobs"),
        ("method", "name"),
        ("method", "run"),
        ("class", "version"),
    ]


def test_yaml_top_level_list_item_is_owned_like_indented():
    # '- name: x' at column 0: the dash counts as indent, so the key is a
    # child of the preceding section (or standalone when none precedes)
    assert _pairs("yaml", "- name: x\n") == [("function", "name")]
    assert _pairs("yaml", "steps:\n- uses: act\n") == [
        ("class", "steps"),
        ("method", "uses"),
    ]


def test_config_key_with_trailing_newline_rejected():
    # '$' matched before a trailing newline, letting 'k\n' become an entity
    # id with an embedded newline; \Z rejects it
    assert _pairs("json", '{"k\n": 1, "ok": 2}') == [("class", "ok")]


def test_class_body_methods_and_callback_lines():
    # round-5 envelope extension: class-body methods (TS modifiers +
    # return-type annotations) extract as methods of the enclosing class;
    # callback-call lines that END in "function () {" must NOT register
    # (the param span forbids nested parens).
    src = (
        "export class TaskApi {\n"
        "  constructor(opts) {}\n"            # keyword: never a mention
        "  routes(): Router {\n"
        "    dispatch(1);\n"                   # call owned by routes
        "  }\n"
        "  static async load(id): Promise<T> {\n"
        "  }\n"
        "}\n"
        "it('works', function () {\n"          # mocha callback: no mention
        "});\n"
    )
    ms = extract_mentions("javascript", src)
    decls = [(m["kind"], m["name"], m["owner"]) for m in ms if m["kind"] != "call"]
    assert decls == [
        ("class", "TaskApi", ""),
        ("method", "routes", "TaskApi"),
        ("method", "load", "TaskApi"),
    ]
    # `it(...)` IS a call site (and always was); owner 'load' reflects the
    # documented line-based envelope — ownership persists past a class's
    # closing brace within the chunk
    assert [(m["name"], m["owner"]) for m in ms if m["kind"] == "call"] == [
        ("dispatch", "routes"),
        ("it", "load"),
    ]


def test_java_generics_and_prototypes():
    from scrapontologies_spark.functions.code_gazetteer import extract_mentions as em

    src = (
        "import java.util.List;\n"
        "public final class Tracker {\n"
        "    protected synchronized List<String> snapshot() {\n"
        "        return copyOf(tasks);\n"
        "    }\n"
        "    public abstract Map<String, List<Integer>> index(int a);\n"
        "    @Override\n"
        "    public byte[] dump() {\n"
        "        throw makeError(1);\n"
        "    }\n"
        "}\n"
    )
    ms = em("java", src)
    decls = {(m["kind"], m["name"], m["owner"]) for m in ms if m["kind"] != "call"}
    assert decls == {
        ("import", "java", ""),
        ("class", "Tracker", ""),
        ("method", "snapshot", "Tracker"),
        ("method", "index", "Tracker"),   # abstract prototype IS a decl
        ("method", "dump", "Tracker"),
    }
    calls = {(m["name"], m["owner"]) for m in ms if m["kind"] == "call"}
    # copyOf is a real call inside snapshot; makeError follows `throw`
    # (statement-keyword line, still a call); the prototype and the
    # annotation line leak nothing
    assert calls == {("copyOf", "snapshot"), ("makeError", "dump")}


def test_interface_member_signatures_do_not_leak_calls():
    # review r05: `get(key: string): string;` inside an interface body
    # matched _CALL and emitted bogus call triples on every real TS module
    src = (
        "export interface Store {\n"
        "  get(key: string): string;\n"
        "  set(key: string, v: string): void;\n"
        "  flush(): Promise<void>;\n"
        "}\n"
        "declare function helper(n: number): void;\n"
        "touch(1);\n"  # a REAL call statement must still register
    )
    ms = extract_mentions("javascript", src)
    calls = [(m["name"], m["owner"]) for m in ms if m["kind"] == "call"]
    # touch's owner is helper: the ambient decl above it is the most
    # recent declarator in the line-based envelope
    assert calls == [("touch", "helper")]
    pairs = [(m["kind"], m["name"]) for m in ms]
    assert ("class", "Store") in pairs
    # `declare function` is an ambient DECLARATION, not a call
    assert ("function", "helper") in pairs


def test_anonymous_default_export_arrow_yields_no_phantom_default():
    # review r05: `export default (a, b) => …` left 'default (' for _CALL,
    # minting a phantom entity <module>::default; the genuine combine()
    # call inside the arrow body is the only mention
    src = "export default (a, b) => combine(a, b);\n"
    ms = extract_mentions("javascript", src)
    assert [(m["kind"], m["name"]) for m in ms] == [("call", "combine")]
    # named default exports still work
    src2 = "export default function main(a) { run(a); }\n"
    assert ("function", "main") in [
        (m["kind"], m["name"]) for m in extract_mentions("javascript", src2)
    ]


def test_signature_skip_never_eats_real_calls():
    # the signature skip requires the param ':' BEFORE any '?'/brace/quote:
    # ternary, object-literal and string args all contain ':' but are calls
    for src, want in {
        "log(x ? a : b);": [("call", "log")],
        "draw({x: 1});": [("call", "draw")],
        "fetch(url, {method: 'POST'});": [("call", "fetch")],
        "probe('http://example');": [("call", "probe")],
        "  set(key: string, v: string);": [],
        "  flush(): Promise<void>;": [],
    }.items():
        got = [(m["kind"], m["name"]) for m in extract_mentions("javascript", src)]
        assert got == want, (src, got)


def test_class_field_arrows_are_methods_and_own_their_calls():
    # round-5 envelope extension #2: class-field arrows — the dominant
    # instance-method shape in modern React/Node classes.  `this.x = …`
    # must not match (name must follow the indent directly), and the
    # same-line body of a one-line arrow stays the documented envelope.
    src = (
        "export class Timer {\n"
        "  ticks = 0;\n"                       # plain field: no arrow, no mention
        "  tick = () => {\n"
        "    emit(this.ticks);\n"              # call owned by tick
        "  };\n"
        "  reset = async (n) => setCount(n);\n"  # one-liner: decl only
        "  static create = (cfg) => {\n"          # modifier-prefixed field
        "    return wire(cfg);\n"                 # arrow — owner twin and
        "  };\n"                                  # mention pass must agree
        "}\n"
        "function setup() {\n"
        "  this.boot = () => {};\n"            # this.x: not a field decl
        "}\n"
    )
    ms = extract_mentions("javascript", src)
    decls = [(m["kind"], m["name"], m["owner"]) for m in ms if m["kind"] != "call"]
    assert decls == [
        ("class", "Timer", ""),
        ("method", "tick", "Timer"),
        ("method", "reset", "Timer"),
        ("method", "create", "Timer"),
        ("function", "setup", ""),
    ]
    assert [(m["name"], m["owner"]) for m in ms if m["kind"] == "call"] == [
        ("emit", "tick"),
        ("wire", "create"),
    ]


def test_generic_type_parameter_methods_js_and_java():
    # round-5 envelope extension #3: <T>-parameterized declarations.
    # Before, `first<T>(xs)` / `static <K, V> V find(K key)` were
    # invisible AND (java) leaked their names into the call stream.
    ts = (
        "export class Seq {\n"
        "  first<T>(xs: T[]): T {\n"
        "    return pickOne(xs);\n"
        "  }\n"
        "}\n"
        "export function head<T>(xs: T[]): T {\n"
        "  return xs[0];\n"
        "}\n"
        "interface Store {\n"
        "  get<T>(key: string): T;\n"          # generic member signature: no call
        "}\n"
    )
    ms = extract_mentions("javascript", ts)
    decls = {(m["kind"], m["name"], m["owner"]) for m in ms if m["kind"] != "call"}
    assert decls == {
        ("class", "Seq", ""),
        ("method", "first", "Seq"),
        ("function", "head", ""),
        ("class", "Store", ""),
    }
    assert [(m["name"], m["owner"]) for m in ms if m["kind"] == "call"] == [
        ("pickOne", "first"),
    ]

    java = (
        "public final class Box {\n"
        "    public Box(int cap) {\n"          # constructor: a method decl
        "        init(cap);\n"
        "    }\n"
        "    static <K, V> V find(K key) {\n"
        "        return lookup(key);\n"
        "    }\n"
        "}\n"
        "interface Repo {\n"                    # interface: nominal type
        "    <T> T load(String id);\n"          # generic prototype: decl, no call
        "}\n"
    )
    jms = extract_mentions("java", java)
    jdecls = {(m["kind"], m["name"], m["owner"]) for m in jms if m["kind"] != "call"}
    assert jdecls == {
        ("class", "Box", ""),
        ("method", "Box", "Box"),
        ("method", "find", "Box"),
        ("class", "Repo", ""),
        ("method", "load", "Repo"),
    }
    assert {(m["name"], m["owner"]) for m in jms if m["kind"] == "call"} == {
        ("init", "Box"),
        ("lookup", "find"),
    }


def test_java_enum_is_a_nominal_type():
    src = (
        "public enum Status {\n"
        "    OPEN, DONE;\n"
        "    public boolean closed() {\n"
        "        return this == DONE;\n"
        "    }\n"
        "}\n"
    )
    ms = extract_mentions("java", src)
    assert {(m["kind"], m["name"], m["owner"]) for m in ms} == {
        ("class", "Status", ""),
        ("method", "closed", "Status"),
    }


def test_bounded_type_parameters_one_level_nesting():
    # `<T extends Comparable<T>>` — flat <[^>]*> stopped at the inner '>',
    # silently un-declaring every bounded-generic method (java: + call leak)
    java = (
        "public class Util {\n"
        "    public <T extends Comparable<T>> T max(List<T> xs) {\n"
        "        return reduceAll(xs);\n"
        "    }\n"
        "}\n"
    )
    ms = extract_mentions("java", java)
    assert ("method", "max", "Util") in {
        (m["kind"], m["name"], m["owner"]) for m in ms
    }
    assert [(m["name"], m["owner"]) for m in ms if m["kind"] == "call"] == [
        ("reduceAll", "max"),
    ]

    ts = (
        "export class Reg {\n"
        "  clone<T extends Map<K, V>>(m: T): T {\n"
        "    return copyDeep(m);\n"
        "  }\n"
        "}\n"
        "interface S {\n"
        "  get<T extends Map<K, V>>(k: string): T;\n"  # signature: no call
        "}\n"
    )
    tms = extract_mentions("javascript", ts)
    assert ("method", "clone", "Reg") in {
        (m["kind"], m["name"], m["owner"]) for m in tms
    }
    assert [(m["name"], m["owner"]) for m in tms if m["kind"] == "call"] == [
        ("copyDeep", "clone"),
    ]


def test_bracket_type_parameters_python_and_go():
    # PEP 695 (`def first[T](xs)`) and go 1.18 (`func Map[T any](xs)`,
    # `type Stack[T any] struct`) — without the optional bracket clause
    # the decls were invisible and their body calls kept a stale owner.
    py = (
        "class Box[T]:\n"
        "    def get(self) -> T:\n"
        "        return unwrap(self)\n"
        "\n"
        "def first[T](xs: list[T]) -> T:\n"
        "    return pick(xs)\n"
    )
    pms = extract_mentions("python", py)
    assert {(m["kind"], m["name"], m["owner"]) for m in pms} == {
        ("class", "Box", ""),
        ("method", "get", "Box"),
        ("function", "first", ""),
        ("call", "unwrap", "get"),
        ("call", "pick", "first"),
    }

    go = (
        "type Stack[T any] struct {\n"
        "}\n"
        "\n"
        "func Map[T any, U any](xs []T, f func(T) U) []U {\n"
        "    return apply(xs, f)\n"
        "}\n"
    )
    gms = extract_mentions("go", go)
    assert {(m["kind"], m["name"], m["owner"]) for m in gms} == {
        ("class", "Stack", ""),
        ("function", "Map", ""),
        ("call", "apply", "Map"),
    }


def test_python_async_defs_are_declarations():
    # `async def` — every handler on an asyncio/FastAPI codebase.  Before,
    # the decl was invisible, its NAME leaked into the call stream, and
    # its body's calls inherited a stale owner.
    src = (
        "class Api:\n"
        "    async def fetch(self, url):\n"
        "        return await load(url)\n"
        "\n"
        "async def main():\n"
        "    run(Api())\n"
    )
    ms = extract_mentions("python", src)
    assert {(m["kind"], m["name"], m["owner"]) for m in ms} == {
        ("class", "Api", ""),
        ("method", "fetch", "Api"),
        ("function", "main", ""),
        ("call", "load", "fetch"),
        ("call", "run", "main"),
        ("call", "Api", "main"),
    }


def test_java_records_sealed_classes_and_rust_macros():
    java = (
        "public record Point(int x, int y) {\n"   # header fits the call
        "}\n"                                      # shape: decl, no leak
        "public sealed class Shape permits Circle {\n"
        "    public int area() {\n"
        "        return compute(this);\n"
        "    }\n"
        "}\n"
        "public non-sealed class Circle extends Shape {\n"
        "}\n"
    )
    ms = extract_mentions("java", java)
    assert {(m["kind"], m["name"], m["owner"]) for m in ms} == {
        ("class", "Point", ""),
        ("class", "Shape", ""),
        ("class", "Circle", ""),
        ("method", "area", "Shape"),
        ("call", "compute", "area"),
    }

    rust = (
        "macro_rules! log_it {\n"
        "    ($x:expr) => { emit($x) };\n"  # expansion body: owned call
        "}\n"
        "pub async fn serve(port: u16) {\n"
        "    bind(port);\n"
        "}\n"
    )
    rms = extract_mentions("rust", rust)
    assert {(m["kind"], m["name"], m["owner"]) for m in rms} == {
        ("function", "log_it", ""),
        ("function", "serve", ""),
        ("call", "emit", "log_it"),
        ("call", "bind", "serve"),
    }


def test_go_grouped_imports_js_reexports_cpp_member_owner():
    # gofmt grouped import blocks (the dominant form), aliased and blank
    go = (
        "import (\n"
        '    "fmt"\n'
        '    f "net/http"\n'
        '    _ "embed"\n'
        ")\n"
    )
    assert [(m["kind"], m["name"]) for m in extract_mentions("go", go)] == [
        ("import", "fmt"),
        ("import", "net"),
        ("import", "embed"),
    ]

    # barrel re-exports are module dependencies like imports
    js = "export {a, b} from './helpers.js';\nexport * from '@scope/lib';\n"
    assert [(m["kind"], m["name"]) for m in extract_mentions("javascript", js)] == [
        ("import", "helpers"),
        ("import", "scope"),
    ]

    # a column-0 access specifier between class header and member must
    # not strip the member's owner (the _C_FN type span may start there)
    cpp = (
        "class Socket : public Base {\n"
        "public:\n"
        "    void open(int port) {\n"
        "        bind_to(port);\n"
        "    }\n"
        "};\n"
    )
    ms = extract_mentions("c", cpp)
    assert ("method", "open", "Socket") in {
        (m["kind"], m["name"], m["owner"]) for m in ms
    }
    assert [(m["name"], m["owner"]) for m in ms if m["kind"] == "call"] == [
        ("bind_to", "open"),
    ]


def test_python_dotted_and_relative_from_imports_and_rust_mod():
    # `from collections.abc import` / `from .models import` — the plain
    # (\w+)\s+import form matched NEITHER, so every dotted or
    # intra-package dependency was invisible
    py = (
        "from collections.abc import Mapping\n"
        "from .models import Task\n"
        "from ..common.utils import helper\n"
        "from . import sibling\n"   # no named segment: no mention
        "from os import path\n"
    )
    assert [(m["kind"], m["name"]) for m in extract_mentions("python", py)] == [
        ("import", "collections"),
        ("import", "models"),
        ("import", "common"),
        ("import", "os"),
    ]

    rust = "pub mod handlers;\n\nmod util {\n    pub fn fix(x: u8) -> u8 { x }\n}\n"
    ms = extract_mentions("rust", rust)
    assert {(m["kind"], m["name"]) for m in ms} == {
        ("class", "handlers"),
        ("class", "util"),
        ("function", "fix"),
    }


def test_java_static_import_names_the_package():
    ms = extract_mentions("java", "import static java.util.Arrays.asList;\n")
    assert [(m["kind"], m["name"]) for m in ms] == [("import", "java")]
