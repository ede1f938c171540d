"""M1 — deterministic mention detection / per-chunk schema induction.

Stand-in for the reference's per-page LLM calls (``_generate_json_schemas``
pdf_parser.py:395-416 and ``_extract_data_from_pages`` pdf_parser.py:657-681;
SURVEY §2.11 M1): regex grammars per language extract declarations
(functions, classes, imports, methods) and call sites as candidate entity
mentions; a per-chunk payload dict (the analog of one page's extracted JSON)
feeds the order-sensitive A2 fold; a per-chunk induced JSON-schema digest
feeds the A4/A5 union.

Pure Python, zero Spark imports — imported by the Arrow-batched UDFs in
``operators/extract.py`` AND by the sequential pytest oracle, so the
distributed pipeline and the driver-side reference fold share one
implementation of the per-chunk logic (parity by construction; only the
distribution strategy is under test).

The unit of work is a *chunk* (the reference's "page"): ``chunk_id`` is the
byte offset of the chunk start within the document, so ids are stable across
reruns and partitionings (SURVEY §2.5 — never ``monotonically_increasing_id``).
"""

from __future__ import annotations

import bisect
import re
from typing import Any, Dict, Iterable, List, Tuple

from .semantics import (
    combine_entities_data,
    is_na,
    merge_into_owned,
    schema_union_all,
    schema_union_owned,
)

DEFAULT_CHUNK_BYTES = 1024

# ---------------------------------------------------------------------------
# Chunker (the "PDF → pages" scan fan-out, SURVEY §2.1 S1)
# ---------------------------------------------------------------------------


def chunk_text(content: str, chunk_bytes: int = DEFAULT_CHUNK_BYTES) -> List[Tuple[int, str]]:
    """Split content at line boundaries into ~chunk_bytes chunks.

    Returns ``[(chunk_id, chunk_text)]`` with chunk_id = byte offset of the
    chunk's first character (UTF-8).  Line-boundary splitting guarantees a
    declaration line is never cut in half.  Every document yields ≥1 chunk
    (even empty content), mirroring "every PDF has ≥1 page".
    """
    if content == "":
        return [(0, "")]
    lines = content.split("\n")
    chunks: List[Tuple[int, str]] = []
    cur: List[str] = []
    cur_bytes = 0
    offset = 0
    cur_offset = 0
    for ln in lines:
        # ASCII fast path: len == byte length, no encode allocation
        nbytes = (len(ln) if ln.isascii() else len(ln.encode("utf-8"))) + 1  # + newline
        if cur and cur_bytes + nbytes > chunk_bytes:
            chunks.append((cur_offset, "\n".join(cur)))
            cur, cur_bytes, cur_offset = [], 0, offset
        cur.append(ln)
        cur_bytes += nbytes
        offset += nbytes
    if cur:
        chunks.append((cur_offset, "\n".join(cur)))
    return chunks


# ---------------------------------------------------------------------------
# Per-language mention grammars
# ---------------------------------------------------------------------------

_KEYWORDS = {
    "if", "for", "while", "return", "def", "class", "import", "from", "func",
    "function", "switch", "catch", "print", "len", "range", "int", "str",
    "super", "new", "type", "struct", "void",
    # gofmt grouped declaration openers (`const (` / `var (`) minted a
    # phantom call per block — round-5 wave-5 probe; no language has a
    # genuine call named const/var (both reserved everywhere relevant)
    "const", "var",
    # CommonJS require lines already yield the import mention via
    # _JS_IMPORT — counting 'require' itself as a call would add a bogus
    # local symbol 'repo/path::require' per require-style file
    "require",
}

_PY_IMPORT = re.compile(r"^import\s+(\w+)", re.M)
# first NAMED segment, tolerating dotted paths and relative-import dots
# (`from collections.abc import`, `from .models import`, `from
# ..common.utils import` → collections / models / common) — the plain
# `(\w+)\s+import` form matched none of those, so every dotted or
# intra-package dependency was invisible.  `from . import x` stays out:
# it has no named segment before `import`.
_PY_FROM = re.compile(r"^from\s+\.*(\w+)[\w.]*\s+import", re.M)
# [ \t]*, NOT \s*, for every owner-determining indent capture (also rust/
# ruby/c fn and the java method anchor): \s matches newlines, so with re.M
# the match could start at the BLANK LINE above a column-0 declaration,
# capture indent="\n" (truthy) and mis-attribute a top-level `def main()`
# following a class as that class's method — found by the round-5 files
# front-door fixture; the fuzz generators now draw blank-line separators.
# the optional `async` admits coroutine defs (`async def fetch(…)`) —
# on a real asyncio/FastAPI codebase every handler is one, and without
# it the decl was invisible, its name leaked into the call stream, and
# its body's calls inherited a stale owner.  The optional [...] admits
# PEP 695 type-parameter lists (`def first[T](xs: list[T])`).
_PY_DEF = re.compile(
    r"^([ \t]*)(?:async[ \t]+)?def\s+(\w+)\s*(?:\[[^\]]*\])?\s*\(", re.M
)
# indented classes admitted (nested classes, classes under `if`): the
# column-0 anchor made every non-top-level class invisible — round-5
# wave-7 probe.  Classes are ownerless by the cross-grammar convention
# (java/go nested types are too); their MEMBERS are owned via the
# indent-scope stack in _python_mentions.
_PY_CLASS = re.compile(r"^([ \t]*)class\s+(\w+)", re.M)
# a lambda assigned to a plain name declares a callable the way `def`
# does (`f = lambda x: x + 1`); indented under a column-0 class it is a
# method like its def twin.  The name must sit directly at the indent —
# attribute targets (`self.f = lambda …`, `cfg.k = lambda …`) and dict
# values stay out because '.'/quote breaks the anchor.  A REASSIGNMENT
# inside a function body also fits — counted as a (re)declaration, the
# same envelope as the JS class-field arrow.
_PY_LAMBDA = re.compile(r"^([ \t]*)(\w+)\s*=\s*lambda\b", re.M)

# --- JavaScript / TypeScript --------------------------------------------
# Modern module shapes (the round-4 verdict's recall gap: on a real repo
# nearly every top-level declaration is `export`-prefixed, and the old
# `^\s*function` / default-only-import anchors matched almost nothing):
#   - `export` / `export default` prefixes on function/class declarations
#   - async functions and generator `function*`
#   - arrow-function declarators: `const f = (a, b) => …`,
#     `let g = async x => …` (the `=>` is required — a plain
#     `const x = (a + b) * c` initializer must NOT register)
#   - function expressions: `const f = function (…) {`
#   - TS nominal types as class-kind: `interface I`, `type T = …`,
#     `enum E` / `const enum E`, each with optional export/declare
#   - named / namespace / side-effect imports: `import {a, b} from 'p'`,
#     `import * as ns from 'p'`, `import d, {a} from 'p'`, `import 'p'`,
#     `import type {T} from 'p'`, plus require('p').  The mention name is
#     the module spec's first real path segment ('@scope/pkg' → scope,
#     './utils/x.js' → utils) — join-safe like the ruby/c import stems.
_JS_EXPORT = r"(?:export\s+(?:default\s+)?)?"
# a <...> type-parameter clause with ONE level of nesting
# (`<T extends Comparable<T>>`, `<T extends Map<K, V>>`) — flat
# `<[^>]*>` stops at the inner '>', silently un-declaring every
# bounded-generic method (and, in java, leaking its name into the call
# stream).  The char classes partition on <>, so matching is linear.
_TYPE_PARAMS = r"<[^<>]*(?:<[^<>]*>[^<>]*)*>"
_JS_IMPORT = re.compile(
    r"""(?:import\s+(?:type\s+)?"""
    r"""(?:[\w$]+|\{[^}]*\}|\*\s+as\s+[\w$]+)"""
    r"""(?:\s*,\s*(?:\{[^}]*\}|\*\s+as\s+[\w$]+))?"""
    r"""\s+from\s+['"]([^'"]+)['"]"""
    r"""|import\s+['"]([^'"]+)['"]"""
    r"""|require\(\s*['"]([^'"]+)['"]\s*\)"""
    # re-exports (`export {a} from 'm'`, `export * from 'm'`) are module
    # dependencies exactly like imports — barrel files are nothing else
    r"""|export\s+(?:\{[^}]*\}|\*(?:\s+as\s+[\w$]+)?)"""
    r"""\s+from\s+['"]([^'"]+)['"])"""
)
_JS_FUNC = re.compile(
    r"^\s*" + _JS_EXPORT + r"(?:declare\s+)?(?:async\s+)?function\s*\*?\s*"
    r"(\w+)\s*(?:" + _TYPE_PARAMS + r")?\s*\(",
    re.M,
)
_JS_CLASS = re.compile(
    r"^\s*" + _JS_EXPORT + r"(?:abstract\s+)?class\s+(\w+)", re.M
)
# an arrow's param list may carry a TS return-type annotation before the
# `=>` (`export const useThing = (): Thing => {` — the dominant React-hook
# declarator); without the optional annotation every typed arrow was
# invisible (round-5 wave-4 shape probe)
_JS_RET_ANN = r"(?::\s*[\w$<>\[\],. |&]+)?"
_JS_ARROW = re.compile(
    # the optional type-parameter clause admits generic arrows
    # (`const pick = <T,>(xs: T[]): T => …`); a JSX element in the same
    # position (`const x = <div>…`) cannot false-positive because the
    # clause must be followed by `(params) …=>` on the same line —
    # element child text shaped exactly like an arrow head is the only
    # collision, accepted as negligible (round-5 wave 8, closing the
    # declared TSX-ambiguity residual)
    r"^\s*(?:export\s+)?(?:const|let|var)\s+(\w+)\s*=\s*(?:async\s+)?"
    r"(?:" + _TYPE_PARAMS + r"\s*)?"
    r"(?:\([^)]*\)\s*" + _JS_RET_ANN + r"|[\w$]+)\s*=>",
    re.M,
)
# CommonJS export assignments declare module members exactly like `export
# function` does in ESM (`exports.helper = function (x) {`,
# `module.exports.run = async () => {`) — the dominant Node/CJS shape;
# `module.exports = { run }` (object of existing bindings) is NOT a
# declaration and stays out by requiring the `.name` member access
_JS_EXPORTS_ASSIGN = re.compile(
    r"^\s*(?:module\.)?exports\.(\w+)\s*=\s*(?:async\s+)?"
    r"(?:function\b|(?:\([^()]*\)\s*" + _JS_RET_ANN + r"|[\w$]+)\s*=>)",
    re.M,
)
_JS_FUNC_EXPR = re.compile(
    r"^\s*(?:export\s+)?(?:const|let|var)\s+(\w+)\s*=\s*(?:async\s+)?"
    r"function\b",
    re.M,
)
# Class-body / object-literal methods: an indented `name(args) {` line,
# with optional TS modifiers and return-type annotation (`routes():
# Router {`).  Control statements self-exclude: one-keyword forms are in
# the keyword filter, `} else if (...) {` starts with `}`, and a CALL
# can't match because call statements end `);` not `) {` (a callback
# argument puts `=>` or a nested paren between `)` and `{`).  Owner =
# nearest preceding class declaration, python/java-style; ownerless
# (continuation chunk / object literal) falls back to the function kind.
# Closed by the round-5 realistic-fixture P/R run (scripts/extraction_pr
# .py): on real TS every instance method was invisible before this.
# the param span forbids nested parens ([^()]*): a callback call line
# (`it('works', function () {`) would otherwise fit the shape; real method
# params with parenthesized defaults are the (rare) envelope cost
# the optional `*` admits generator methods (`*iter() {`,
# `async *stream() {`) — previously invisible AND call-stream-leaking
# (round-5 wave-5 probe)
# the optional '#' admits ES2022 private methods (`#helper() {`) — the
# mention name stays the bare identifier because a `this.#helper()` call
# site also yields the bare name (`#` is outside \w, so _CALL anchors
# after it); previously private methods were invisible AND their own
# header leaked a phantom call (round-5 wave-6 probe)
_JS_METHOD = re.compile(
    r"^([ \t]+)(?:(?:public|private|protected|static|async|get|set"
    r"|readonly|override)\s+)*"
    r"\*?\s*#?(\w+)\s*(?:" + _TYPE_PARAMS + r")?\s*\(([^()]*)\)\s*"
    r"(?::\s*[\w$<>\[\],. |&]+)?\s*\{",
    re.M,
)
# TS abstract method prototypes (`abstract render(): void;`) are
# declarations like Java's — `;`-terminated, so _JS_METHOD's `{` never
# sees them and the header minted a phantom call instead (wave 6).  The
# mandatory `abstract` keyword keeps interface-member signatures (already
# handled by _JS_DECL_SKIP, not mentions) and plain call statements out.
_JS_ABSTRACT_PROTO = re.compile(
    r"^([ \t]+)(?:(?:public|private|protected|static|readonly"
    r"|override)\s+)*abstract\s+"
    r"(\w+)\s*(?:" + _TYPE_PARAMS + r")?\s*\(([^()]*)\)\s*"
    r"(?::\s*[\w$<>\[\],. |&]+)?\s*;",
    re.M,
)
# class-field arrows (`tick = () => {…}`, `reset = async (n) => …`) are
# the dominant instance-method shape in modern React/Node classes; an
# indented bare `name = … =>` line (no const/let/var declarator — those
# are _JS_ARROW's) declares a method owned by the nearest preceding
# class, function when ownerless.  `this.x = () =>` cannot match: the
# name must directly follow the indent.  Envelope: a REASSIGNMENT of an
# outer binding to an arrow inside a function body also fits this shape
# — counted as a (re)declaration, which is how a reader inventories it.
_JS_FIELD_ARROW = re.compile(
    r"^([ \t]+)(?:(?:public|private|protected|static|readonly"
    r"|override)\s+)*"
    r"#?(\w+)\s*=\s*(?:async\s+)?(?:\([^()]*\)\s*" + _JS_RET_ANN
    + r"|[\w$]+)\s*=>",
    re.M,
)
_JS_METHOD_SKIP = frozenset({
    "if", "for", "while", "switch", "catch", "function", "return",
    "constructor", "do", "try", "else", "new", "await", "typeof",
})

# TS nominal types route to the "class" kind (nominal containers, same as
# rust struct/enum/trait); `type` needs the `=` so a TS `type` annotation
# keyword inside other contexts can't fire.
_TS_NOMINAL = re.compile(
    r"^\s*" + _JS_EXPORT + r"(?:declare\s+)?"
    r"(?:(?:const\s+)?enum\s+(\w+)|interface\s+(\w+)|type\s+(\w+)\s*="
    # TS namespaces (and the legacy `module Geo {` spelling) are nominal
    # containers like rust `mod`; the `{` is required so `module.exports`
    # and ambient `declare module 'spec'` (quoted name) can never fire.
    # Dotted names (`namespace A.B.C {`) are one mention, full path —
    # join-safe, same [\w.]+ shape as config keys and java imports.
    r"|(?:namespace|module)\s+([\w.]+)\s*\{)",
    re.M,
)
# owner tracking for the call stream: any declarator that _calls_tracked
# should treat as "current function changed".  Same alternatives as the
# mention regexes above, minus classes (a class is a container, not a call
# owner at this grammar's granularity).  The method alternative's
# lookahead is BUILT FROM _JS_METHOD_SKIP so the mention pass and the
# call-owner pass can never drift apart.
_JS_SKIP_ALT = "|".join(sorted(_JS_METHOD_SKIP))
_JS_DECL_UPDATE = re.compile(
    r"\s*" + _JS_EXPORT +
    r"(?:(?:declare\s+)?(?:async\s+)?function\s*\*?\s*(\w+)\s*"
    r"(?:" + _TYPE_PARAMS + r")?\s*\("
    r"|(?:const|let|var)\s+(\w+)\s*=\s*(?:async\s+)?"
    r"(?:function\b|(?:\([^)]*\)\s*" + _JS_RET_ANN + r"|[\w$]+)\s*=>)"
    # CommonJS export assignment owns its body's calls like the
    # const-arrow twin above (mirror of _JS_EXPORTS_ASSIGN)
    r"|(?:module\.)?exports\.(\w+)\s*=\s*(?:async\s+)?"
    r"(?:function\b|(?:\([^()]*\)\s*" + _JS_RET_ANN + r"|[\w$]+)\s*=>)"
    # class-body method definitions and class-field arrows own their
    # body's calls (same modifier prefix + keyword lookahead for both)
    r"|(?:(?:public|private|protected|static|async|get|set|readonly"
    r"|override)\s+)*"
    r"(?!(?:" + _JS_SKIP_ALT + r")\b)"
    r"(?:\*?\s*#?(\w+)\s*(?:" + _TYPE_PARAMS + r")?\s*\([^()]*\)\s*"
    r"(?::\s*[\w$<>\[\],. |&]+)?\s*\{"
    r"|#?(\w+)\s*=\s*(?:async\s+)?(?:\([^()]*\)\s*" + _JS_RET_ANN
    + r"|[\w$]+)\s*=>))"
)
# no calls from import/type/interface/enum/class header lines — `extends
# Mixin(Base)` and `import('mod')` shapes would otherwise leak call rows.
# The last alternative skips TS member SIGNATURES (`get(key: string):
# string;` in interface/declare bodies, `);`-terminated like Java
# prototypes): a ':' annotation in the params or a return annotation is
# required, so a plain call statement `foo(x);` still reaches _CALL.
# The param-annotation ':' must appear before any '?', brace or quote —
# otherwise ternary args (`log(x ? a : b);`), object-literal args
# (`draw({x: 1});`) and string args (`get('http://u');`) would be
# mistaken for signatures and their genuine calls lost.  A TS parameter
# name is a plain identifier (optional '?` handled by the return-
# annotation alternative), so the restriction costs no real signature.
_JS_DECL_SKIP = re.compile(
    r"\s*(?:import\b|(?:export\s+(?:default\s+)?)?(?:abstract\s+)?class\b"
    r"|(?:export\s+)?(?:declare\s+)?(?:interface\b|(?:const\s+)?enum\b"
    r"|type\s+\w+\s*=)"
    r"|\s*(?:(?:public|private|protected|static|readonly|override"
    r"|abstract)\s+)*\w+\s*(?:" + _TYPE_PARAMS + r")?\s*"
    r"(?:\([^(){}?'\"`]*:[^()]*\)\s*(?::\s*[\w$<>\[\],. |&]+)?"
    r"|\([^()]*\)\s*:\s*[\w$<>\[\],. |&]+)\s*;)"
)
# 'default' is here because `export default (a, b) => …` (the standard
# anonymous default-export arrow) otherwise leaves 'default (' for _CALL
# to match — a phantom entity `<module>::default` per React-style module
_JS_KEYWORDS = frozenset({"constructor", "await", "typeof", "async",
                          "default", "delete", "yield"})


def _js_module_name(spec: str) -> str:
    """Module spec → join-safe mention name: first real path segment with
    any extension dropped ('@scope/pkg' → scope, './utils/x.js' → utils,
    'lodash.merge' → lodash).  '' when no word-safe segment exists."""
    seg = spec.lstrip("@./").split("/", 1)[0].split(".", 1)[0]
    return seg if re.fullmatch(r"[\w-]+", seg, re.ASCII) else ""

_GO_IMPORT = re.compile(r'^import\s+"(\w+)"', re.M)
# gofmt groups imports into one parenthesized block — the DOMINANT form
# on real go code (`import (\n\t"fmt"\n\tf "net/http"\n)`); entries are
# one per line, optionally aliased, and the mention name is the path's
# first segment like the single-line form's
_GO_IMPORT_OPEN = re.compile(r"^import\s*\(", re.M)
_GO_IMPORT_ENTRY = re.compile(r'"(\w+)')
# receiver methods carry their receiver TYPE (`func (s *Srv) Add(…)` →
# method Add owned by Srv) — the go analog of a class method, so go files
# contribute has_method containment edges like every other code grammar
# (round-5 fidelity pass).  The receiver group tolerates `s *T`, `s T`
# and generic receivers `s *T[K]` (type = first word after the optional
# pointer star).
# the optional [...] after the name admits go 1.18 type parameters
# (`func Map[T any, U any](xs []T)`)
_GO_FUNC = re.compile(
    r"^func\s+(?:\(\s*\w+\s+\*?(\w+)[^)]*\)\s*)?(\w+)\s*(?:\[[^\]]*\])?\s*\(",
    re.M,
)
# EVERY `type` line declares a nominal type (class kind): structs,
# interfaces, defined types (`type Celsius float64`), aliases
# (`type MyInt = int`) and function types (`type Handler func(w, r)`) —
# the old struct|interface restriction silently dropped the other three
# (round-5 wave-4 shape probe).  Interface METHOD-SET lines are handled
# by _GO_IFACE below (mentions + call-stream skip span — wave 6 closed
# the old stateless-skip envelope gap).  The optional [...] admits
# generic type declarations (`type Stack[T any] struct`).
_GO_TYPE = re.compile(
    r"^type\s+(\w+)(?:\[[^\]]*\])?\s+=?\s*\S", re.M
)
# grouped form: `type ( A struct{…} \n B = int \n )` — same
# block-scan as the grouped import, one class mention per entry line
_GO_TYPE_OPEN = re.compile(r"^type\s*\(", re.M)
_GO_TYPE_ENTRY = re.compile(
    r"^[ \t]+(\w+)(?:\[[^\]]*\])?\s+=?\s*\S", re.M
)
_GO_PAREN_CLOSE = re.compile(r"^\)", re.M)
# interface declarations own their method-set prototypes: `Get(key string)
# (string, error)` inside `type Store interface {` is a method declaration
# owned by Store, not a call site — the line shape is call-identical, so
# the body span is both a mention source and a call-stream skip range
# (round-5 wave-6 probe: every interface method was a phantom call with a
# stale owner).  Embedded interfaces (bare `io.Reader` lines) have no
# paren and stay out.
_GO_IFACE = re.compile(
    r"^type\s+(\w+)(?:\[[^\]]*\])?\s+interface\s*\{", re.M
)
_GO_IFACE_METHOD = re.compile(r"^[ \t]+(\w+)(?:\[[^\]]*\])?\s*\(", re.M)
# anonymous-func declarators (`var handler = func(w, r) {`,
# `retry := func() {`) declare a callable exactly like the JS const-arrow
# twin — previously invisible, with body calls misattributed (wave 6).
# `type Handler func(…)` cannot fire: the name must be followed directly
# by '='/':=' and _GO_TYPE already owns the type-alias form.
_GO_ANON_FUNC = re.compile(
    r"^[ \t]*(?:var\s+)?(\w+)\s*(?::=|=)\s*func\s*\(", re.M
)

# `import static java.util.Arrays.asList;` must name `java`, not mint a
# phantom module called "static"
_JAVA_IMPORT = re.compile(r"^import\s+(?:static\s+)?(\w+)", re.M)
# Stacked modifiers ('public final class', 'protected abstract class', …)
# are one alternation with *, same as _JAVA_METHOD — a single optional
# modifier missed 'public final class Foo' entirely.
# interface, enum and record are nominal types like class (the TS/go/
# rust grammars already treat their equivalents as class-kind) — and
# member prototypes inside an interface body need the interface as
# their owner, not whatever class happened to precede it.  `record` in
# particular MUST be a declaration: its header (`record Point(int x)`)
# fits the call shape, so an unrecognized record leaked a phantom call.
# sealed/non-sealed are class-only modifiers (Java 17).  `@interface`
# (annotation-type decl) is a nominal type like the rest — the optional
# '@' admits it; a USE-site annotation (`@Override`) still cannot fire
# because the annotation name is not followed by a declared identifier
# in the `(?:class|…)\s+(\w+)` tail.
_JAVA_CLASS_MODS = (
    r"(?:(?:public|protected|private|abstract|final|static|sealed"
    r"|non-sealed|strictfp)\s+)*"
)
_JAVA_CLASS = re.compile(
    r"^\s*" + _JAVA_CLASS_MODS + r"(?:class|@?interface|enum|record)\s+(\w+)",
    re.M,
)
# full modifier set, matching _JAVA_CLASS plus the method-only ones — with
# only public/private/static, 'protected void close() {' was silently not
# a declaration and 'close' leaked into the call stream instead
# the return type admits generics and array suffixes (List<String>,
# Map<String, List<Integer>>, byte[]): a plain \w+ missed every
# generic-returning method, and — worse — the unrecognized decl line then
# leaked the method name into the call stream via _CALL (found by the
# round-5 realistic-fixture P/R measurement, scripts/extraction_pr.py).
# the generic span excludes '='/';'/newline so it can never swallow a
# field initializer and re-anchor on the lambda body (`Supplier<I> zero
# = () -> make();` once minted a phantom method `make` via `<Integer> …
# ->` — the '>' of the arrow closed the generic), nor span lines (a
# negated class matches \n where '.' did not, which once re-owned a
# following class's prototype to the preceding class).
_JAVA_MODS = (
    r"(?:(?:public|protected|private|static|final|abstract|synchronized"
    r"|native|default)\s+)*"
)
# statement keywords that fit the <type> <name>(args) shape but are not
# declarations (`throw Error(msg);`, `return make(x);`)
_JAVA_STMT = (
    r"(?!(?:return|throw|new|assert|else|if|while|for|switch|do|case"
    r"|break|continue|yield|super|this)\b)"
)
# the optional leading <...> is a method TYPE-PARAMETER clause
# (`static <K, V> V find(K key)`): without it every generic-declaring
# method was invisible AND leaked its name into the call stream (same
# failure mode as the generic-return-type gap the realistic-fixture P/R
# run closed) — the clause applies to _JAVA_METHOD, _JAVA_PROTO and both
# call-stream twins because all four are built from this one signature
# the optional `throws` clause: without it EVERY throwing method —
# most of real-world Java I/O code — was invisible and leaked its name
# into the call stream (round-5 wave-4 shape probe).  [\w.,\s]* cannot
# contain '{' or ';', so the terminator stays unambiguous.
_JAVA_SIG = (
    _JAVA_MODS + _JAVA_STMT + r"(?:" + _TYPE_PARAMS + r"\s+)?"
    r"\w+(?:\.\w+)*(?:<[^=;\n]*>)?(?:\[\])*\s+(\w+)\s*\([^)]*\)\s*"
    r"(?:throws\s+[\w.,\s]*)?"
)
_JAVA_METHOD = re.compile(r"^[ \t]+" + _JAVA_SIG + r"\{", re.M)
# functional-interface fields (`private final Function<I, I> doubler =
# x -> x * 2;`) declare callables like the JS class-field arrow twin —
# round-5 wave-5 probe.  Switch arrows can't fire: `case` is fenced by
# the statement lookahead and `default ->` has no `<type> <name> =`.
_JAVA_FIELD_LAMBDA = re.compile(
    r"^[ \t]+" + _JAVA_MODS + _JAVA_STMT +
    r"\w+(?:\.\w+)*(?:<[^=;\n]*>)?(?:\[\])*\s+(\w+)\s*=\s*(?:\([^)]*\)|\w+)\s*->",
    re.M,
)
# abstract/interface method prototypes end in ';' — declarations a reader
# inventories (and that previously leaked their name into the call
# stream); a call statement can't match: it has no type token + separator
# before the name, and locals with initializers have '=' in between.
# annotation members may carry a `default <constant>` tail
# (`int attempts() default 3;`).
_JAVA_PROTO = re.compile(
    r"^[ \t]+" + _JAVA_SIG + r"(?:default\s+[^;{]*)?;", re.M
)
_JAVA_DECL_UPDATE = re.compile(
    r"[ \t]+(?:" + _JAVA_SIG + r"\{"
    # field lambdas own their (same-line) body's calls, like the JS twin
    r"|" + _JAVA_MODS + _JAVA_STMT +
    r"\w+(?:\.\w+)*(?:<[^=;\n]*>)?(?:\[\])*\s+(\w+)\s*=\s*(?:\([^)]*\)|\w+)\s*->)"
)
_JAVA_DECL_SKIP = re.compile(
    r"[ \t]*(?:import\b|package\b|@\w+"
    r"|" + _JAVA_CLASS_MODS + r"(?:class|@?interface|enum|record)\b)"
    r"|[ \t]+" + _JAVA_SIG + r"(?:default\s+[^;{]*)?;"
)

_CALL = re.compile(r"(?<![\w.])(\w+)\s*\(")
_DECL_LINE = re.compile(r"^\s*(?:def|class|function|func|type|import|from)\b")
# Lines that START with a comment marker never yield call mentions:
# `# see foo(x)`, `// retry bar(1)`, `/* function ghost(x) { */` and
# JSDoc ` * @see baz(y)` all leaked bogus calls (the decl regexes were
# already immune — their anchors break on the marker — but _CALL was
# not).  `\*[ \t]` requires a space after a bare '*' so a call-argument
# continuation line (`*args)`) is not mistaken for a JSDoc line.
# TRAILING comments (`foo(x); // calls bar(y)`) remain the declared
# envelope: stripping them naively would corrupt string literals
# ('http://…' contains //).  This also marks C preprocessor lines
# (#include/#define) — no call site lives there.
_COMMENT_LINE = re.compile(r"[ \t]*(?:#|//|/\*|\*[ \t])")
# '#' is NOT a comment marker in JS — it is the ES2022 private-member
# sigil, and the shared pattern silently dropped `#helper(x) {` lines
# from the call pass (owner never updated — round-5 wave 6).  A shebang
# (`#!/…`) has no call shape, so losing the '#' alternative is safe.
_COMMENT_LINE_JS = re.compile(r"[ \t]*(?://|/\*|\*[ \t])")
# Single-line string-literal spans, escape-aware ("a \" b" is ONE span),
# plus backtick templates (go raw strings / JS templates, no escapes).
# Call-shaped text inside a string is prose, not a call site:
# `log("retry fetch(url)")` must not mint a fetch() edge.  Envelope:
# multi-line strings (python triple-quote bodies, multi-line templates)
# and calls interpolated inside `${…}` are not distinguished.
_STRING_SPAN = re.compile(
    r"\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*'|`[^`]*`"
)


def _mask_block_spans(text: str, lang: str) -> str:
    """Blank out multi-line comment AND multi-line string bodies BEFORE
    the grammars run, so commented-out code, docstring/doctest examples
    and code-shaped string payloads (SQL in a JS template literal, a
    ruby heredoc, a java text block) can never mint declarations or
    calls — the highest-volume false-positive source on real
    repositories.  Round-5 wave 8 extended the comment/docstring mask to
    every multi-line string form the routed languages have: js/go
    backtick spans containing a newline, java ``\"\"\"`` text blocks,
    rust multi-line raw strings (``r\"…\"`` / ``r#\"…\"#``), ruby
    ``=begin``/``=end`` blocks and heredocs, and backslash-newline
    continuation strings (python/c/js).  Single-LINE literals keep the
    round-4 behavior bit-exactly: skipped here, suppressed in the call
    pass by ``_STRING_SPAN``.

    Masking replaces span content with spaces while PRESERVING newlines,
    so every match offset, line structure and chunk id downstream is
    byte-identical to the unmasked text.  The scanner skips single-line
    string literals (a ``"/*"`` inside a string must not open a block)
    and line comments (``// see /*`` must not either).  A span left open
    at chunk end masks to the end — the chunk-boundary envelope shared
    by every grammar here (an opener in chunk N cannot shadow chunk
    N+1) — EXCEPT a bare ruby ``<<TAG`` with no terminator in the chunk,
    which is shift-ambiguous (``x<<WIDTH``) and therefore never masks
    without its terminator line; the unambiguous ``<<~``/``<<-``/quoted
    forms do mask to the end.  Returns ``text`` unchanged (no copy) when
    no opener occurs.
    """
    probes = _MASK_PROBES[lang]
    if not any(p in text for p in probes) and not (
        lang == "c" and _C_IF0_PROBE.search(text)
    ):
        return text
    if lang == "yaml":
        # block scalars (`run: |`, `script: >-` — every CI file's shape):
        # the body is string DATA whose `key:`-shaped lines minted
        # phantom mentions.  Line walk: after a header, mask every
        # following line that is blank or more indented than the header.
        out_lines = []
        masking = False
        hdr_indent = 0
        changed = False
        for line in text.split("\n"):
            stripped = line.strip(" \t\r")
            indent = len(line) - len(line.lstrip(" \t"))
            if masking and stripped and indent <= hdr_indent:
                masking = False
            if masking:
                out_lines.append("".join(
                    "\n" if ch == "\n" else " " for ch in line))
                changed = changed or bool(stripped)
                continue
            out_lines.append(line)
            if _YAML_BLOCK_HDR.match(line):
                masking = True
                hdr_indent = indent
        return "\n".join(out_lines) if changed else text
    # token-jumping scan: O(interesting tokens), not O(chars) — a per-char
    # python loop cost ~25% of kernel throughput on a docstring-rich corpus
    tok_re = _MASK_TOKS[lang]
    cont_ok = lang in ("python", "c", "javascript")
    spans = []
    term_index = None  # lazy ruby heredoc terminator-line index
    n = len(text)
    i = 0
    while True:
        m = tok_re.search(text, i)
        if m is None:
            break
        tok, start = m.group(), m.start()
        if tok in ('"""', "'''"):
            # python triple-quote docstring OR java text block
            j = text.find(tok, start + 3)
            end = n if j == -1 else j + 3
            spans.append((start, end))
            i = end
        elif tok == "/*":
            if lang == "rust":
                # rust block comments NEST per spec: the first '*/' of
                # `/* a /* b */ c */` does not close the span — a flat
                # find leaked everything after the inner closer
                depth, j = 1, start + 2
                end = n
                while True:
                    mo = _RUST_BLOCK_TOK.search(text, j)
                    if mo is None:
                        break
                    depth += 1 if mo.group() == "/*" else -1
                    j = mo.end()
                    if depth == 0:
                        end = j
                        break
            else:
                j = text.find("*/", start + 2)
                end = n if j == -1 else j + 2
            spans.append((start, end))
            i = end
        elif "#" in tok and tok.lstrip(" \t#").startswith("if"):
            # C '#if 0' — THE idiom for commenting out code: mask through
            # the matching #endif (nested #if* tracked), but stop BEFORE
            # a depth-1 #else/#elif whose branch is live code
            depth = 1
            j = m.end()
            end = n
            while True:
                mo = _C_PP_TOK.search(text, j)
                if mo is None:
                    break
                kw = mo.group(1)
                if kw in ("ifdef", "ifndef", "if"):
                    depth += 1
                elif kw == "endif":
                    depth -= 1
                    if depth == 0:
                        le = text.find("\n", mo.end())
                        end = n if le == -1 else le
                        break
                elif depth == 1:  # else / elif: live branch follows
                    end = mo.start()
                    break
                j = mo.end()
            spans.append((start, end))
            i = end
        elif tok in ("#", "//"):  # line comment: no opener inside counts
            j = text.find("\n", start)
            i = n if j == -1 else j + 1
        elif tok == "`":  # js template / go raw string
            j = text.find("`", start + 1)
            end = n if j == -1 else j + 1
            if "\n" in text[start:end]:
                spans.append((start, end))
            i = end
        elif tok == "=begin":  # ruby block comment (column-0 anchored)
            mm = _RB_BLOCK_END.search(text, start)
            end = n if mm is None else mm.end()
            spans.append((start, end))
            i = end
        elif tok.startswith("<<"):  # ruby / shell heredoc opener(s)
            line_end = text.find("\n", m.end())
            if line_end == -1:
                i = n
                continue
            if term_index is None:
                # one O(n) pass builds tag → sorted terminator-line ends;
                # each lookup is then a bisect — a per-token re.search
                # over the tail was O(n²) on shift-heavy files (x<<WIDTH)
                term_ok = _RB_TERM_OK if lang == "ruby" else _SH_TERM_OK
                term_index = {}
                pos = 0
                for line in text.split("\n"):
                    s = line.strip(" \t\r")
                    if s and term_ok.match(s):
                        term_index.setdefault(s, []).append(pos + len(line))
                    pos += len(line) + 1
            # stacked openers (`foo(<<~A, <<~B)`, `cat <<A; cat <<B`): each
            # opener on the line takes the first terminator after the
            # previous one's; the bodies are masked through the last
            end, mo = line_end, m
            openers = []
            while mo is not None and end < n:
                t = mo.group()
                if t.startswith("<<"):
                    ends = term_index.get(mo.group(2), ())
                    k = bisect.bisect_right(ends, end)
                    if k < len(ends):
                        end = ends[k]
                        openers.append(mo.span())
                    elif t[2] in "~-" or mo.group(1):
                        end = n  # unambiguous opener, no terminator
                        openers.append(mo.span())
                    j = mo.end()
                elif t in ('"', "'"):  # one-line string: skip it
                    j = text.find(t, mo.end(), line_end) + 1
                    if j == 0:
                        break
                else:  # line comment: nothing after it opens
                    break
                mo = tok_re.search(text, j, line_end)
            if end > line_end:
                # blank the openers too: masking the masked text again
                # (extract_mentions on a chunk_text_masked chunk) must not
                # see an opener whose terminator is already blank
                spans.extend(openers)
                spans.append((line_end + 1, end))
                i = end
            else:
                # no terminator + shift-ambiguous tokens only: not a heredoc
                i = m.end()
        elif len(tok) > 1 and tok.endswith('"'):  # rust raw string rb?#*"
            closer = '"' + "#" * tok.count("#")
            j = text.find(closer, m.end())
            end = n if j == -1 else j + len(closer)
            if "\n" in text[start:end]:
                spans.append((start, end))
            i = end
        else:  # ' or " string: single-line unless \-newline continuation
            q = tok
            j = start + 1
            crossed_nl = False
            while True:
                k = text.find(q, j)
                nl = text.find("\n", j)
                if k == -1 and nl == -1:
                    if crossed_nl:
                        spans.append((start, n))
                    i = n
                    break
                if nl != -1 and (k == -1 or nl < k):
                    b = nl - 1
                    while b >= 0 and text[b] == "\\":
                        b -= 1
                    if cont_ok and (nl - 1 - b) % 2 == 1:
                        # escaped newline: the literal continues
                        j = nl + 1
                        crossed_nl = True
                        continue
                    if crossed_nl:
                        spans.append((start, nl))
                    i = nl + 1
                    break
                b = k - 1
                while b >= 0 and text[b] == "\\":
                    b -= 1
                if (k - 1 - b) % 2 == 0:
                    if crossed_nl:
                        spans.append((start, k + 1))
                    i = k + 1
                    break
                j = k + 1
    return _blank(text, spans)


_MASKED_LANGS = frozenset(
    {"python", "javascript", "go", "java", "rust", "c", "ruby",
     "shell", "yaml", "toml", "docker"}
)
# tokens the mask scanner jumps between (order matters: ''' / """ / /*
# / r#" before their single-char prefixes), one set per routed lang —
# a backtick is a string only in js/go, `"""` only in python/java, raw
# strings only in rust, heredocs only in ruby
_PY_MASK_TOK = re.compile(r'"""|\'\'\'|#|["\']')
_JSGO_MASK_TOK = re.compile(r"/\*|//|[\"'`]")
_C_MASK_TOK = re.compile(r"/\*|//|[\"']|^[ \t]*#[ \t]*if[ \t]+0\b", re.M)
# the C probe for '#if 0': every spacing _C_MASK_TOK accepts (`#  if 0`,
# `#\tif 0`), but not a bare '#' — every file with an #include has one
_C_IF0_PROBE = re.compile(r"^[ \t]*#[ \t]*if[ \t]+0", re.M)
# preprocessor conditional keywords for the '#if 0' depth scan
# (ifdef/ifndef before if — alternation is first-match)
_C_PP_TOK = re.compile(
    r"^[ \t]*#[ \t]*(ifdef|ifndef|if|elif|else|endif)\b", re.M
)
# rust block-comment nesting scan tokens
_RUST_BLOCK_TOK = re.compile(r"/\*|\*/")
_JAVA_MASK_TOK = re.compile(r'/\*|//|"""|["\']')
_RUST_MASK_TOK = re.compile(r'/\*|//|(?<![\w"])b?r#*"|["\']')
_RB_MASK_TOK = re.compile(
    r"#|[\"']|^=begin|<<[~-]?(['\"]?)([A-Z_][A-Za-z0-9_]*)\1", re.M
)
_RB_BLOCK_END = re.compile(r"^=end[^\n]*", re.M)
# a heredoc terminator line's stripped content: exactly the tag shape
# (ruby convention: uppercase; shell tags may be any-case words)
_RB_TERM_OK = re.compile(r"[A-Z_]\w*\Z", re.ASCII)
_SH_TERM_OK = re.compile(r"[A-Za-z_]\w*\Z", re.ASCII)
# shell: '#' is a comment only at line start / after whitespace (never
# inside ${#var}); heredoc openers share the ruby branch (same group
# structure — quote group then tag), tags may be lowercase.  A here-string
# `<<<word` is not a heredoc: its second '<' must not open one.
_SH_MASK_TOK = re.compile(
    r"(?:(?<=\s)|^)#|[\"']|(?<!<)<<-?(['\"]?)([A-Za-z_]\w*)\1", re.M
)
# toml: '#' comments, multi-line basic/literal strings reuse the
# triple-quote branch, single-line strings skip like everywhere else
_TOML_MASK_TOK = re.compile(r"(?:(?<=\s)|^)#|\"\"\"|'''|[\"']", re.M)
# a yaml block-scalar header: optional list dash, key (bare or quoted),
# ':', then '|' or '>' with optional chomp/indent modifiers — or a bare
# list-item scalar (`- |`); trailing comment allowed
_YAML_BLOCK_HDR = re.compile(
    r"^[ \t]*(?:-[ \t]+)?"
    r"(?:(?:[\w.-]+|\"[^\"]*\"|'[^']*')[ \t]*:)?"
    r"[ \t]*[|>][+\-0-9]*[ \t]*(?:#[^\n]*)?\r?$"
)
_MASK_TOKS = {
    "python": _PY_MASK_TOK,
    "javascript": _JSGO_MASK_TOK,
    "go": _JSGO_MASK_TOK,
    "java": _JAVA_MASK_TOK,
    "rust": _RUST_MASK_TOK,
    "c": _C_MASK_TOK,
    "ruby": _RB_MASK_TOK,
    "shell": _SH_MASK_TOK,
    "toml": _TOML_MASK_TOK,
    # BuildKit heredocs (`RUN <<EOF … EOF`) leaked their bodies —
    # `ENV GHOST=1` minted a member and a FROM-shaped body line even
    # corrupted stage tracking; instruction lines are shell-flavored,
    # so the shell token set (line-start comments, quotes, heredocs)
    # applies as-is
    "docker": _SH_MASK_TOK,
}
# cheap containment probes gating the scan (the overwhelmingly common
# no-multi-line-span file must stay zero-cost)
_MASK_PROBES = {
    "python": ('"""', "'''", "\\\n"),
    "javascript": ("/*", "`", "\\\n"),
    "go": ("/*", "`"),
    "java": ("/*", '"""'),
    "rust": ("/*", 'r"', '#"'),
    "c": ("/*", "\\\n"),
    "ruby": ("=begin", "<<"),
    "shell": ("<<",),
    "yaml": ("|", ">"),
    "toml": ('"""', "'''"),
    "docker": ("<<",),
}


def chunk_text_masked(
    content: str, lang: str, chunk_bytes: int = DEFAULT_CHUNK_BYTES
) -> "List[Tuple[int, str, str]]":
    """``[(chunk_id, original_chunk, extraction_text)]`` — chunk ids and
    boundaries come from the ORIGINAL content (the sha256 content
    invariant reconstructs documents from stored chunk rows, so those
    must stay byte-exact), while the extraction text is the DOCUMENT-
    level block-comment mask sliced to the same lines.

    Masking at document level is essential: per-chunk masking would see
    an orphan closer when a docstring straddles a chunk boundary and
    blank the rest of that chunk — real declarations lost.  Document-
    level pairing has no boundary; the mask preserves line structure, so
    slicing by line count keeps original and masked chunks aligned."""
    chunks = chunk_text(content, chunk_bytes)
    if lang not in _MASKED_LANGS:
        return [(cid, t, t) for cid, t in chunks]
    masked = _mask_block_spans(content, lang)
    if masked is content:
        return [(cid, t, t) for cid, t in chunks]
    mlines = masked.split("\n")
    out: List[Tuple[int, str, str]] = []
    li = 0
    for cid, t in chunks:
        n = t.count("\n") + 1
        out.append((cid, t, "\n".join(mlines[li : li + n])))
        li += n
    return out


def _line_calls(line: str):
    """_CALL matches on one line, excluding those inside string literals.
    Lines without quote characters skip the span scan (the common case —
    zero added cost on the Arrow hot path)."""
    if '"' in line or "'" in line or "`" in line:
        spans = [(m.start(), m.end()) for m in _STRING_SPAN.finditer(line)]
        for m in _CALL.finditer(line):
            if _in_spans(spans, m.start(1)):
                continue
            yield m
    else:
        yield from _CALL.finditer(line)

# --- Rust -------------------------------------------------------------------
# `use` imports report the crate root segment; struct/enum/trait all map to
# the "class" kind (nominal types); `fn` is a method when indented under a
# preceding `impl` block (owner = the impl target), else a function.
_RUST_USE = re.compile(r"^\s*(?:pub(?:\([^)]*\))?\s+)?use\s+(\w+)", re.M)
# `type` aliases (`pub type Result<T> = …;`, associated `type Item = u32;`)
# are nominal declarations like struct/enum/trait — round-5 wave-5 probe
_RUST_TYPE = re.compile(
    r"^\s*(?:pub(?:\([^)]*\))?\s+)?(?:struct|enum|trait|type)\s+(\w+)", re.M
)
# modules are nominal containers (class kind), same as the ruby grammar's
# `module` — both the `mod name;` file form and the inline `mod name {`
_RUST_MOD = re.compile(
    r"^\s*(?:pub(?:\([^)]*\))?\s+)?mod\s+(\w+)", re.M
)
_RUST_FN = re.compile(
    r"^([ \t]*)(?:pub(?:\([^)]*\))?\s+)?(?:const\s+)?(?:async\s+)?(?:unsafe\s+)?"
    r'(?:extern\s+"[^"]*"\s+)?fn\s+(\w+)',
    re.M,
)
# `impl Foo {` and `impl Trait for Foo {` both yield owner Foo; generics on
# the impl are skipped (`impl<T> Vec<T>` → Vec).  The trait side may be
# path-qualified and/or generic (`impl fmt::Display for Graph`,
# `impl From<u64> for Graph`) and the target may be path-qualified
# (`impl T for crate::Graph` → Graph) — owner is always the type after
# `for` (or the bare impl target), never the trait's first segment.
_RUST_IMPL = re.compile(
    r"^impl(?:\s*<[^>]*>)?\s+(?:[\w:]+(?:\s*<[^>]*>)?\s+for\s+)?"
    r"(?:\w+::)*(\w+)",
    re.M,
)
# trait headers are fn owners too: a required-method signature inside
# `trait Visit { fn visit(&self); }` is a declaration owned by the trait,
# same as an impl body (round-5 fidelity pass — previously those fns fell
# back to ownerless functions)
_RUST_TRAIT_OWNER = re.compile(
    r"^(?:pub(?:\([^)]*\))?\s+)?trait\s+(\w+)", re.M
)
_RUST_DECL_UPDATE = re.compile(
    r"\s*(?:pub(?:\([^)]*\))?\s+)?(?:const\s+)?(?:async\s+)?(?:unsafe\s+)?"
    r'(?:extern\s+"[^"]*"\s+)?fn\s+(\w+)'
    # macro definitions own their body's expansion-time calls
    r"|\s*macro_rules!\s+(\w+)"
)
# a macro definition is a declaration a reader inventories (function
# kind — it is callable, `name!(…)`); the `!` keeps USE sites out of
# the _CALL stream, so only the definition needs a grammar rule
_RUST_MACRO = re.compile(r"^\s*macro_rules!\s+(\w+)", re.M)
_RUST_DECL_SKIP = re.compile(r"\s*(?:pub\b|use\b|impl\b|struct\b|enum\b|trait\b|mod\b)")
# enum BODIES are call-stream skip ranges: tuple variants (`Circle(f64),`)
# are shape-identical to call statements, so every variant minted a
# phantom call (round-5 wave-6 probe).  Variants are not emitted as
# mentions — the nominal type is the enum itself, matching how the other
# grammars treat constructor-like members (Some/Ok/Err are keywords for
# the same reason).  Brace-counted span: struct variants nest braces.
_RUST_ENUM_OPEN = re.compile(
    r"^\s*(?:pub(?:\([^)]*\))?\s+)?enum\s+\w+[^{;\n]*\{", re.M
)
# Some/Ok/Err/None are enum-variant constructors, not call sites a KG wants;
# macros (println! / vec!) self-exclude — `!` breaks the _CALL shape
# Fn/FnMut/FnOnce appear in where-clauses and trait bounds
# (`F: Fn(i32) -> i32`) — call-shaped but never call sites
_RUST_KEYWORDS = frozenset({"fn", "let", "match", "impl", "use", "mod", "pub",
                            "loop", "Some", "Ok", "Err", "None",
                            "Fn", "FnMut", "FnOnce"})

# --- Ruby -------------------------------------------------------------------
# require name = the quoted path's first segment (require 'a/b' → a);
# class and module are both nominal containers → "class" kind; a def is a
# method when indented under a preceding class/module (python-style owner
# attribution), else a function.  `def self.foo` strips the receiver.
_RB_REQUIRE = re.compile(r"""^\s*require(?:_relative)?\s+['"]([\w-]+)""", re.M)
_RB_CLASS = re.compile(r"^\s*(?:class|module)\s+(\w+)", re.M)
_RB_DEF = re.compile(r"^([ \t]*)def\s+(?:self\.)?(\w+)", re.M)
# update BEFORE the paren gate: ruby defs routinely omit parens, and the
# paren-gated shared _calls() would never learn the enclosing method
_RB_DECL_UPDATE = re.compile(r"\s*def\s+(?:self\.)?(\w+)")
_RB_DECL_SKIP = re.compile(r"\s*(?:require\b|class\b|module\b|attr_\w+\b)")
_RB_KEYWORDS = frozenset({"puts", "require", "raise", "lambda", "proc", "new",
                          "attr_accessor", "attr_reader", "attr_writer"})

# --- C / C++ ----------------------------------------------------------------
# #include name = the header's file stem (stdio.h → stdio, a/b.hpp → b);
# class/struct require an opening `{`/`:` so forward decls and variable
# decls ('struct foo x;') do not register.  A function definition is a
# line-anchored <type tokens> <name>( args ) { shape — args may span lines
# but never contain ; or } (bounds the scan); a qualified name
# (Foo::bar) is a method with owner Foo.  Control keywords self-exclude:
# 'if (' / 'while (' have no second identifier before the paren.
_C_INCLUDE = re.compile(r'^\s*#\s*include\s+[<"]([\w./-]+)[>"]', re.M)
# class/struct/union/enum (incl. C++11 `enum class Color : int {`) are all
# nominal type declarations; the optional typedef prefix admits the named
# C form `typedef struct Tag { … } Alias;` (mention = Tag).  The `[:{]`
# requirement keeps forward declarations (`struct Point;`) and uses in
# variable declarations (`struct Point p;`) out.
_C_CLASS = re.compile(
    r"^\s*(?:typedef\s+)?"
    r"(?:class|struct|union|enum(?:\s+(?:class|struct))?)\s+(\w+)\s*[:{]",
    re.M,
)
# a typedef'd body (`typedef struct { … } Point;` or `typedef struct
# tag { … } tag_t;`) carries the ALIAS after the closing brace: find the
# matching brace with a linear counter (regexes can't balance), then
# take the `name;` tail.  The anonymous form's alias is its only name;
# the named form yields tag (via _C_CLASS) AND alias — both are usable
# type names a reader inventories.  A body the chunk boundary split is
# skipped — declared envelope, same as every other cross-chunk container.
_C_TYPEDEF = re.compile(
    r"^[ \t]*typedef\s+(?:struct|union|enum)(?:\s+\w+)?\s*\{", re.M
)
_C_TYPEDEF_TAIL = re.compile(r"\s*(\w+)\s*;")
# pointer-to-function typedefs (`typedef int (*cmp_fn)(const void *a,
# const void *b);`) declare a nominal type; the callback-typedef idiom
# is all over real C headers — round-5 wave-5 probe
_C_TYPEDEF_FNPTR = re.compile(
    r"^[ \t]*typedef\s+[^;(\n]*\(\s*\*\s*(\w+)\s*\)\s*\(", re.M
)
# function-LIKE macros (`#define MAX(a, b) …`) are callables a reader
# inventories; the '(' must touch the name (ISO C: a space makes it an
# object-like macro whose body merely starts with a paren)
_C_DEFINE_FN = re.compile(r"^[ \t]*#[ \t]*define[ \t]+(\w+)\(", re.M)
# leading whitespace allowed: inline member-function definitions inside a
# class body ('    void f() { g(); }') are the norm in C++ headers — an
# indent-rejected definition would leak its name (and body calls) into the
# call stream instead.  Control statements still self-exclude: one-keyword
# forms have no second identifier before the paren, two-word forms
# ('else if') are filtered by _C_CTRL, and '='/';'/'(' are outside the
# type-token class so initializers, lambdas and statements cannot span it.
_C_FN = re.compile(
    r"^([ \t]*)[A-Za-z_][\w\s\*&<>,:]*?[\s\*&:](?:(\w+)::)?(\w+)\s*\(([^;{}]*)\)\s*"
    r"(?:const\s*)?\{",
    re.M,
)
# A prototype is the definition shape ending in ';' instead of '{'
# (`void foo(int x);`, indented member declarations inside a class body) —
# NOT a call site, and (unlike a definition) not an owner for following
# calls.  The lookahead drops statement keywords so `return foo(x);` /
# `throw Error(msg);` body lines are still counted as calls; a bare call
# statement (`foo(a);`) never fits because the shape requires type tokens
# and a separator before the name, and `=`/`.`/`->` are outside the
# type-token class so initializers and receiver calls can't span it.
_C_PROTO = re.compile(
    r"^(?!\s*(?:return|else|if|while|for|switch|do|case|goto|throw|new"
    r"|delete)\b)"
    r"\s*[A-Za-z_][\w\s\*&<>,:]*?[\s\*&:](?:\w+::)?\w+\s*\(([^;{}()]*)\)\s*"
    r"(?:const\s*)?;",
    re.M,
)
# Destructors (`~Socket() { … }` inline, `Socket::~Socket() { … }`
# out-of-line, `virtual ~Socket() = default;` / `~Socket();` prototypes)
# have NO return type, so _C_FN/_C_PROTO never match and the header's
# `Socket(` minted a phantom call instead (round-5 wave-6 probe).  The
# mention is `~Socket` owned by the class (qualifier, else nearest
# preceding class) — a destructor is always a member.  Definition vs
# prototype is decided by the terminator the match captured.
_C_DTOR = re.compile(
    r"^[ \t]*(?:virtual\s+)?(?:(\w+)\s*::\s*)?~(\w+)\s*\(\s*(?:void)?\s*\)\s*"
    r"(?:noexcept\s*)?(?:override\s*)?(?:=\s*(?:default|delete|0)\s*)?([{;])",
    re.M,
)
# Constructors have no return type either (round-5 wave-7 probe).  The
# out-of-line form is self-identifying — the qualifier must REPEAT as the
# name (`Socket::Socket(…) {`), which the \1 backref pins, so a qualified
# METHOD (`Socket::read(…)`) can never fit.  The optional `:[^{};]*`
# skips a paren-style member-init list (`: fd_(fd), open_(true)`); a
# C++11 brace-init list (`: fd_{fd}`) ends the span early at its '{' —
# the mention is still right, only the recorded span is short (declared
# envelope).  In-class forms are found per class extent in the branch
# body: the bare shape `Name(args) {` / `Name(args);` is exactly a call
# statement's, so the name must equal the ENCLOSING class's name to
# count — the branch keeps a _C_CTOR_IN hit only when its name group is
# the class's.  _C_CTOR_IN is a lookahead, so it is tried at EVERY line
# start: a call whose argument list runs over several lines cannot hide
# the constructor line after it (the branch skips hits that start inside
# the previous kept one, as a left-to-right non-overlapping scan would).
_C_CTOR_OUT = re.compile(
    r"^[ \t]*(\w+)\s*::\s*\1\s*\(([^;{}]*)\)\s*(?::[^{};]*)?\{", re.M
)
_C_CTOR_IN = re.compile(
    r"^(?=([ \t]+(?:explicit\s+)?(\w+)\s*\(([^;{}]*)\)\s*(?:noexcept\s*)?"
    r"(?:=\s*(?:default|delete)\s*)?(?::[^{};]*)?([{;])))",
    re.M,
)
# Two-word control forms (`else if (...)`) fit the _C_FN shape — single
# keywords self-exclude (no second identifier) but these need a name filter.
_C_CTRL = frozenset({"if", "for", "while", "switch", "return", "do"})
_C_KEYWORDS = frozenset({"sizeof", "defined", "assert", "static_cast",
                         "dynamic_cast", "reinterpret_cast", "const_cast"})

# Decl probe for _calls(); .match anchoring makes alternation order ≡
# sequential-or, lastindex names the captured symbol.  Since round-5
# wave 7 _calls serves ONLY go (python moved to the indent-scope walk in
# _python_mentions, which reuses the same mention regexes for its decl
# probes — owner tracking sees exactly the declarations the mention pass
# does by construction).  The probe admits go 1.18 bracket
# type-parameter lists like the mention twin.
_GO_ANY_DECL = re.compile(
    r"(?:func\s+(?:\([^)]*\)\s*)?(\w+)\s*(?:\[[^\]]*\])?\s*\("
    # anonymous-func declarators (`var h = func(…) {`, `h := func(…) {`)
    # own their body's calls like the JS const-arrow twin (round-5 wave 6)
    r"|[ \t]*(?:var\s+)?(\w+)\s*(?::=|=)\s*func\s*\()"
)
# a column-0 line starting with an identifier or decorator is a new
# module/package-level statement: any def body above it has ended, so
# the call-stream owner resets to '' (round-5 wave 6 — module-level
# code after a function was attributed to that function).  Closers
# (')', ']', '}') and comments don't reset: a black-style `):` that
# ends a def signature at column 0 is still inside the declaration.
_TOPLEVEL_STMT = re.compile(r"[A-Za-z_@]")

# --- config-file grammars (json / yaml / toml) and shell -------------------
# Structure → entities for the config formats real trees are full of:
# sections / top-level keys are 'class' mentions and their immediate child
# keys are 'method' mentions owned by the section, so the existing
# defines / has_method triple derivation gives file → section → setting
# containment — the structured-document analog of the reference's
# schema-derived has_<child> relations.  Same chunk-boundary caveat as
# every grammar here: a continuation chunk starts with no structural
# context, so nested keys can surface as top-level in a later chunk.
# Regex/scanner-based on purpose (NOT json.loads/tomllib): a 1024-byte
# chunk is rarely a complete parseable document, and the per-chunk
# extraction must degrade per chunk, never fail a page.
# \Z, not $: $ also matches before a trailing newline, so a hostile chunk
# key like 'name\n' passed the join-safe check and emitted an entity id
# with an embedded newline (ADVICE r04)
_CONFIG_KEY_OK = re.compile(r"[\w.-]+\Z", re.ASCII)
# a yaml key line: optional indent, bare-word key, ':' followed by
# whitespace or EOL ('url: http://x' matches once — the '//' colon fails
# the lookahead and isn't line-anchored).  The optional '- ' prefix admits
# sequence-of-mapping keys ('- name: foo' — the CI/k8s list-item shape,
# ADVICE r04); the dash contributes to the captured indent so a list item
# under a section stays owned by that section.
_YAML_KEY = re.compile(
    r"^([ \t]*(?:-[ \t]+)?)([\w.-]+)[ \t]*:(?=[ \t]|$)", re.M | re.ASCII
)
_TOML_SECTION = re.compile(r"^[ \t]*\[\[?[ \t]*([\w.-]+)[ \t]*\]\]?", re.M | re.ASCII)
_TOML_KEY = re.compile(r"^[ \t]*([\w.-]+)[ \t]*=", re.M | re.ASCII)
# shell function definitions: `name() {`, `function name {`,
# `function name() {` — the body brace on the def line (dominant style;
# next-line braces lose the def, declared).  `arr=()` and `$(...)` cannot
# match: the name must start the line and the parens must be empty.
_SH_FUNC = re.compile(
    r"^[ \t]*(?:function[ \t]+(\w+)[ \t]*(?:\(\))?|(\w+)[ \t]*\(\))[ \t]*\{",
    re.M | re.ASCII,
)
_SH_SOURCE = re.compile(r"^[ \t]*(?:source|\.)[ \t]+['\"]?([\w./-]+)", re.M)

# --- Dockerfile / Makefile structure grammars (round-5 wave 9) --------------
#
# Real repositories are full of extension-less build files the
# extension-keyed router silently skipped; the reference's extraction
# reads EVERY file it is given (parsers/pdf_parser.py:587-599), so
# Dockerfile and Makefile get small structure grammars of their own,
# routed by lowercased basename (sources/files.py).
#
# Dockerfile ontology: base image → import (join-safe stem: last path
# segment before any ':tag'/'@digest'), `FROM … AS stage` → the stage is
# a 'class'; ARG/ENV names → 'method' owned by the current stage
# ('function' before the first FROM — global ARGs).  Instructions are
# case-insensitive per spec; `#` comment lines cannot match (anchors
# require the instruction word first); `--platform=…`-style flags before
# the image are skipped.  RUN bodies are shell and are never parsed — no
# call stream, like the shell grammar.
_DOCKER_FROM = re.compile(
    r"^[ \t]*FROM[ \t]+(?:--\S+[ \t]+)*(\S+)(?:[ \t]+AS[ \t]+([\w.-]+))?",
    re.M | re.I | re.ASCII,
)
_DOCKER_ARGENV = re.compile(
    r"^[ \t]*(ARG|ENV)[ \t]+([A-Za-z_]\w*)", re.M | re.I | re.ASCII
)


def _docker_mentions(text: str) -> List[Dict[str, str]]:
    rows: List[Tuple[int, Dict[str, str]]] = []
    stages: List[Tuple[int, str]] = []  # (pos, stage-name or '')
    for m in _DOCKER_FROM.finditer(text):
        image = m.group(1).split("@", 1)[0].split(":", 1)[0]
        stem = image.rsplit("/", 1)[-1]
        # scratch is the reserved empty base, not a dependency
        if stem and _CONFIG_KEY_OK.match(stem) and stem.lower() != "scratch":
            rows.append((m.start(), {"kind": "import", "name": stem, "owner": ""}))
        stage = m.group(2) or ""
        if stage:
            rows.append((m.start(), {"kind": "class", "name": stage, "owner": ""}))
        stages.append((m.start(), stage))
    for m in _DOCKER_ARGENV.finditer(text):
        rows.append((m.start(), _member(m.group(2), _preceding(stages, m.start()))))
    return _by_start(rows)


# Makefile ontology: `include x.mk` → import (stem), col-0 variable
# assignments (`VAR = / := / ?= / +=`) and `define NAME` macro blocks →
# 'class', col-0 rule targets → 'function'.  Recipe lines start with a
# TAB and continuation lines with whitespace, so neither can match the
# col-0 anchors; dot-special targets (.PHONY) are excluded by the
# leading-alpha requirement; `%.o` pattern rules and multi-target lines
# fail the single-name shape — a declared envelope, like shell calls.
# define/endef bodies are make-or-shell text and are skipped wholesale.
_MAKE_INCLUDE = re.compile(r"^-?include[ \t]+(\S+)", re.M | re.ASCII)
_MAKE_VAR = re.compile(
    r"^(?:(?:export|override)[ \t]+)?([A-Za-z_][\w.-]*)[ \t]*(?:[:+?]|::)?=",
    re.M | re.ASCII,
)
_MAKE_TARGET = re.compile(
    # lookahead excludes ':' too so `E ::= 5` can't backtrack into a
    # single-colon "target" match
    r"^([A-Za-z_][\w.-]*)[ \t]*::?(?![=:])", re.M | re.ASCII
)
_MAKE_DEFINE = re.compile(r"^define[ \t]+([\w.-]+)", re.M | re.ASCII)
_MAKE_ENDEF = re.compile(r"^endef[ \t]*\r?$", re.M | re.ASCII)


def _make_mentions(text: str) -> List[Dict[str, str]]:
    # blank define..endef bodies first (offset-preserving, like the
    # block mask) so a body line shaped like `target:` stays data
    spans = []
    i = 0
    while True:
        m = _MAKE_DEFINE.search(text, i)
        if m is None:
            break
        e = _MAKE_ENDEF.search(text, m.end())
        end = len(text) if e is None else e.start()
        spans.append((m.end(), end))
        i = end + 1
    masked = _blank(text, spans)
    rows: List[Tuple[int, Dict[str, str]]] = []
    for m in _MAKE_INCLUDE.finditer(masked):
        stem = m.group(1).rsplit("/", 1)[-1].split(".", 1)[0]
        if stem and _CONFIG_KEY_OK.match(stem):
            rows.append((m.start(), {"kind": "import", "name": stem, "owner": ""}))
    for m in _MAKE_DEFINE.finditer(masked):
        rows.append((m.start(), {"kind": "class", "name": m.group(1), "owner": ""}))
    for m in _MAKE_VAR.finditer(masked):
        if m.group(1) in ("include", "define", "endef"):
            continue
        rows.append((m.start(), {"kind": "class", "name": m.group(1), "owner": ""}))
    for m in _MAKE_TARGET.finditer(masked):
        name = m.group(1)
        if name in ("include", "define", "endef", "else", "endif", "ifdef",
                    "ifndef", "ifeq", "ifneq", "export", "unexport",
                    "override", "vpath"):
            continue
        rows.append((m.start(), {"kind": "function", "name": name, "owner": ""}))
    return _by_start(rows)


def _json_mentions(text: str) -> List[Dict[str, str]]:
    """Brace-depth scanner for JSON chunks (works on minified and
    pretty-printed alike): keys at depth ≤1 (the root object) are
    'class' mentions, keys at depth 2 are 'method' mentions owned by the
    most recent top-level key.  Deeper keys and non-word keys (spaces,
    unicode punctuation) are skipped — entity ids must stay join-safe.
    O(n) per chunk; strings are skipped with escape handling so braces in
    values never corrupt the depth."""
    out: List[Dict[str, str]] = []
    depth = 0
    owner = ""
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == '"':
            j = i + 1
            while j < n and text[j] != '"':
                j += 2 if text[j] == "\\" else 1
            key = text[i + 1 : j]
            k = j + 1
            while k < n and text[k] in " \t\r\n":
                k += 1
            if k < n and text[k] == ":" and _CONFIG_KEY_OK.match(key):
                if depth <= 1:
                    out.append({"kind": "class", "name": key, "owner": ""})
                    owner = key
                elif depth == 2:
                    if owner:
                        out.append({"kind": "method", "name": key, "owner": owner})
                    else:
                        # root-array documents ([{"k":1},…]) put every key at
                        # depth 2 with no top-level owner: standalone entity,
                        # matching the YAML continuation-chunk fallback
                        # (ADVICE r04 — these docs yielded no mentions at all)
                        out.append({"kind": "function", "name": key, "owner": ""})
            i = j + 1
            continue
        if c in "{[":
            depth += 1
        elif c in "}]":
            depth = max(0, depth - 1)
        i += 1
    return out


# Natural-language gazetteer for prose corpora (the driver's ``documents``
# table): fixed analytics-term vocabulary; a 'term' mention per occurrence.
TEXT_TERMS = (
    "join", "scan", "hash", "sort", "merge", "filter", "group", "window",
    "agg", "batch", "stream", "query",
)
# re.ASCII pins \b to [A-Za-z0-9_] boundaries — the semantics RE2 (the
# DuckDB oracles) always has and the token-split JVM form reproduces;
# Python's default Unicode \b would diverge on non-ASCII-adjacent text
_TEXT_TERM_RE = re.compile(r"\b(" + "|".join(TEXT_TERMS) + r")\b", re.ASCII)


def _python_mentions(text: str) -> List[Dict[str, str]]:
    """Python declarations + calls in ONE indent-scope line walk.

    Round-5 wave 7: the old two-pass form ("nearest preceding class" for
    method owners, flat last-decl tracking for call owners) had no notion
    of scope EXTENT, so (a) a def nested inside a function was owned by
    an earlier class, (b) a class-body statement's calls were owned by
    the previous module-level def, and (c) `return inner(3)` in an outer
    function was owned by the just-closed `inner`.  Indentation IS
    python's extent syntax, so one stack of open scopes
    ``(indent, name, is_class)`` fixes all three: a statement line at
    indent ``i`` closes every scope with indent >= ``i`` (the java
    wave-6 brace-extent fix, translated to indent), a def's owner is the
    top of the stack (method iff that scope is a class — a def nested in
    a def is a closure, not a method), and a call's owner is the nearest
    enclosing DEF scope.  Closer-only lines (`):` ending a black-style
    signature) and comments don't pop — the _TOPLEVEL_STMT rule.
    Deterministic under chunking because the oracle chunks the same way;
    a continuation chunk opens with an empty stack, so its indented
    members take the same ownerless fallbacks as before.
    """
    decls: List[Tuple[int, Dict[str, str]]] = []
    for m in _PY_IMPORT.finditer(text):
        decls.append((m.start(), {"kind": "import", "name": m.group(1), "owner": ""}))
    for m in _PY_FROM.finditer(text):
        decls.append((m.start(), {"kind": "import", "name": m.group(1), "owner": ""}))
    # scope decls keyed by line-start offset (every pattern is ^-anchored,
    # so m.start() IS the line start); def wins over lambda on a tie
    scope_at: Dict[int, Tuple[str, str]] = {}
    for m in _PY_CLASS.finditer(text):
        scope_at[m.start()] = ("class", m.group(2))
    for m in _PY_DEF.finditer(text):
        scope_at.setdefault(m.start(), ("def", m.group(2)))
    for m in _PY_LAMBDA.finditer(text):
        scope_at.setdefault(m.start(), ("def", m.group(2)))
    calls: List[Dict[str, str]] = []
    stack: List[Tuple[int, str, bool]] = []  # (indent, name, is_class)
    pos = 0
    for line in text.split("\n"):
        start = pos
        pos += len(line) + 1
        stripped = line.lstrip(" \t")
        if not stripped or _COMMENT_LINE.match(line):
            continue
        indent = len(line) - len(stripped)
        sc = scope_at.get(start)
        if sc is not None:
            skind, name = sc
            while stack and stack[-1][0] >= indent:
                stack.pop()
            if skind == "class":
                decls.append(
                    (start, {"kind": "class", "name": name, "owner": ""})
                )
            else:
                owner = stack[-1][1] if stack and stack[-1][2] else ""
                decls.append((start, _member(name, owner)))
            stack.append((indent, name, skind == "class"))
            # decl lines yield no calls (default-arg / same-line-lambda
            # calls skipped — the pre-wave-7 policy, unchanged)
            continue
        if _TOPLEVEL_STMT.match(stripped):
            while stack and stack[-1][0] >= indent:
                stack.pop()
        if "(" not in line or _DECL_LINE.match(line):
            continue
        owner = ""
        for _ind, sname, is_cls in reversed(stack):
            if not is_cls:
                owner = sname
                break
        for m in _line_calls(line):
            name = m.group(1)
            if name in _KEYWORDS:
                continue
            calls.append({"kind": "call", "name": name, "owner": owner})
    return _by_start(decls) + calls


def extract_mentions(
    lang: str,
    text: str,
    allowed_kinds: "frozenset | set | None" = None,
    allowed_terms: "frozenset | set | None" = None,
) -> List[Dict[str, str]]:
    """Extract mention rows from one chunk.

    Each mention: ``{"kind": function|class|method|import|call|term,
    "name": symbol, "owner": enclosing class/function or ''}``.
    Deterministic order: document order of the match start.  Config
    formats (json/yaml/toml) and shell reuse the class/method/function/
    import kinds (sections → class, child keys → method) so the downstream
    defines/has_method derivation needs no new cases.  Markdown (and any
    unknown lang) yields no mentions — the no-match path.

    P8 — ``allowed_kinds`` / ``allowed_terms`` are the deterministic
    stand-in for the reference's ``user_prompt_for_filter``
    (pdf_parser.py:399-401, 668-669: a user instruction narrowing what the
    extraction prompt may return).  ``allowed_kinds`` keeps only mentions
    of the listed kinds; ``allowed_terms`` restricts the prose gazetteer to
    the listed term names.  Filtering happens AT extraction, like the
    reference's prompt — payloads, schemas, entities and triples downstream
    all reflect the restricted extraction.
    """
    if lang in _MASKED_LANGS:
        # blank multi-line comment / docstring bodies first (offsets and
        # line structure preserved) — commented-out code and doctest
        # examples must not mint declarations or calls
        text = _mask_block_spans(text, lang)
    out: List[Dict[str, str]] = []
    if lang == "python":
        # single indent-scope walk — declarations AND calls (wave 7):
        # python's extent syntax is indentation, so the owner stack lives
        # in one line pass instead of the nearest-preceding-class lookup
        out.extend(_python_mentions(text))
    elif lang == "javascript":
        decls = []
        for m in _JS_IMPORT.finditer(text):
            name = _js_module_name(m.group(m.lastindex))
            if name:
                decls.append((m.start(), {"kind": "import", "name": name, "owner": ""}))
        for pat in (_JS_FUNC, _JS_ARROW, _JS_FUNC_EXPR, _JS_EXPORTS_ASSIGN):
            for m in pat.finditer(text):
                decls.append(
                    (m.start(), {"kind": "function", "name": m.group(1), "owner": ""})
                )
        class_extents = _extents(_JS_CLASS, text)
        for start, name, _e in class_extents:
            decls.append((start, {"kind": "class", "name": name, "owner": ""}))
        for m in _TS_NOMINAL.finditer(text):
            decls.append(
                (m.start(), {"kind": "class", "name": m.group(m.lastindex), "owner": ""})
            )
        for pat in (_JS_METHOD, _JS_FIELD_ARROW, _JS_ABSTRACT_PROTO):
            for m in pat.finditer(text):
                name = m.group(2)
                if name in _JS_METHOD_SKIP:
                    continue
                owner = _enclosing(class_extents, m.start())
                decls.append((m.start(), _member(name, owner)))
        out.extend(_by_start(decls))
        out.extend(
            _calls_tracked(text, _JS_DECL_UPDATE, _JS_DECL_SKIP,
                           _KEYWORDS | _JS_KEYWORDS,
                           comment=_COMMENT_LINE_JS)
        )
    elif lang == "go":
        for m in _GO_IMPORT.finditer(text):
            out.append({"kind": "import", "name": m.group(1), "owner": ""})
        for mb in _GO_IMPORT_OPEN.finditer(text):
            close = text.find(")", mb.end())
            block = text[mb.end(): close if close != -1 else len(text)]
            for ml in _GO_IMPORT_ENTRY.finditer(block):
                out.append({"kind": "import", "name": ml.group(1), "owner": ""})
        for m in _GO_FUNC.finditer(text):
            out.append(_member(m.group(2), m.group(1) or ""))
        for m in _GO_TYPE.finditer(text):
            out.append({"kind": "class", "name": m.group(1), "owner": ""})
        # interface bodies: method-set prototypes become method mentions
        # owned by the interface, and the body span is excluded from the
        # call stream (the lines are call-shaped — wave 6)
        iface_spans: List[Tuple[int, int]] = []
        for m in _GO_IFACE.finditer(text):
            end = _brace_span(text, m.end() - 1)
            iface_spans.append((m.end(), end))
            for ml in _GO_IFACE_METHOD.finditer(text, m.end(), end):
                out.append(
                    {"kind": "method", "name": ml.group(1), "owner": m.group(1)}
                )
        for m in _GO_ANON_FUNC.finditer(text):
            out.append({"kind": "function", "name": m.group(1), "owner": ""})
        for mb in _GO_TYPE_OPEN.finditer(text):
            closem = _GO_PAREN_CLOSE.search(text, mb.end())
            block = text[mb.end(): closem.start() if closem else len(text)]
            # only depth-0 lines are entries — a struct FIELD line inside
            # the block (`\t\tX int`) fits the entry shape but is not a
            # type declaration (brace counting is line-based; braces in
            # string literals are the shared envelope)
            depth = 0
            for line in block.split("\n"):
                if depth == 0:
                    ml = _GO_TYPE_ENTRY.match(line)
                    if ml:
                        out.append(
                            {"kind": "class", "name": ml.group(1), "owner": ""}
                        )
                depth = max(0, depth + line.count("{") - line.count("}"))
        out.extend(_calls(text, _GO_ANY_DECL, iface_spans))
    elif lang == "java":
        for m in _JAVA_IMPORT.finditer(text):
            out.append({"kind": "import", "name": m.group(1), "owner": ""})
        class_extents = _extents(_JAVA_CLASS, text)
        for _, cname, _e in class_extents:
            out.append({"kind": "class", "name": cname, "owner": ""})
        for pat in (_JAVA_METHOD, _JAVA_PROTO, _JAVA_FIELD_LAMBDA):
            for m in pat.finditer(text):
                owner = _enclosing(class_extents, m.start())
                out.append(_member(m.group(1), owner))
        out.extend(
            _calls_tracked(text, _JAVA_DECL_UPDATE, _JAVA_DECL_SKIP, _KEYWORDS)
        )
    elif lang == "rust":
        decls = []
        for m in _RUST_USE.finditer(text):
            decls.append((m.start(), {"kind": "import", "name": m.group(1), "owner": ""}))
        for m in _RUST_TYPE.finditer(text):
            decls.append((m.start(), {"kind": "class", "name": m.group(1), "owner": ""}))
        for m in _RUST_MACRO.finditer(text):
            decls.append(
                (m.start(), {"kind": "function", "name": m.group(1), "owner": ""})
            )
        for m in _RUST_MOD.finditer(text):
            decls.append(
                (m.start(), {"kind": "class", "name": m.group(1), "owner": ""})
            )
        impl_spans = sorted(
            [(m.start(), m.group(1)) for m in _RUST_IMPL.finditer(text)]
            + [(m.start(), m.group(1)) for m in _RUST_TRAIT_OWNER.finditer(text)]
        )
        for m in _RUST_FN.finditer(text):
            owner = _preceding(impl_spans, m.start()) if m.group(1) else ""
            decls.append((m.start(), _member(m.group(2), owner)))
        out.extend(_by_start(decls))
        enum_spans = [
            (m.end(), _brace_span(text, m.end() - 1))
            for m in _RUST_ENUM_OPEN.finditer(text)
        ]
        out.extend(
            _calls_tracked(text, _RUST_DECL_UPDATE, _RUST_DECL_SKIP,
                           _KEYWORDS | _RUST_KEYWORDS, enum_spans)
        )
    elif lang == "ruby":
        decls = []
        for m in _RB_REQUIRE.finditer(text):
            decls.append((m.start(), {"kind": "import", "name": m.group(1), "owner": ""}))
        class_spans = sorted((m.start(), m.group(1)) for m in _RB_CLASS.finditer(text))
        for start, name in class_spans:
            decls.append((start, {"kind": "class", "name": name, "owner": ""}))
        for m in _RB_DEF.finditer(text):
            owner = _preceding(class_spans, m.start()) if m.group(1) else ""
            decls.append((m.start(), _member(m.group(2), owner)))
        out.extend(_by_start(decls))
        out.extend(
            _calls_tracked(text, _RB_DECL_UPDATE, _RB_DECL_SKIP,
                           _KEYWORDS | _RB_KEYWORDS)
        )
    elif lang == "c":
        decls = []
        for m in _C_INCLUDE.finditer(text):
            stem = m.group(1).rsplit("/", 1)[-1].split(".", 1)[0]
            decls.append((m.start(), {"kind": "import", "name": stem, "owner": ""}))
        class_extents = _extents(_C_CLASS, text)
        for start, name, _e in class_extents:
            decls.append((start, {"kind": "class", "name": name, "owner": ""}))
        for m in _C_TYPEDEF_FNPTR.finditer(text):
            decls.append(
                (m.start(), {"kind": "class", "name": m.group(1), "owner": ""})
            )
        for m in _C_DEFINE_FN.finditer(text):
            decls.append(
                (m.start(),
                 {"kind": "function", "name": m.group(1), "owner": ""})
            )
        for m in _C_TYPEDEF.finditer(text):
            # a body the chunk boundary truncated ends at len(text): no tail
            tail = _C_TYPEDEF_TAIL.match(text, _brace_span(text, m.end() - 1))
            if tail:
                decls.append(
                    (m.start(),
                     {"kind": "class", "name": tail.group(1), "owner": ""})
                )
        fn_spans = []
        proto_spans = []
        # constructors first (wave 7) — no return type, so _C_FN/_C_PROTO
        # can't see them and the header minted a phantom call (`Socket(`)
        # or, out-of-line, an ownerless 'function'.  In-class forms are
        # anchored on the ENCLOSING class's name (extent-scoped — the
        # bare `Name(args)` shape is call-identical otherwise); a
        # `Name(tmp);` temporary-object STATEMENT inside a member body
        # fits the proto form and is silenced too — accepted envelope,
        # it is not a call a KG wants either.  `= default/delete` and
        # plain prototypes are span-silenced, mention-free (_C_PROTO
        # policy); definitions become methods owned by the class.
        ctor_spans = []
        for m in _C_CTOR_OUT.finditer(text):
            cname = m.group(1)
            decls.append(
                (m.start(), {"kind": "method", "name": cname, "owner": cname})
            )
            fn_spans.append((m.start(), m.end(), cname))
            ctor_spans.append((m.start(), m.end()))
        for cstart, cname, cend in class_extents:
            kept_end = cstart
            for m in _C_CTOR_IN.finditer(text, cstart, cend):
                if m.group(2) != cname or m.start() < kept_end:
                    continue
                kept_end = m.end(1)
                ctor_spans.append((m.start(), kept_end))
                if m.group(4) == "{":
                    decls.append(
                        (m.start(),
                         {"kind": "method", "name": cname, "owner": cname})
                    )
                    fn_spans.append((m.start(), kept_end, cname))
                else:
                    proto_spans.append((m.start(), kept_end))
        for m in _C_FN.finditer(text):
            qual, name = m.group(2), m.group(3)
            if name in _C_CTRL:  # `else if (...) {` fits the def shape
                continue
            # a ctor rule above already owns this span (the multi-line
            # type run lets _C_FN re-match an inline ctor whose preceding
            # line supplies token text — e.g. an access specifier)
            if _in_spans(ctor_spans, m.start(3)):
                continue
            owner = qual or ""
            # member-ness = indent of the NAME's own line, not the match
            # start: the multi-line type span may begin at a column-0
            # line (`public:` access specifier, `template <…>` header)
            # even when the member line itself is indented — the match-
            # start indent group handed every member after an access
            # specifier owner '' (found by the round-5 C++ probe batch)
            ls = text.rfind("\n", 0, m.start(3)) + 1
            if not owner and text[ls] in " \t":
                # inline member definition: the class enclosing the NAME
                owner = _enclosing(class_extents, m.start(3))
            decls.append((m.start(), _member(name, owner)))
            fn_spans.append((m.start(), m.end(), name))
        proto_spans.extend(
            (m.start(), m.end()) for m in _C_PROTO.finditer(text)
        )
        for m in _C_DTOR.finditer(text):
            if m.group(3) != "{":
                # ';'-terminated (prototype / `= default;`): silence the
                # phantom call but emit no mention — same policy as _C_PROTO
                proto_spans.append((m.start(), m.end()))
                continue
            owner = m.group(1) or _enclosing(class_extents, m.start())
            decls.append((m.start(), _member("~" + m.group(2), owner)))
            fn_spans.append((m.start(), m.end(), "~" + m.group(2)))
        # owner attribution in _calls_c walks fn_spans in order and
        # assumes ascending starts — destructor spans were appended last
        fn_spans.sort()
        out.extend(_by_start(decls))
        out.extend(_calls_c(text, fn_spans, proto_spans))
    elif lang == "json":
        out.extend(_json_mentions(text))
    elif lang == "yaml":
        owner = ""
        for m in _YAML_KEY.finditer(text):
            indent, name = m.group(1), m.group(2)
            if not indent:
                out.append({"kind": "class", "name": name, "owner": ""})
                owner = name
            elif owner:
                out.append({"kind": "method", "name": name, "owner": owner})
            else:
                # indented key in a continuation chunk (its section landed
                # in an earlier chunk): standalone entity, like the
                # ownerless-method fallback in the code grammars
                out.append({"kind": "function", "name": name, "owner": ""})
    elif lang == "toml":
        decls = []
        section_spans = sorted(
            (m.start(), m.group(1)) for m in _TOML_SECTION.finditer(text)
        )
        for start, name in section_spans:
            decls.append((start, {"kind": "class", "name": name, "owner": ""}))
        for m in _TOML_KEY.finditer(text):
            section = _preceding(section_spans, m.start())
            if section:
                decls.append(
                    (m.start(), {"kind": "method", "name": m.group(1),
                                 "owner": section})
                )
            else:
                # top-level key before any [section]
                decls.append(
                    (m.start(), {"kind": "class", "name": m.group(1), "owner": ""})
                )
        out.extend(_by_start(decls))
    elif lang == "shell":
        decls = []
        for m in _SH_SOURCE.finditer(text):
            stem = m.group(1).rsplit("/", 1)[-1].split(".", 1)[0]
            if stem:  # '.env' has an empty stem — not an importable name
                decls.append(
                    (m.start(), {"kind": "import", "name": stem, "owner": ""})
                )
        for m in _SH_FUNC.finditer(text):
            decls.append(
                (m.start(), {"kind": "function",
                             "name": m.group(1) or m.group(2), "owner": ""})
            )
        out.extend(_by_start(decls))
        # no call extraction: in shell every bare word is a command
        # invocation and $(...)/test(...) shapes defeat the _CALL heuristic
        # — a declared gap, not a silent one
    elif lang == "docker":
        out.extend(_docker_mentions(text))
    elif lang == "make":
        out.extend(_make_mentions(text))
    elif lang == "text":
        for m in _TEXT_TERM_RE.finditer(text):
            out.append({"kind": "term", "name": m.group(1), "owner": ""})
    if allowed_kinds is not None:
        out = [m for m in out if m["kind"] in allowed_kinds]
    if allowed_terms is not None:
        out = [m for m in out if m["kind"] != "term" or m["name"] in allowed_terms]
    return out


def _calls(
    text: str,
    decl_probe: "re.Pattern",
    skip_spans: "List[Tuple[int, int]]" = (),
) -> List[Dict[str, str]]:
    """Call-site mentions with enclosing-function attribution (go).

    A call on a non-declaration line is attributed to the most recent
    function declaration above it in the same chunk ('' = package
    level).  A column-0 statement line RESETS the owner to package scope:
    go closes a body with a column-0 '}' before the next top-level
    statement, so `var X = compute()` after a func belongs to the
    package, not to the last-seen func (round-5 wave 6).  Python used
    this pass too until wave 7 moved it to the indent-scope walk in
    _python_mentions (go is brace-scoped — indent semantics don't
    transfer, so the flat tracker stays here).  Lines whose
    start falls inside a ``skip_spans`` range (go interface bodies — their
    method-set prototypes are shape-identical to calls) yield nothing.
    Deterministic under chunking because the oracle chunks the same way.
    """
    calls: List[Dict[str, str]] = []
    current = ""
    pos = 0
    for line in text.split("\n"):
        start = pos
        pos += len(line) + 1
        if skip_spans and _in_spans(skip_spans, start):
            continue
        if _COMMENT_LINE.match(line):
            continue
        # every decl probe and _CALL require a '(' — a paren-free line can
        # neither update `current` nor yield calls, but a paren-free
        # top-level statement (`X = 5`) still ends the previous body
        if "(" not in line:
            if current and _TOPLEVEL_STMT.match(line):
                current = ""
            continue
        dm = decl_probe.match(line)
        if dm:
            current = dm.group(dm.lastindex)
            continue
        if current and _TOPLEVEL_STMT.match(line):
            current = ""
        if _DECL_LINE.match(line):
            continue
        for m in _line_calls(line):
            name = m.group(1)
            if name in _KEYWORDS:
                continue
            calls.append({"kind": "call", "name": name, "owner": current})
    return calls


def _calls_tracked(
    text: str,
    decl_update: "re.Pattern",
    decl_skip: "re.Pattern",
    keywords: "frozenset",
    skip_spans: "List[Tuple[int, int]]" = (),
    comment: "re.Pattern" = _COMMENT_LINE,
) -> List[Dict[str, str]]:
    """Line-based call extraction with per-language decl handling — the
    shared ``_calls`` generalized for grammars whose declarations don't fit
    its decl probes.  ``decl_update`` runs BEFORE the paren gate (a ruby
    ``def foo`` without parens must still become the current owner);
    ``decl_skip`` lines never yield calls; lines starting inside a
    ``skip_spans`` range (rust enum bodies — tuple variants are
    call-shaped) yield nothing.  ``comment`` is the line-comment probe —
    JS passes its own because '#' opens a private member there, not a
    comment."""
    calls: List[Dict[str, str]] = []
    current = ""
    pos = 0
    for line in text.split("\n"):
        start = pos
        pos += len(line) + 1
        if skip_spans and _in_spans(skip_spans, start):
            continue
        if comment.match(line):
            continue
        dm = decl_update.match(line)
        if dm:
            current = dm.group(dm.lastindex)
            continue
        if "(" not in line:
            continue
        if decl_skip.match(line):
            continue
        for m in _line_calls(line):
            name = m.group(1)
            if name in keywords:
                continue
            calls.append({"kind": "call", "name": name, "owner": current})
    return calls


def _brace_span(text: str, open_idx: int) -> int:
    """Index just past the '}' matching the '{' at ``open_idx``;
    ``len(text)`` when the chunk boundary truncates the body (the shared
    cross-chunk-container envelope).  Block comments are already masked
    by the time container scans run, so only string-literal braces can
    fool the counter — the same envelope every line-based pass has."""
    depth = 0
    for i in range(open_idx, len(text)):
        c = text[i]
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return i + 1
    return len(text)


# --- scope rules: one home per rule the grammars share ----------------------


def _blank(text: str, spans: "List[Tuple[int, int]]") -> str:
    """``text`` with every ascending, disjoint ``[s, e)`` span blanked to
    spaces, newlines kept: offsets and line structure survive, so later
    passes see the same positions.  ``text`` itself when nothing is
    blanked (chunk_text_masked tests that identity)."""
    if not spans:
        return text
    out, last = [], 0
    for s, e in spans:
        out.append(text[last:s])
        out.append("".join("\n" if ch == "\n" else " " for ch in text[s:e]))
        last = e
    out.append(text[last:])
    return "".join(out)


def _by_start(decls: "List[Tuple[int, Dict[str, str]]]") -> List[Dict[str, str]]:
    """The mentions of ``(start, mention)`` pairs in document order; the
    sort is stable, so mentions at one offset keep their emission order."""
    return [d for _, d in sorted(decls, key=lambda t: t[0])]


def _extents(pattern: "re.Pattern", text: str) -> "List[Tuple[int, str, int]]":
    """Sorted ``(start, name, end)`` brace extents of ``pattern``'s
    containers (name = group 1); the body opens at the first '{' at or
    after the match's last character (`class A {`, C's `struct S : B {`).
    A body the chunk boundary truncates runs to chunk end (the shared
    cross-chunk-container envelope)."""
    out = []
    for m in pattern.finditer(text):
        brace = text.find("{", m.end() - 1)
        end = _brace_span(text, brace) if brace != -1 else len(text)
        out.append((m.start(), m.group(1), end))
    out.sort()
    return out


def _enclosing(extents: "List[Tuple[int, str, int]]", pos: int) -> str:
    """Name of the innermost extent that strictly encloses ``pos``, else
    ''.  Extent-aware, not "nearest preceding class", which handed every
    member after a class's closing brace to that stale class: java's
    `class Outer { class Inner {…} void b() {} }` gave b to Inner, and
    object-literal methods after a JS class or anonymous-namespace
    helpers after a C++ struct became its methods."""
    owner = ""
    for start, name, end in extents:
        if start >= pos:
            break
        if pos < end:
            owner = name
    return owner


def _preceding(spans: "List[tuple]", pos: int) -> str:
    """Last field (the container name) of the last start-sorted span that
    starts before ``pos``, else '' — the owner rule of containers with no
    parsed extent: rust impl/trait and ruby class headers, toml sections,
    docker stages, C definitions for the calls after them."""
    owner = ""
    for span in spans:
        if span[0] >= pos:
            break
        owner = span[-1]
    return owner


def _in_spans(spans: "List[Tuple[int, int]]", pos: int) -> bool:
    """Whether ``pos`` falls inside any ``[s, e)`` span."""
    return any(s <= pos < e for s, e in spans)


def _member(name: str, owner: str) -> Dict[str, str]:
    """A callable declaration: a method of ``owner``, or a function when
    it has none (its class lies in an earlier chunk, it sits in an object
    literal or at module level).  A kind='method' row with owner '' would
    emit a has_method triple from the dangling node '<repo>/<path>::'."""
    return {"kind": "method" if owner else "function", "name": name, "owner": owner}


def _calls_c(
    text: str,
    fn_spans: "List[Tuple[int, int, str]]",
    proto_spans: "List[Tuple[int, int]]",
) -> List[Dict[str, str]]:
    """Span-based call extraction for C/C++: a definition's signature may
    span lines (brace-on-next-line convention), so line-based owner
    tracking misses it.  Calls inside a signature span are the definition
    itself, and calls inside a prototype span (`void foo(int);` — every
    header line) are declarations — neither is a call site; an outside
    call is attributed to the nearest definition starting above it in the
    chunk ('' = file scope).  Comment-start lines and single-line string
    literals are excluded like the line-based extractors
    (`// pool_free(p) cleanup` and `puts("use free(p)")` are not calls)."""
    skip_spans = [(s, e) for s, e, _ in fn_spans] + proto_spans
    pos = 0
    for line in text.split("\n"):
        if _COMMENT_LINE.match(line):
            skip_spans.append((pos, pos + len(line)))
        elif '"' in line or "'" in line:
            skip_spans.extend(
                (pos + m.start(), pos + m.end())
                for m in _STRING_SPAN.finditer(line)
            )
        pos += len(line) + 1
    calls: List[Dict[str, str]] = []
    for m in _CALL.finditer(text):
        pos = m.start()
        if _in_spans(skip_spans, pos):
            continue
        name = m.group(1)
        if name in _KEYWORDS or name in _C_KEYWORDS:
            continue
        calls.append(
            {"kind": "call", "name": name, "owner": _preceding(fn_spans, pos)}
        )
    return calls


# ---------------------------------------------------------------------------
# Per-chunk payload (the "page JSON answer" analog) + schema digest
# ---------------------------------------------------------------------------


def chunk_payload(mentions: Iterable[Dict[str, str]]) -> Dict[str, Any]:
    """Build the per-chunk extraction dict that the A2 fold consumes.

    Declared symbols contribute ``{kind, owner?}``; call sites contribute
    ``{"kind": "NA", "called_by": [...]}`` for the callee and accumulate
    ``calls`` on the caller.  Built with the A1 merge in mention order, so a
    chunk's payload has the same first-non-NA-wins semantics as a page.
    (Uses the owned-input A1 fast path: every delta is freshly constructed
    here and discarded — values identical to merge_dicts_preferring_non_na,
    property-tested.)
    """
    payload: Dict[str, Any] = {}
    for m in mentions:
        if m["kind"] == "call":
            callee, caller = m["name"], m["owner"]
            delta: Dict[str, Any] = {callee: {"kind": "NA", "called_by": [caller or "__module__"]}}
            if caller == callee:
                # self-recursive call: caller and callee are ONE delta key —
                # a second dict entry would overwrite the called_by above
                delta[callee]["calls"] = [callee]
            elif caller:
                delta[caller] = {"kind": "NA", "calls": [callee]}
            merge_into_owned(payload, delta)
        elif m["kind"] == "import":
            merge_into_owned(payload, {m["name"]: {"kind": "import"}})
        else:
            entry: Dict[str, Any] = {"kind": m["kind"]}
            if m["owner"]:
                entry["owner"] = m["owner"]
            merge_into_owned(payload, {m["name"]: entry})
    return payload


def induce_schema(value: Any) -> Dict[str, Any]:
    """Induce a draft-style JSON schema from an extracted value (the M1
    analog of per-page schema induction, pdf_parser.py:395-416)."""
    if isinstance(value, bool):
        return {"type": "boolean"}
    if isinstance(value, int):
        return {"type": "integer"}
    if isinstance(value, float):
        return {"type": "number"}
    if isinstance(value, str):
        return {"type": "string"}
    if isinstance(value, list):
        items: Dict[str, Any] = {}
        for v in value:
            # owned union: both sides are freshly built here (fast path,
            # value-identical to schema_union — property-tested)
            items = schema_union_owned(items, induce_schema(v))
        return {"type": "array", "items": items}
    if isinstance(value, dict):
        return {
            "type": "object",
            "properties": {k: induce_schema(v) for k, v in value.items() if not is_na(v)},
        }
    return {}


def _structural_key(v: Any) -> Any:
    """Hashable key such that equal keys ⇒ equal ``induce_schema`` output:
    scalars reduce to their type tag; lists to the SET of element keys
    (induce_schema unions element schemas — order-free, duplicate-free);
    dicts to the SET of (key, child) pairs with NA-valued keys dropped
    exactly as induce_schema drops them.  frozensets, not sorted tuples:
    the key is only ever compared for equality/hashing (the dedup set in
    chunk_schema_digest), and set equality is order-free by definition —
    this removes the repr+sort that dominated the digest profile."""
    if isinstance(v, bool):
        return "b"
    if isinstance(v, int):
        return "i"
    if isinstance(v, float):
        return "f"
    if isinstance(v, str):
        return "s"
    if isinstance(v, list):
        return ("l", frozenset(_structural_key(x) for x in v))
    if isinstance(v, dict):
        return (
            "d",
            frozenset(
                (k, _structural_key(x)) for k, x in v.items() if not is_na(x)
            ),
        )
    return "o"


def chunk_schema_digest(payload: Dict[str, Any]) -> Dict[str, Any]:
    """Per-chunk ontology digest: union of the induced schemas of each
    extracted symbol's attributes, keyed under the symbol's kind.

    Symbols with structurally identical attributes induce identical schemas,
    and M3 union is idempotent (property-tested) — so each distinct
    (kind, structure) pair is unioned once, not once per symbol."""
    digest: Dict[str, Any] = {}
    seen: set = set()
    for name, attrs in payload.items():
        kind = attrs.get("kind") if isinstance(attrs, dict) else None
        key = kind if not is_na(kind) else "unknown"
        skey = (key, _structural_key(attrs))
        if skey in seen:
            continue
        seen.add(skey)
        # owned union: the right side is freshly built (induce_schema never
        # references ``attrs``), the accumulator is local — zero copies
        digest = schema_union_owned(
            digest, {"type": "object", "properties": {key: induce_schema(attrs)}}
        )
    return digest


# ---------------------------------------------------------------------------
# Sequential document oracle (EP2 re-expression, driver-side)
# ---------------------------------------------------------------------------


def document_payload(
    lang: str,
    content: str,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    allowed_kinds=None,
    allowed_terms=None,
) -> Dict[str, Any]:
    """The reference-shaped sequential path for ONE document: chunk → per-
    chunk payload → A2 left fold in chunk order.  This is the oracle the
    distributed fold must match exactly (SURVEY §5.3)."""
    payloads = [
        chunk_payload(extract_mentions(lang, ext, allowed_kinds, allowed_terms))
        for _, _orig, ext in chunk_text_masked(content, lang, chunk_bytes)
    ]
    return combine_entities_data(payloads)


def document_schema(
    lang: str,
    content: str,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    allowed_kinds=None,
    allowed_terms=None,
) -> Dict[str, Any]:
    """Per-document schema: union of per-chunk digests (A4)."""
    return schema_union_all(
        chunk_schema_digest(
            chunk_payload(extract_mentions(lang, ext, allowed_kinds, allowed_terms))
        )
        for _, _orig, ext in chunk_text_masked(content, lang, chunk_bytes)
    )


def triples_for_mentions(
    module_id: str, mentions: Iterable[Dict[str, str]]
) -> set:
    """M5(b) triple set for one document's mentions (pure; shared by the
    sequential oracle AND the fused extraction UDF).  Every triple's subject
    carries the module id, so per-document dedup == global dedup — the
    distributed plan needs NO cross-document distinct shuffle.

    Triple shape per primitives.py:10-17 (subj=source, pred=name, obj=target):
      module --imports--> lib::<mod>
      module --defines--> module::<function|class>
      class  --has_method--> module::<method>
      caller --calls--> module::<callee>   (caller = enclosing fn or module)
      module --mentions--> term::<term>    (prose corpora)
    """
    triples = set()
    for m in mentions:
        kind, name, owner = m["kind"], m["name"], m["owner"]
        if kind == "import":
            triples.add((module_id, "imports", f"lib::{name}", "import"))
        elif kind in ("function", "class"):
            triples.add((module_id, "defines", f"{module_id}::{name}", "defines"))
        elif kind == "method":
            triples.add(
                (f"{module_id}::{owner}", "has_method", f"{module_id}::{name}", "containment")
            )
            triples.add((module_id, "defines", f"{module_id}::{name}", "defines"))
        elif kind == "call":
            caller = f"{module_id}::{owner}" if owner else module_id
            triples.add((caller, "calls", f"{module_id}::{name}", "call"))
        elif kind == "term":
            triples.add((module_id, "mentions", f"term::{name}", "mention"))
    return triples


def document_triples(
    repo: str,
    path: str,
    lang: str,
    content: str,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    allowed_kinds=None,
    allowed_terms=None,
) -> List[Tuple[str, str, str, str]]:
    """Sequential triple oracle for one document: sorted (subj, pred, obj,
    rel_type) rows derived via :func:`triples_for_mentions`.  Takes the
    same P8 filter parameters as the fused UDF path, so the filtered
    extraction is oracle-checkable too."""
    module_id = f"{repo}/{path}"
    triples = set()
    for _, _orig, ext in chunk_text_masked(content, lang, chunk_bytes):
        triples |= triples_for_mentions(
            module_id, extract_mentions(lang, ext, allowed_kinds, allowed_terms)
        )
    return sorted(triples)
