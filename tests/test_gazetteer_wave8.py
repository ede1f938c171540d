"""Round-5 wave-8 grammar shapes (the fifth shape-probe batch):
MULTI-LINE STRING MASKING.  The round-4/5 comment-and-docstring mask
stopped at python triple quotes and ``/* */`` blocks, so every other
multi-line string form leaked its body straight into the line-anchored
grammars: ``SELECT count(*)`` inside a JS template literal, a go raw
string, a ruby heredoc or a java text block minted a phantom ``count``
call edge in every DAO-shaped file, and a C backslash-continuation
string could mint whole phantom declarations.  Wave 8 masks, per
language:

- javascript/go: backtick spans CONTAINING A NEWLINE (single-line
  templates keep the round-4 skip behavior bit-exactly);
- java: ``\"\"\"`` text blocks (JDK 15+);
- rust: multi-line raw strings ``r\"…\"`` / ``r#\"…\"#`` /
  ``br#\"…\"#`` (single-line raw strings — regexes — unchanged);
- ruby (newly a masked language): ``=begin``/``=end`` blocks and
  heredocs ``<<~TAG`` / ``<<-TAG`` / ``<<TAG`` / ``<<'TAG'``.  A bare
  ``<<TAG`` is shift-ambiguous (``x<<WIDTH``), so it only masks when
  its terminator line exists; the unambiguous forms mask to chunk end
  when unterminated, like an open docstring;
- python/c/javascript: ``\\``-newline continuation strings.

Envelope (documented, unchanged): calls inside ``${…}`` interpolation
are masked with the template; a TEMPLATE NESTED inside ``${…}`` closes
the outer span early (the inner backtick pairs with the opener), so
content after it on later lines can leak — distinguishing those needs a
real lexer, out of scope for the gazetteer.

Reference parity target: the reference's per-page LLM reads rendered
page text, where a string literal's content is visibly data, not code
(parsers/pdf_parser.py:396-416) — string payloads never become
entities there, so they must not here either.
"""

from __future__ import annotations

import pytest

from scrapontologies_spark.functions.code_gazetteer import (
    _mask_block_spans,
    chunk_text,
    chunk_text_masked,
    extract_mentions,
)


def _names(lang, text, kind=None):
    return [m["name"] for m in extract_mentions(lang, text)
            if kind is None or m["kind"] == kind]


def _decls(lang, text):
    return [(m["kind"], m["name"], m["owner"])
            for m in extract_mentions(lang, text) if m["kind"] != "call"]


def _calls(lang, text):
    return [(m["name"], m["owner"]) for m in extract_mentions(lang, text)
            if m["kind"] == "call"]


# --- javascript templates ----------------------------------------------------


def test_js_multiline_template_masks_decls_and_calls():
    src = (
        "function real() {\n"
        "  const q = `\n"
        "    SELECT count(*) FROM t WHERE f(x)\n"
        "    function ghost() { boo(1); }\n"
        "  `;\n"
        "  return q;\n"
        "}\n"
    )
    assert _decls("javascript", src) == [("function", "real", "")]
    assert _calls("javascript", src) == []


def test_js_single_line_template_keeps_round4_behavior():
    # single-line templates were already suppressed by the call-pass
    # string spans — bit-identical before/after wave 8
    src = "const a = `x(1)`, b = `y(2)`;\nreal(3);\n"
    assert _calls("javascript", src) == [("real", "")]
    assert _mask_block_spans(src, "javascript") is src


def test_js_continuation_string_masks():
    src = 'const s = "abc\\\n def ghost(x) {";\nreal(1);\n'
    assert _names("javascript", src, "function") == []
    assert _calls("javascript", src) == [("real", "")]


# --- go raw strings ----------------------------------------------------------


def test_go_multiline_raw_string_masks():
    src = (
        "func real() string {\n"
        "\treturn `\n"
        "SELECT count(*) FROM t\n"
        "func ghost() {}\n"
        "`\n"
        "}\n"
    )
    assert _decls("go", src) == [("function", "real", "")]
    assert _calls("go", src) == []


def test_go_backtick_in_comment_is_not_an_opener():
    src = "// use `go run` here\nfunc real() {\n}\n"
    assert _decls("go", src) == [("function", "real", "")]


# --- java text blocks --------------------------------------------------------


def test_java_text_block_masks():
    src = (
        "class A {\n"
        '    String q = """\n'
        '        say "hi" count(*)\n'
        "        void ghost() {\n"
        '        """;\n'
        "    void go() {\n"
        "    }\n"
        "}\n"
    )
    assert _decls("java", src) == [
        ("class", "A", ""), ("method", "go", "A"),
    ]
    assert _calls("java", src) == []


# --- rust raw strings --------------------------------------------------------


def test_rust_multiline_raw_string_masks():
    src = (
        "fn real() -> &'static str {\n"
        '    r#"\n'
        "fn ghost() {}\n"
        "call(1)\n"
        '"#\n'
        "}\n"
    )
    assert _decls("rust", src) == [("function", "real", "")]
    assert _calls("rust", src) == []


def test_rust_single_line_raw_regex_unchanged():
    src = 'fn real() {\n    let re = r"\\d+fn";\n    parse(re);\n}\n'
    assert _calls("rust", src) == [("parse", "real")]


def test_rust_r_quote_inside_plain_string_is_not_raw_opener():
    src = 'fn real() {\n    let s = "use r\\" here";\n    go(s);\n}\n'
    assert _calls("rust", src) == [("go", "real")]


# --- ruby heredocs and =begin ------------------------------------------------


def test_ruby_squiggly_heredoc_masks_calls():
    src = (
        "def real\n"
        "  sql = <<~SQL\n"
        "    SELECT count(*) FROM t\n"
        "    def ghost\n"
        "  SQL\n"
        "  run(sql)\n"
        "end\n"
    )
    assert _decls("ruby", src) == [("function", "real", "")]
    assert _calls("ruby", src) == [("run", "real")]


def test_ruby_quoted_and_dash_heredocs_mask():
    for opener, term in (("<<'EOS'", "EOS"), ("<<-DOC", "  DOC")):
        src = (
            "def real\n"
            f"  s = {opener}\n"
            "  ghost(1)\n"
            f"{term}\n"
            "  pong(s)\n"
            "end\n"
        )
        assert _calls("ruby", src) == [("pong", "real")], opener


def test_ruby_bare_shift_is_not_a_heredoc():
    # 1<<WIDTH has no terminator line: without one, a bare <<TAG never
    # masks (shift-ambiguous), so the rest of the method stays live
    src = "def real\n  x = 1<<WIDTH\n  ping(x)\nend\n"
    assert _calls("ruby", src) == [("ping", "real")]


def test_ruby_unterminated_squiggly_masks_to_end():
    # unambiguous opener, no terminator in chunk: open-span envelope
    src = "def real\n  s = <<~SQL\n    SELECT count(*)\n"
    assert _calls("ruby", src) == []
    assert _decls("ruby", src) == [("function", "real", "")]


def test_ruby_begin_end_block_comment_masks():
    src = "=begin\ndef ghost\n  boo(1)\n=end\ndef real\n  ok(2)\nend\n"
    assert _decls("ruby", src) == [("function", "real", "")]
    assert _calls("ruby", src) == [("ok", "real")]


def test_ruby_heredoc_tag_inside_string_is_skipped():
    src = 'def real\n  doc = "see <<EOF marker"\n  ok(1)\nend\n'
    assert _calls("ruby", src) == [("ok", "real")]


def test_ruby_heredoc_crlf_terminator():
    src = (
        "def real\r\n  s = <<~SQL\r\n    SELECT count(*)\r\n  SQL\r\n"
        "  done(1)\r\nend\r\n"
    )
    assert _calls("ruby", src) == [("done", "real")]


# --- python / c continuation strings ----------------------------------------


def test_python_continuation_string_masks():
    src = "s = 'abc\\\n def ghost(): pass'\ndef real():\n    pass\n"
    assert _decls("python", src) == [("function", "real", "")]


def test_c_continuation_string_masks():
    src = (
        'const char *s = "abc\\\n def ghost(x) {";\n'
        "int real(void) {\n    return 1;\n}\n"
    )
    assert _decls("c", src) == [("function", "real", "")]


# --- invariants --------------------------------------------------------------


def test_wave8_masks_preserve_offsets_and_chunk_bytes():
    srcs = [
        ("javascript", "function f() {\n  return `\nmulti\nline\n`;\n}\n"),
        ("ruby", "def f\n  s = <<~A\n  body\n  A\nend\n"),
        ("java", 'class A {\n  String q = """\n  x\n  """;\n}\n'),
        ("rust", 'fn f() {\n    r#"\nbody\n"#;\n}\n'),
    ]
    for lang, src in srcs:
        masked = _mask_block_spans(src, lang)
        assert len(masked) == len(src), lang
        assert masked.count("\n") == src.count("\n"), lang
        # original chunks stay byte-identical (sha256 content invariant)
        plain = chunk_text(src, 16)
        trip = chunk_text_masked(src, lang, 16)
        assert [(c, t) for c, t, _ in trip] == plain, lang


def test_wave8_document_level_mask_spans_chunks():
    # a template straddling a chunk boundary masks across it on the
    # document-level path (chunk_text_masked pairs openers globally)
    from scrapontologies_spark.functions.code_gazetteer import document_triples

    body = "\n".join(f"  sql line {i} count({i})" for i in range(30))
    src = (
        "function real() {\n"
        "  const q = `\n" + body + "\n`;\n"
        "  return q;\n"
        "}\n"
    )
    triples = document_triples("r", "m.js", "javascript", src, chunk_bytes=128)
    objs = {o for _, _, o, _ in triples}
    assert "r/m.js::real" in objs
    assert not any("count" in o for o in objs)


# --- generic arrow declarators (closing a declared residual) ----------------


def test_generic_arrow_declarators_extract():
    cases = [
        "export const pick = <T,>(xs: T[]): T => {\n  return xs[0];\n};\n",
        "const fold = <T extends Node<T>>(xs: T[]) => {\n  return xs;\n};\n",
        "const load = async <T,>(k: string): Promise<T> => {\n"
        "  return go(k);\n};\n",
    ]
    for src in cases:
        names = _names("javascript", src, "function")
        assert len(names) == 1 and names[0] in ("pick", "fold", "load"), src


def test_jsx_elements_are_not_generic_arrows():
    # a JSX element in declarator position must not mint a function —
    # the arrow head `(params) … =>` is required after the <...> clause
    cases = [
        "const view = <div>(hello)</div>;\nrender(view);\n",
        'const card = <Card title="x" />;\nrender(card);\n',
        "const wrap = <Layout>{children}</Layout>;\n",
    ]
    for src in cases:
        assert _names("javascript", src, "function") == [], src


# --- shell heredocs / yaml block scalars / toml multi-line strings ----------
# (wave 8b: the structure grammars' own multi-line string forms)


def test_shell_heredoc_masks_function_shapes():
    src = (
        "deploy() {\n"
        "  cat <<EOF\n"
        "ghost() {\n"
        "  echo hi\n"
        "}\n"
        "EOF\n"
        "}\n"
    )
    assert _decls("shell", src) == [("function", "deploy", "")]


def test_shell_quoted_and_dash_heredocs_mask():
    for opener, term in (("<<'USAGE'", "USAGE"), ("<<-MSG", "\tMSG")):
        src = (
            "usage() {\n"
            f"  cat {opener}\n"
            "helper() { run it }\n"
            f"{term}\n"
            "}\n"
        )
        assert _decls("shell", src) == [("function", "usage", "")], opener


def test_shell_arithmetic_shift_is_not_a_heredoc():
    # $((x<<WIDTH)) has no terminator line: bare <<TAG never masks
    # without one, so the rest of the script stays live
    src = "f() {\n  y=$((x<<WIDTH))\n}\nreal() {\n  echo ok\n}\n"
    assert _decls("shell", src) == [
        ("function", "f", ""), ("function", "real", ""),
    ]


def test_shell_heredoc_in_string_or_comment_is_inert():
    for src in (
        "f() {\n  echo 'use <<EOF here'\n}\nreal() {\n  echo ok\n}\n",
        "# use <<EOF style\nreal() {\n  echo ok\n}\n",
    ):
        assert ("function", "real", "") in _decls("shell", src), src


def test_shell_hash_inside_braces_is_not_a_comment():
    # ${#arr[@]} must not swallow the rest of the line as a comment
    src = "f() {\n  n=${#arr[@]}\n  echo $n\n}\n"
    assert _decls("shell", src) == [("function", "f", "")]


def test_yaml_block_scalar_masks_body_keys():
    # the GitHub-Actions shape: `run: |` bodies are shell, not yaml keys
    src = (
        "jobs:\n"
        "  test:\n"
        "    steps:\n"
        "      - name: build\n"
        "        run: |\n"
        "          make all\n"
        "          status: fake\n"
        "      - name: done\n"
    )
    rows = _decls("yaml", src)
    names = [r[1] for r in rows]
    assert "status" not in names and "make" not in names
    assert "run" in names and "name" in names  # headers still extract


def test_yaml_folded_scalar_with_chomp_masks():
    src = "desc: >-\n  some: text\n  more: text\nnext_key: 1\n"
    names = [r[1] for r in _decls("yaml", src)]
    assert names == ["desc", "next_key"]


def test_yaml_pipe_in_flow_value_is_not_a_scalar_header():
    src = "cmd: a | b\nnext: 1\n"
    names = [r[1] for r in _decls("yaml", src)]
    assert names == ["cmd", "next"]


def test_toml_multiline_strings_mask():
    for src in (
        'desc = """\nfake = 1\n"""\nreal = 2\n',
        "pat = '''\nghost = 3\n'''\nreal = 2\n",
    ):
        names = [r[1] for r in _decls("toml", src)]
        assert names == ["desc", "real"] or names == ["pat", "real"], src


def test_toml_comment_with_triple_quote_is_inert():
    src = '# note """\nreal = 2\n[section]\nkey = 1\n'
    assert _decls("toml", src) == [
        ("class", "real", ""), ("class", "section", ""),
        ("method", "key", "section"),
    ]


# --- C '#if 0' blocks and rust nested comments (wave 8c) --------------------


def test_c_if0_block_masks_decls_and_calls():
    src = (
        "#if 0\n"
        "int ghost(int x) {\n"
        "    boo(1);\n"
        "}\n"
        "#endif\n"
        "int real(void) {\n"
        "    return 1;\n"
        "}\n"
    )
    assert _decls("c", src) == [("function", "real", "")]
    assert _calls("c", src) == []


def test_c_if0_else_branch_is_live():
    src = (
        "#if 0\nint ghost(void) {\n    return 0;\n}\n"
        "#else\nint live(void) {\n    return 1;\n}\n#endif\n"
    )
    assert _decls("c", src) == [("function", "live", "")]


def test_c_if0_nested_conditionals_mask_to_matching_endif():
    src = (
        "#if 0\n#ifdef X\nint ghost(void) { return 0; }\n#endif\n"
        "int ghost2(void) { return 0; }\n#endif\n"
        "int real(void) { return 1; }\n"
    )
    assert _decls("c", src) == [("function", "real", "")]


@pytest.mark.parametrize("opener", ["#  if 0", "#\tif 0", "  #if 0"])
def test_c_if0_probe_accepts_spaced_directives(opener):
    # no '/*' and no backslash-newline: only the '#if 0' probe can admit
    # the file to the mask scan
    src = (
        f"{opener}\nint dead_fn(void) {{ return 0; }}\n#endif\n"
        "int live(void) { return 1; }\n"
    )
    assert _decls("c", src) == [("function", "live", "")]


def test_c_ifdef_code_still_extracts():
    # #ifdef NAME guards REAL code a reader inventories — only the
    # literal '#if 0' idiom means commented-out
    src = "#ifdef FEATURE_X\nint maybe(int x) {\n    return x;\n}\n#endif\n"
    assert _decls("c", src) == [("function", "maybe", "")]


def test_rust_nested_block_comment_masks_to_outer_closer():
    src = (
        "/* outer /* inner */ still comment\n"
        "fn ghost() {}\n"
        "*/\n"
        "fn real() -> u32 {\n    1\n}\n"
    )
    assert _decls("rust", src) == [("function", "real", "")]
