"""Round-5 wave-9: structure grammars for extension-less build files.

Real repositories are full of Dockerfiles and Makefiles; the
extension-keyed router silently skipped them (no extension → not even
scanned), while the reference's extraction reads every file it is given
(parsers/pdf_parser.py:587-599).  Wave 9 adds:

- a **docker** grammar: base image → import (join-safe stem — last path
  segment, tag/digest stripped; `scratch` excluded), `FROM … AS stage`
  → class, ARG/ENV names → method owned by the current stage (function
  before the first FROM / after an unnamed stage);
- a **make** grammar: `include x.mk` → import (stem), col-0 variable
  assignments (incl. `export`/`override` prefixes) and `define` macro
  blocks → class, col-0 rule targets → function.  Declared envelope:
  recipe/continuation lines can't match the col-0 anchors, dot-special
  targets (.PHONY), `%.o` pattern rules, path-ish targets (`build/app`
  — not join-safe) and multi-target lines are skipped; define..endef
  bodies are blanked before matching;
- basename routing: the lang expression takes the basename's last
  dot-segment, so a dotless `Dockerfile`/`Makefile` routes via the
  lowercased-basename EXT_LANG keys, and the default glob admits the
  dotless names explicitly.
"""

from __future__ import annotations

import os

from scrapontologies_spark.functions.code_gazetteer import (
    document_payload,
    extract_mentions,
)


def _rows(lang, text):
    return [(m["kind"], m["name"], m["owner"])
            for m in extract_mentions(lang, text)]


DOCKER = (
    "# build stage\n"
    "FROM ghcr.io/acme/node:20-slim AS builder\n"
    "ARG VERSION=1.0\n"
    "ENV NODE_ENV=production\n"
    "RUN npm ci && npm run build\n"
    "\n"
    "FROM nginx:1.25@sha256:abc123 AS runtime\n"
    "ENV PORT=8080\n"
    "COPY --from=builder /app/dist /usr/share/nginx/html\n"
    "\n"
    "FROM scratch\n"
    "ARG GLOBALISH\n"
)


def test_dockerfile_stages_images_and_args():
    assert _rows("docker", DOCKER) == [
        ("import", "node", ""),
        ("class", "builder", ""),
        ("method", "VERSION", "builder"),
        ("method", "NODE_ENV", "builder"),
        ("import", "nginx", ""),
        ("class", "runtime", ""),
        ("method", "PORT", "runtime"),
        ("function", "GLOBALISH", ""),   # after the unnamed scratch stage
    ]


def test_dockerfile_case_insensitive_and_comments():
    src = "# from fake AS nope\nfrom alpine:3.20 as base\nenv K=v\n"
    assert _rows("docker", src) == [
        ("import", "alpine", ""),
        ("class", "base", ""),
        ("method", "K", "base"),
    ]


MAKE = (
    "include common.mk\n"
    "-include local/extra.mk\n"
    "\n"
    "CC := gcc\n"
    "CFLAGS = -O2 -Wall\n"
    "export DESTDIR = /usr\n"
    "override LDFLAGS += -lm\n"
    "\n"
    ".PHONY: all clean\n"
    "all: build/app\n"
    "\n"
    "build/app: main.o\n"
    "\t$(CC) -o $@ $^\n"
    "\n"
    "clean::\n"
    "\trm -f *.o\n"
    "\n"
    "define HELP_TEXT\n"
    "usage: make all\n"
    "fake_target: not real\n"
    "endef\n"
    "\n"
    "%.o: %.c\n"
    "\t$(CC) -c $<\n"
)


def test_makefile_vars_targets_includes():
    assert _rows("make", MAKE) == [
        ("import", "common", ""),
        ("import", "extra", ""),
        ("class", "CC", ""),
        ("class", "CFLAGS", ""),
        ("class", "DESTDIR", ""),        # export-prefixed
        ("class", "LDFLAGS", ""),        # override-prefixed
        ("function", "all", ""),
        ("function", "clean", ""),       # double-colon rule
        ("class", "HELP_TEXT", ""),      # define block; body masked
    ]


def test_makefile_recipe_and_pattern_lines_are_inert():
    rows = _rows("make", MAKE)
    names = [r[1] for r in rows]
    assert "PHONY" not in names and ".PHONY" not in names
    assert "fake_target" not in names    # define body
    assert not any("%" in n for n in names)


def test_makefile_var_colon_forms():
    src = "A = 1\nB := 2\nC ?= 3\nD += 4\nE ::= 5\n"
    assert _rows("make", src) == [
        ("class", x, "") for x in "ABCDE"
    ]
    # none of these are targets
    assert all(k == "class" for k, _, _ in _rows("make", src))


def test_basename_routing_in_ext_lang():
    from scrapontologies_spark.sources.files import EXT_LANG, _default_glob

    assert EXT_LANG["dockerfile"] == "docker"
    assert EXT_LANG["makefile"] == "make"
    assert EXT_LANG["mk"] == "make"
    glob = _default_glob(EXT_LANG)
    for name in ("Dockerfile", "Makefile", "GNUmakefile"):
        assert name in glob


def test_corpus_from_files_routes_dotless_basenames(tmp_path, spark):
    (tmp_path / "Dockerfile").write_text("FROM alpine:3 AS base\nENV K=v\n")
    (tmp_path / "Makefile").write_text("CC := gcc\nall:\n\techo hi\n")
    (tmp_path / "app.py").write_text("def f(x):\n    return x\n")
    from scrapontologies_spark.sources.files import corpus_from_files

    df = corpus_from_files(spark, str(tmp_path), repo="r", commit="c")
    got = {r.path: r.lang for r in df.collect()}
    assert got == {"Dockerfile": "docker", "Makefile": "make",
                   "app.py": "python"}


# --- BuildKit heredocs (wave 9b) --------------------------------------------


def test_docker_run_heredoc_body_is_masked():
    src = (
        "FROM alpine:3.20 AS base\n"
        "RUN <<EOF\n"
        "apk add curl\n"
        "ENV GHOST=1\n"
        "FROM ghostimg\n"
        "EOF\n"
        "ENV REAL=2\n"
    )
    # the body's ENV/FROM-shaped lines are data, and the phantom FROM
    # must not reset stage tracking: REAL stays owned by `base`
    assert _rows("docker", src) == [
        ("import", "alpine", ""),
        ("class", "base", ""),
        ("method", "REAL", "base"),
    ]


def test_docker_copy_heredoc_masks():
    src = (
        "FROM alpine AS b\n"
        "COPY <<CFG /etc/app.conf\n"
        "key: value\n"
        "ARG GHOST\n"
        "CFG\n"
        "ARG REAL\n"
    )
    assert _rows("docker", src) == [
        ("import", "alpine", ""),
        ("class", "b", ""),
        ("method", "REAL", "b"),
    ]


# --- ADVICE regressions: here-strings and FROM flags ------------------------


def test_shell_here_string_does_not_open_a_heredoc():
    # `<<<"word"` is a here-string: its second '<' once opened a heredoc
    # tagged `word` that masked to the end of the chunk
    src = 'grep foo <<<"word"\nfunction after_here() {\n  echo hi\n}\n'
    assert _rows("shell", src) == [("function", "after_here", "")]


def test_docker_from_flags_are_skipped():
    src = (
        "FROM --platform=$BUILDPLATFORM golang:1.22 AS build\n"
        "ARG REV\n"
        "RUN go build\n"
    )
    assert _rows("docker", src) == [
        ("import", "golang", ""),
        ("class", "build", ""),
        ("method", "REV", "build"),
    ]


# --- ADVICE regression: stacked heredocs ------------------------------------


def test_ruby_stacked_heredocs_mask_every_body():
    # each further opener on the line takes the next terminator after the
    # previous one's: masking stopped at ONE, so TWO's body minted a method
    src = (
        "class A\n"
        "  foo(<<~ONE, <<~TWO)\n"
        "    one\n"
        "  ONE\n"
        "    def leaked_two\n"
        "    end\n"
        "  TWO\n"
        "  def real\n"
        "  end\n"
        "end\n"
    )
    assert _rows("ruby", src) == [
        ("class", "A", ""),
        ("method", "real", "A"),
        ("call", "foo", ""),
    ]


def test_shell_stacked_heredocs_mask_every_body():
    src = (
        "cat <<A; cat <<B\n"
        "function leak_a() {\n"
        "A\n"
        "function leak_b() {\n"
        "B\n"
        "function real_fn() {\n"
        "  echo\n"
        "}\n"
    )
    assert _rows("shell", src) == [("function", "real_fn", "")]


# --- double mask: a chunk of chunk_text_masked is masked again --------------
# chunk_text_masked blanks a heredoc's body and terminator at document
# level, then extract_mentions masks each chunk again.  The openers are
# blanked with the body, so the second pass cannot re-open a heredoc whose
# terminator is already blank and mask to the end of the chunk.


def _doc_names(lang, text):
    return set(document_payload(lang, text, 1024))


def test_double_mask_shell_dash_quoted_heredoc():
    src = "cat <<-'EOF'\n\tdef leaked() {\n\tEOF\nafter() {\n  echo hi\n}\n"
    assert _doc_names("shell", src) == {"after"}


def test_double_mask_docker_run_heredoc():
    src = "FROM alpine AS b\nRUN <<'EOF'\nENV GHOST=1\nEOF\nENV REAL=1\n"
    assert _doc_names("docker", src) == {"alpine", "b", "REAL"}


def test_double_mask_ruby_squiggly_heredoc():
    src = (
        "class A\n"
        "  def q\n"
        "    x = <<~SQL\n"
        "      def ghost; end\n"
        "    SQL\n"
        "  end\n"
        "  def real\n"
        "  end\n"
        "end\n"
    )
    assert _doc_names("ruby", src) == {"A", "q", "real"}


def test_double_mask_report_fixture_keeps_later_declarations():
    # the P/R fixture: one 723-byte chunk whose heredoc sits mid-file
    path = os.path.join(
        os.path.dirname(__file__), "fixtures_realworld", "files", "lib", "report.rb"
    )
    with open(path, encoding="utf-8") as f:
        src = f.read()
    names = _doc_names("ruby", src)
    assert {"open_tasks", "quick_report", "overdue_sql"} <= names
    assert "ghost" not in names
