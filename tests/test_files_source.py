"""Real-file corpus ingestion (sources/files.py): a directory tree must
ingest into the exact corpus shape and feed the extraction pipeline
end-to-end — the reference's FileExtractor(path) entry surface."""

from __future__ import annotations

from scrapontologies_spark.operators.extract import extract_document_rows, triples_view
from scrapontologies_spark.sources.files import corpus_from_files


def _triples(corpus):
    """(subj, pred, obj) of every triple one fused pass extracts."""
    doc_rows = extract_document_rows(corpus, 512, with_schemas=False)
    return [(r.subj, r.pred, r.obj) for r in triples_view(doc_rows).collect()]


def _write_tree(tmp_path):
    root = tmp_path / "myrepo"
    (root / "pkg").mkdir(parents=True)
    (root / "pkg" / "mod.py").write_text(
        "import os\n\nclass Greeter:\n    def hello(self):\n        return os.name\n"
    )
    (root / "README.md").write_text("# myrepo\n\nquery the database index.\n")
    (root / "notes.txt").write_text("sort and merge the table rows")
    (root / "blob.bin").write_bytes(b"\x00" * 64)  # excluded by glob
    (root / "big.py").write_text("x = 1\n" * 200_000)  # excluded by max_bytes
    return str(root)


def test_corpus_from_files_shape_and_filters(spark, tmp_path):
    root = _write_tree(tmp_path)
    df = corpus_from_files(spark, root, commit="abc123", max_bytes=100_000)
    rows = {r.path: r for r in df.collect()}

    assert set(rows) == {"pkg/mod.py", "README.md", "notes.txt"}
    assert df.columns == ["repo", "path", "commit", "lang", "content"]
    assert all(r.repo == "myrepo" and r.commit == "abc123" for r in rows.values())
    assert rows["pkg/mod.py"].lang == "python"
    assert rows["README.md"].lang == "markdown"
    assert rows["notes.txt"].lang == "text"
    assert "class Greeter" in rows["pkg/mod.py"].content


def test_corpus_from_files_feeds_extraction(spark, tmp_path):
    root = _write_tree(tmp_path)
    corpus = corpus_from_files(spark, root, max_bytes=100_000)
    triples = set(_triples(corpus))
    # the python module yields class/method/import structure
    assert ("myrepo/pkg/mod.py", "defines", "myrepo/pkg/mod.py::Greeter") in triples
    assert (
        "myrepo/pkg/mod.py::Greeter",
        "has_method",
        "myrepo/pkg/mod.py::hello",
    ) in triples
    assert ("myrepo/pkg/mod.py", "imports", "lib::os") in triples


def test_malformed_utf8_never_fails_ingest(spark, tmp_path):
    """ANSI-mode regression: one file with invalid UTF-8 bytes must not
    abort the scan (F.decode raised MALFORMED_CHARACTER_CODING); invalid
    sequences become U+FFFD and valid siblings are untouched."""
    root = tmp_path / "badbytes"
    root.mkdir()
    (root / "ok.txt").write_text("clean prose row")
    (root / "bad.txt").write_bytes(b"hello \xff\xfe world")
    rows = {r.path: r.content for r in corpus_from_files(spark, str(root)).collect()}
    assert rows["ok.txt"] == "clean prose row"
    assert rows["bad.txt"] == "hello �� world"


def test_relative_path_with_nested_same_name_dir(spark, tmp_path):
    """Anchor regression: a subdirectory named like the root must not
    collapse distinct files onto one relative path (substring_index on the
    basename took the LAST occurrence: sub/myrepo/a.txt became a.txt)."""
    root = tmp_path / "myrepo"
    (root / "sub" / "myrepo").mkdir(parents=True)
    (root / "a.txt").write_text("top-level a")
    (root / "sub" / "myrepo" / "a.txt").write_text("nested a")
    rows = {r.path: r.content for r in corpus_from_files(spark, str(root)).collect()}
    assert set(rows) == {"a.txt", "sub/myrepo/a.txt"}
    assert rows["a.txt"] == "top-level a"
    assert rows["sub/myrepo/a.txt"] == "nested a"


def test_ext_lang_parameter_and_broadened_defaults(spark, tmp_path):
    root = tmp_path / "langs"
    root.mkdir()
    (root / "m.ts").write_text("function greet(): void {}\n")
    (root / "m.rs").write_text("fn main() {}\n")
    (root / "m.scala").write_text("object Main\n")

    # broadened defaults: .ts rides the JS grammar, .rs the rust grammar
    rows = {r.path: r.lang for r in corpus_from_files(spark, str(root)).collect()}
    assert rows["m.ts"] == "javascript"
    assert rows["m.rs"] == "rust"
    assert "m.scala" not in rows  # not in the default glob

    # caller-supplied map: both glob and lang routing follow it
    rows2 = {
        r.path: r.lang
        for r in corpus_from_files(
            spark, str(root), ext_lang={"scala": "java", "ts": "javascript"}
        ).collect()
    }
    assert rows2 == {"m.scala": "java", "m.ts": "javascript"}


def test_golden_triples_from_fixture_tree(spark, tmp_path):
    """Exact (subj, pred, obj) golden set for a pinned fixture tree through
    corpus_from_files → the fused extraction pass (VERDICT r03 ask #5: the
    end-to-end front-door assertion must be a fixed fixture, not the
    drifting live repo, and must pin VALUES, not just shape)."""
    root = tmp_path / "golden"
    (root / "pkg").mkdir(parents=True)
    (root / "pkg" / "mod.py").write_text(
        "import os\n\nclass Greeter:\n    def hello(self):\n        return os.name\n"
    )
    (root / "notes.txt").write_text("sort then merge the rows; sort wins")

    corpus = corpus_from_files(spark, str(root), commit="pinned")
    triples = sorted(_triples(corpus))
    assert triples == [
        ("golden/notes.txt", "mentions", "term::merge"),
        ("golden/notes.txt", "mentions", "term::sort"),
        ("golden/pkg/mod.py", "defines", "golden/pkg/mod.py::Greeter"),
        ("golden/pkg/mod.py", "defines", "golden/pkg/mod.py::hello"),
        ("golden/pkg/mod.py", "imports", "lib::os"),
        ("golden/pkg/mod.py::Greeter", "has_method", "golden/pkg/mod.py::hello"),
    ]


def test_new_grammars_through_front_door(spark, tmp_path):
    """A Rust and a C file must ingest with their real grammar ids and
    yield structural triples end-to-end (the r03 EXT_LANG gap: rs/c fell
    to prose until the rust/ruby/c grammars landed)."""
    root = tmp_path / "mixed"
    root.mkdir()
    (root / "graph.rs").write_text(
        "use petgraph::graph::NodeIndex;\n"
        "pub struct Engine;\n"
        "impl Engine {\n"
        "    pub fn start(&self) {}\n"
        "}\n"
    )
    (root / "main.c").write_text(
        "#include <stdlib.h>\n"
        "int main(int argc, char **argv) {\n"
        "    return run_engine(argc);\n"
        "}\n"
    )
    corpus = corpus_from_files(spark, str(root), commit="pinned")
    langs = {r.path: r.lang for r in corpus.select("path", "lang").collect()}
    assert langs == {"graph.rs": "rust", "main.c": "c"}

    triples = set(_triples(corpus))
    assert ("mixed/graph.rs", "defines", "mixed/graph.rs::Engine") in triples
    assert (
        "mixed/graph.rs::Engine",
        "has_method",
        "mixed/graph.rs::start",
    ) in triples
    assert ("mixed/graph.rs", "imports", "lib::petgraph") in triples
    assert ("mixed/main.c", "defines", "mixed/main.c::main") in triples
    assert ("mixed/main.c", "imports", "lib::stdlib") in triples
    assert (
        "mixed/main.c::main",
        "calls",
        "mixed/main.c::run_engine",
    ) in triples


def test_single_slash_uri_root_keeps_full_relative_path(spark, tmp_path):
    """file:/x (single-slash, no authority) must anchor on the full path —
    an authority-strip applied to it ate the first path segment, so a root
    whose first segment repeats its basename (/data/data) prefixed every
    relative path with a spurious segment."""
    root = tmp_path / "data" / "data"
    (root / "sub").mkdir(parents=True)
    (root / "a.txt").write_text("alpha sort")
    (root / "sub" / "b.txt").write_text("beta merge")
    got = {
        r.path for r in corpus_from_files(spark, "file:" + str(root)).collect()
    }
    assert got == {"a.txt", "sub/b.txt"}


def test_uppercase_extensions_are_ingested(spark, tmp_path):
    """pathGlobFilter is case-sensitive while lang routing lowercases —
    NOTES.TXT / Main.PY must not be silently dropped (never-skip-a-page
    contract; mixed-case like .Txt still needs an explicit glob)."""
    root = tmp_path / "tree"
    root.mkdir()
    (root / "NOTES.TXT").write_text("the sort term")
    (root / "Main.PY").write_text("import os\n")
    (root / "ok.txt").write_text("plain")
    rows = {r.path: r.lang for r in corpus_from_files(spark, str(root)).collect()}
    assert set(rows) == {"NOTES.TXT", "Main.PY", "ok.txt"}
    assert rows["Main.PY"] == "python" and rows["NOTES.TXT"] == "text"


def test_config_and_shell_grammars_through_front_door(spark, tmp_path):
    """Config formats and shell route to their structure grammars in the
    default EXT_LANG and produce defines/has_method/imports triples through
    the full pipeline — they must not silently fall to the prose
    gazetteer."""
    root = tmp_path / "cfg"
    root.mkdir()
    (root / "app.json").write_text('{"server": {"host": "h", "port": 1}}')
    (root / "ci.yaml").write_text("jobs:\n  build: x\n")
    (root / "Cargo.toml").write_text('[package]\nname = "x"\n')
    (root / "run.sh").write_text("source lib/util.sh\nmain() {\n  ls\n}\n")
    corpus = corpus_from_files(spark, str(root))
    langs = {r.path: r.lang for r in corpus.select("path", "lang").collect()}
    assert langs == {
        "app.json": "json", "ci.yaml": "yaml",
        "Cargo.toml": "toml", "run.sh": "shell",
    }
    triples = set(_triples(corpus))
    assert ("cfg/app.json", "defines", "cfg/app.json::server") in triples
    assert ("cfg/app.json::server", "has_method", "cfg/app.json::host") in triples
    assert ("cfg/ci.yaml::jobs", "has_method", "cfg/ci.yaml::build") in triples
    assert ("cfg/Cargo.toml::package", "has_method", "cfg/Cargo.toml::name") in triples
    assert ("cfg/run.sh", "defines", "cfg/run.sh::main") in triples
    assert ("cfg/run.sh", "imports", "lib::util") in triples
