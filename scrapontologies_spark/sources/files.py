"""Real-file corpus ingestion — the reference's actual entry point.

``FileExtractor(file_path, parser)`` (extractor.py:78-90) is constructed on
a PATH and the parser reads the file from disk; this module is that
ingestion surface for a directory tree of source files, producing the
engine's corpus shape ``(repo, path, commit, lang, content)``
(BASELINE input_hint) as a DataFrame every downstream operator accepts.

Scale shape: Spark's ``binaryFile`` source lists and reads files inside
executors (a distributed scan with its own partitioning over file splits),
so a 10^8-file tree never materializes driver-side; the UTF-8 decode and
all column derivations are JVM expressions.  ``max_bytes`` fences the
corpus against stray blobs: a single multi-GB artifact would otherwise
dominate one task's memory (binaryFile reads whole files — correct for
documents, wrong for archives).
"""

from __future__ import annotations

import os
import re
from typing import Mapping, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# extension → gazetteer language id.  REAL grammars exist for python /
# javascript / go / java / rust / ruby / c (functions/code_gazetteer.py —
# the C grammar also covers C++), plus structure grammars for json / yaml /
# toml (sections and keys → class/method containment entities) and shell
# (functions + sourced files).  Unknown extensions fall to the "text"
# prose gazetteer so no file is dropped (the reference's parser never
# skips a page); markdown ingests but yields no mentions by design (the
# gazetteer's no-match path).
EXT_LANG = {
    # real grammars
    "py": "python",
    "js": "javascript",
    "jsx": "javascript",
    "mjs": "javascript",
    "cjs": "javascript",
    "ts": "javascript",   # the JS grammar covers TS shapes (interface/type/
    #                       enum as class-kind, export-prefixed decls, arrows)
    "tsx": "javascript",
    "go": "go",
    "java": "java",
    "rs": "rust",
    "rb": "ruby",
    "c": "c",
    "h": "c",
    "cc": "c",
    "cpp": "c",
    "hpp": "c",
    # structure grammars (config formats + shell)
    "sh": "shell",
    "bash": "shell",
    "json": "json",
    "yaml": "yaml",
    "yml": "yaml",
    "toml": "toml",
    # prose fallback
    "md": "markdown",
    "markdown": "markdown",
    "rst": "markdown",
    "txt": "text",
    # extension-less build files route by LOWERCASED BASENAME: the lang
    # expression takes the basename's last dot-segment, which for a
    # dotless file IS the whole basename — so `Dockerfile` hits the
    # "dockerfile" key exactly like `app.dockerfile` does (wave 9)
    "dockerfile": "docker",
    "makefile": "make",
    "gnumakefile": "make",
    "mk": "make",
}
# dotless basenames the default glob must admit (pathGlobFilter would
# otherwise exclude them before routing ever sees them)
_BASENAME_FILES = ("Dockerfile", "dockerfile", "Makefile", "makefile",
                   "GNUmakefile")


def _default_glob(ext_lang: Mapping[str, str]) -> str:
    """Both case variants per extension (NOTES.TXT, Main.JAVA — common in
    Windows/legacy-originated trees): pathGlobFilter is case-sensitive
    while lang routing lowercases, and a dropped file contradicts the
    never-skip-a-page contract.  Mixed-case extensions (.Txt) still need
    an explicit ``path_glob``."""
    exts = sorted({e for x in ext_lang for e in (x.lower(), x.upper())})
    # flat alternation (no nested braces — not all Hadoop glob versions
    # nest them): every extension both-cased, plus the dotless basenames
    parts = ["*." + e for e in exts] + list(_BASENAME_FILES)
    return "{" + ",".join(parts) + "}"


def corpus_from_files(
    spark: SparkSession,
    root_dir: str,
    repo: Optional[str] = None,
    commit: str = "HEAD",
    path_glob: Optional[str] = None,
    max_bytes: int = 10 * 1024 * 1024,
    ext_lang: Optional[Mapping[str, str]] = None,
) -> DataFrame:
    """Directory tree → corpus DataFrame (repo, path, commit, lang, content).

    - ``repo``: fixed repo id for every row; defaults to the tree's last
      path segment (the reference treats one FileExtractor = one source).
    - ``commit``: caller-provided revision label (no VCS probing — the
      engine is hermetic; pass the real SHA when the tree is a checkout).
    - ``path_glob``: binaryFile ``pathGlobFilter``; defaults to the
      extensions of ``ext_lang``.
    - ``max_bytes``: files larger than this are EXCLUDED by the scan's
      length column (pushed before content reaches memory).
    - ``ext_lang``: extension → gazetteer language map; defaults to
      ``EXT_LANG``.  Values must be gazetteer ids ("python" / "javascript"
      / "go" / "java" / "rust" / "ruby" / "c" have code grammars; "json" /
      "yaml" / "toml" / "shell" have structure grammars; anything else
      behaves as prose).

    Paths are made relative to ``root_dir`` by stripping the resolved
    absolute root as a prefix (anchored — a subdirectory that repeats the
    root's name cannot corrupt the relative path).  Content is decoded as
    UTF-8 with invalid byte sequences replaced by U+FFFD
    (``make_valid_utf8``, ANSI-safe — the deterministic analog of the
    reference's text extraction never failing a page).

    Hidden files are not scanned: Spark's file index skips every file or
    directory whose basename starts with ``_`` or ``.`` (e.g.
    ``__init__.py``, ``.eslintrc.json``), and Spark 4.1 has no setting to
    keep them.  Ingest such files through another reader if they matter.
    """
    langs = dict(ext_lang) if ext_lang is not None else EXT_LANG
    root = root_dir.rstrip("/")
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", path_glob or _default_glob(langs))
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    repo_col = F.lit(repo if repo is not None else root.rsplit("/", 1)[-1])
    # relative path: binaryFile yields URIs (file:/..., file:///..., s3a://
    # bucket/...) whose exact scheme spelling Hadoop chooses.  Anchor on the
    # driver-resolved ABSOLUTE root path and strip everything through its
    # FIRST occurrence (non-greedy ^.*?): scheme-agnostic, and a nested
    # directory that repeats the root's basename (pkg/sub/pkg/a.txt) keeps
    # its true relative path — substring_index on the basename took the
    # LAST occurrence and collapsed distinct files onto one identity.
    uri = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):(//[^/]*)?(/.*)?$", root)
    if uri:
        # caller passed a URI (file:/x, file:///x, hdfs://nn/x, s3a://b/x):
        # the anchor is the PATH part only.  An authority exists ONLY in
        # the double-slash form — a single-slash URI (file:/data/data) has
        # none, and an authority-stripping regex applied to it would eat
        # the first path segment, anchoring one level too deep and
        # prefixing every relative path (hence module id / triple subject /
        # dedup identity) with a spurious segment.
        abs_root = uri.group(3) or root
    else:
        abs_root = os.path.abspath(root)
    rel = F.regexp_replace(F.col("path"), "^.*?" + re.escape(abs_root + "/"), "")
    # basename first, then its last dot-segment: for a dotless file
    # (Dockerfile, Makefile) that IS the basename, which routes via the
    # lowercased-basename keys of EXT_LANG; dotted files are unchanged
    ext = F.lower(
        F.substring_index(F.substring_index(F.col("path"), "/", -1), ".", -1)
    )
    lang_map = F.create_map(*[F.lit(x) for kv in langs.items() for x in kv])
    return (
        raw.filter(F.col("length") <= max_bytes)
        .select(
            repo_col.alias("repo"),
            rel.alias("path"),
            F.lit(commit).alias("commit"),
            F.coalesce(lang_map[ext], F.lit("text")).alias("lang"),
            # cast(binary AS string) is non-validating (never throws, even
            # under ANSI — F.decode does, MALFORMED_CHARACTER_CODING);
            # make_valid_utf8 then rewrites invalid sequences to U+FFFD so
            # every downstream byte-length / hash sees one canonical form
            F.make_valid_utf8(F.col("content").cast("string")).alias("content"),
        )
    )
