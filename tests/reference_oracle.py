"""Load Scrapontologies' pure functions straight from /root/reference as the
test oracle.

The reference package is not importable in this container (its __init__ pulls
langchain/langgraph, which are absent), but the functions we pin parity
against — merge_dicts_preferring_non_na, _combine_entities_data,
_extract_json_content, _extract_python_content (pdf_parser.py:296-755) — are
pure Python with only stdlib deps.  We AST-extract their source from the
reference file at test time and exec them into an isolated namespace.  No
reference code is copied into this repository; the oracle executes the
reference's own bytes.

The oracle loads on first use, not at import.  Tests that need it are marked
``skipif(not REFERENCE_PDF_PARSER.is_file())``, so they skip where the
reference checkout is absent and run unchanged where it is present.  A present
reference that lacks one of the oracle functions still raises RuntimeError.
"""

from __future__ import annotations

import ast
import functools
import textwrap
import types
from pathlib import Path

REFERENCE_PDF_PARSER = Path("/root/reference/scrapontologies/parsers/pdf_parser.py")

_ORACLE_METHODS = (
    "merge_dicts_preferring_non_na",
    "_combine_entities_data",
    "_extract_json_content",
    "_extract_python_content",
)


@functools.lru_cache(maxsize=1)
def load_oracle() -> types.SimpleNamespace:
    src = REFERENCE_PDF_PARSER.read_text()
    tree = ast.parse(src)
    ns: dict = {}
    exec("import re, json, logging", ns)
    found = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name in _ORACLE_METHODS:
            func_src = textwrap.dedent(ast.get_source_segment(src, node))
            exec(func_src, ns)
            found[node.name] = ns[node.name]
    missing = set(_ORACLE_METHODS) - set(found)
    if missing:
        raise RuntimeError(f"reference oracle functions not found: {missing}")

    # The methods take ``self`` (and recurse / cross-call via self.<name>);
    # bind them to a stub object so calls like self.merge_dicts_preferring_non_na
    # resolve to the reference implementations.
    class _Stub:
        pass

    stub = _Stub()
    for name, fn in found.items():
        setattr(_Stub, name, fn)

    return types.SimpleNamespace(
        merge=lambda d1, d2: stub.merge_dicts_preferring_non_na(d1, d2),
        combine=lambda dicts: stub._combine_entities_data(dicts),
        extract_json=lambda s: stub._extract_json_content(s),
        extract_python=lambda s: stub._extract_python_content(s),
    )
