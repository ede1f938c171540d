#!/usr/bin/env python3
"""Per-language declaration-extraction P/R on the realistic fixture tree
(VERDICT r04 ask #7).

The fixture files under tests/fixtures_realworld/files/ are written the
way real projects are (decorators, receivers, abstract methods, modern
module syntax, comments/strings containing keywords); their declaration
inventory is hand-labeled in tests/fixtures_realworld/labels.py,
independent of the grammars.  This script routes each file through the
SAME ext→lang map the real-file front door uses and reports per-language
precision/recall over deduped (group, name) declarations plus owner
accuracy on the matched callables, twice:

- whole file: ``extract_mentions`` on the file's full text;
- production path: what ``extract_document_rows`` runs per document,
  ``chunk_text_masked(text, lang, 1024)`` then ``extract_mentions`` on
  each chunk's masked text.  A member whose class header lies in an
  earlier chunk loses its owner here.

Usage: python scripts/extraction_pr.py            # the two markdown tables
       python scripts/extraction_pr.py --details  # + per-file misses
"""
from __future__ import annotations

import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

GROUP = {"function": "callable", "method": "callable",
         "class": "type", "import": "import"}


def measure(chunk_bytes: "int | None" = None):
    """Per-language counts over the fixture tree: whole-file extraction
    when ``chunk_bytes`` is None, else the production path at that chunk
    size."""
    from fixtures_realworld.labels import LABELS, OWNERS
    from scrapontologies_spark.functions.code_gazetteer import (
        chunk_text_masked,
        extract_mentions,
    )
    from scrapontologies_spark.sources.files import EXT_LANG

    root = os.path.join(REPO, "tests", "fixtures_realworld", "files")
    per_lang = defaultdict(lambda: {"tp": 0, "fp": 0, "fn": 0,
                                    "own_ok": 0, "own_all": 0})
    details = []
    for rel, gold in sorted(LABELS.items()):
        path = os.path.join(root, rel)
        # basename's last dot-segment — for a dotless file that IS the
        # basename, routing Dockerfile/Makefile exactly like the engine
        ext = rel.rsplit("/", 1)[-1].rsplit(".", 1)[-1].lower()
        lang = EXT_LANG.get(ext, "text")
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        if chunk_bytes is None:
            mentions = extract_mentions(lang, text)
        else:
            mentions = [m for _cid, _orig, ext in
                        chunk_text_masked(text, lang, chunk_bytes)
                        for m in extract_mentions(lang, ext)]
        pred = {(GROUP[m["kind"]], m["name"])
                for m in mentions if m["kind"] in GROUP}
        owners = {m["name"]: m["owner"] for m in mentions
                  if GROUP.get(m["kind"]) == "callable"}
        s = per_lang[lang]
        s["tp"] += len(pred & gold)
        s["fp"] += len(pred - gold)
        s["fn"] += len(gold - pred)
        for name, want in OWNERS.get(rel, {}).items():
            if name in owners:
                s["own_all"] += 1
                s["own_ok"] += owners[name] == want
        if pred != gold:
            details.append((rel, sorted(gold - pred), sorted(pred - gold)))
    return per_lang, details


def report(title: str, chunk_bytes: "int | None") -> None:
    per_lang, details = measure(chunk_bytes)
    print(f"\n### {title}\n")
    print("| lang | gold | P | R | owner acc |")
    print("|---|---|---|---|---|")
    tot = {"tp": 0, "fp": 0, "fn": 0, "own_ok": 0, "own_all": 0}
    for lang in sorted(per_lang):
        s = per_lang[lang]
        for k in tot:
            tot[k] += s[k]
        p = s["tp"] / (s["tp"] + s["fp"]) if s["tp"] + s["fp"] else 1.0
        r = s["tp"] / (s["tp"] + s["fn"]) if s["tp"] + s["fn"] else 1.0
        own = (f"{s['own_ok']}/{s['own_all']}" if s["own_all"] else "—")
        print(f"| {lang} | {s['tp'] + s['fn']} | {p:.3f} | {r:.3f} | {own} |")
    p = tot["tp"] / (tot["tp"] + tot["fp"])
    r = tot["tp"] / (tot["tp"] + tot["fn"])
    print(f"| **all** | {tot['tp'] + tot['fn']} | **{p:.3f}** | **{r:.3f}** "
          f"| {tot['own_ok']}/{tot['own_all']} |")
    if "--details" in sys.argv[1:]:
        for rel, missed, extra in details:
            print(f"\n{rel}:")
            if missed:
                print("  missed:", missed)
            if extra:
                print("  extra: ", extra)


def main() -> int:
    report("whole file (extract_mentions)", None)
    report("production path (chunk_text_masked, chunk_bytes=1024)", 1024)
    return 0


if __name__ == "__main__":
    sys.exit(main())
