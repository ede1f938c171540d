"""Per-language extraction P/R on realistic code (VERDICT r04 ask #7).

The measurement itself lives in scripts/extraction_pr.py (it prints the
BENCH_SCALING.md table); this test pins the thresholds so an envelope
regression on any language fails the suite, not just the next manual
measurement run.  Labels are hand-written (tests/fixtures_realworld/
labels.py) independent of the grammars; every language measures
P = R = 1.0 on this tree (211 labeled declarations), with owner
attribution 70/70 whole-file.

The production path (``chunk_text_masked`` at 1024 bytes, then
``extract_mentions`` per chunk) is held to the same P/R floors.  Its
owner attribution is reported by the script, not asserted: it reads
69/70, because ``native/shapes.h``'s ``~ShapeBuffer`` lands in a later
chunk than its class header and is extracted ownerless.
"""

from __future__ import annotations

import importlib.util
import os

_SPEC = importlib.util.spec_from_file_location(
    "extraction_pr",
    os.path.join(os.path.dirname(__file__), "..", "scripts", "extraction_pr.py"),
)
extraction_pr = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(extraction_pr)

# per-lang recall floors: 1.0 at HEAD; the VERDICT contract line is
# javascript >= 0.9 — keep every other language at its measured value so
# any slip is visible
FLOORS = {
    "python": 1.0, "javascript": 1.0, "go": 1.0, "java": 1.0,
    "rust": 1.0, "ruby": 1.0, "c": 1.0, "json": 1.0, "yaml": 1.0,
    "toml": 1.0, "shell": 1.0,
}


def _below_floor(per_lang):
    problems = []
    for lang, floor in FLOORS.items():
        s = per_lang[lang]
        p = s["tp"] / (s["tp"] + s["fp"]) if s["tp"] + s["fp"] else 1.0
        r = s["tp"] / (s["tp"] + s["fn"]) if s["tp"] + s["fn"] else 1.0
        if p < floor or r < floor:
            problems.append((lang, p, r))
    return problems


def test_per_language_precision_recall():
    per_lang, details = extraction_pr.measure()
    assert set(FLOORS) <= set(per_lang)
    problems = _below_floor(per_lang)
    assert not problems, (problems, details)


def test_production_path_precision_recall():
    per_lang, details = extraction_pr.measure(chunk_bytes=1024)
    assert set(FLOORS) <= set(per_lang)
    problems = _below_floor(per_lang)
    assert not problems, (problems, details)


def test_owner_attribution_exact():
    per_lang, _ = extraction_pr.measure()
    ok = sum(s["own_ok"] for s in per_lang.values())
    graded = sum(s["own_all"] for s in per_lang.values())
    assert graded >= 20
    assert ok == graded
