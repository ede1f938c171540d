"""Pins the production extraction path on real files, byte for byte.

Every file of the vendored real-file pool (``perfbench/corpus/
real_files.parquet``, 814 files in 15 languages, read-only here) goes
through what ``extract_document_rows`` runs per document:
``chunk_text_masked(content, lang, 1024)``, then ``extract_mentions`` on
each chunk's masked text.  Per language, one sha256 covers every file's
``(repo, path, [(chunk_id, masked_text, mentions)])`` in ``(repo, path)``
order, so any change to a chunk boundary, a mask byte or a mention (kind,
name, owner or order) changes that language's digest.  The grammar tests
pin hand-written shapes; this test pins what real files produce, so a
refactor that claims "same output" is checked on them.

A changed pool changes the digests for a reason unrelated to the kernel:
the test then skips.  To re-pin after a pool change, run
``python tests/test_extraction_real_files.py`` on the commit that
changed the pool and paste its output over POOL_SHA256 and DIGESTS.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
POOL = os.path.join(REPO, "perfbench", "corpus", "real_files.parquet")

POOL_SHA256 = "857522392e5e3487c98d2d494328e7786f8b386d117eee3015e778e97064b361"
DIGESTS = {
    "c": "b22fa57d2796b8b4fcacd3e7947878f64b48de73055436be4d7db80c190ada93",
    "docker": "be24985ec7277b901d67ea69c39fea3b428ec4cc2c0d983990c1648e8e1b4a71",
    "go": "936186bbcb0cc8085b13b7bbbacf2099f58dc1b34aeba0be935c6a5ba62db371",
    "java": "b3a559411f2f7f5dbd6fed2c25d7d33fa653d2ec488db8b5d233c0bba4ed95d6",
    "javascript": "41b4ca6cfe565941bada5e2b9409fbbb7b901a47b39c0dc67377edf68f8bfe84",
    "json": "ee4700bf2332a4a717837ae238e6553304c73e4370e84880001ac40de5e685d1",
    "make": "c65b9f23b4721f9c3a691690f28ea72ceeb25b1a1fe89729bd8041332116d038",
    "markdown": "78c90ca40e9b5a5bbb28de103b9efed02122551153173157fb08344207479fa6",
    "python": "33aa2c9ee54cd1a02bc9b52054b5ae1fa658622efe6e0ff806796939bc3bbf05",
    "ruby": "417ae60081b3ab9c1de8dcc73a7725a270dc2096d0f02e6f1f295cddd987d366",
    "rust": "9e3d27b4eb9cd5c0e3d8c93feb1774d2ba99ed8e3d75bda99b41cd98fb12932e",
    "shell": "4bc730c6f6dff06c7ef18c1b9123377c6a05722e0369b97da310702ab45ae949",
    "text": "c90a244711321d7cc22552aa0c73d3011fcd350e3d834a2aa5af3d6e07fea1d2",
    "toml": "a2e00950af006f40ee8ef6c8a7499ed854df7da9c492a7e6d8f4f6a1129a1cc5",
    "yaml": "a05fd3b504ba1abfea295b10d7bb913b4e54b773eecf7d054552e3576e2791d0",
}


def _file_sha256(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def language_digests() -> dict:
    """``{lang: sha256}`` of the production path over the pool."""
    import pyarrow.parquet as pq

    from scrapontologies_spark.functions.code_gazetteer import (
        chunk_text_masked,
        extract_mentions,
    )

    rows = pq.read_table(POOL, columns=["repo", "path", "lang", "content"]).to_pylist()
    rows.sort(key=lambda r: (r["repo"], r["path"]))
    hashes: dict = {}
    for r in rows:
        lang = r["lang"]
        chunks = [
            (cid, ext, [(m["kind"], m["name"], m["owner"])
                        for m in extract_mentions(lang, ext)])
            for cid, _orig, ext in chunk_text_masked(r["content"] or "", lang, 1024)
        ]
        record = json.dumps([r["repo"], r["path"], chunks], ensure_ascii=False)
        hashes.setdefault(lang, hashlib.sha256()).update(record.encode() + b"\n")
    return {lang: h.hexdigest() for lang, h in sorted(hashes.items())}


def test_production_path_matches_pinned_digests():
    pool_sha = _file_sha256(POOL)
    if pool_sha != POOL_SHA256:
        pytest.skip(
            f"real-file pool changed (sha256 {pool_sha}); re-pin with "
            "`python tests/test_extraction_real_files.py` on the commit "
            "that changed it"
        )
    got = language_digests()
    changed = sorted(lang for lang in DIGESTS.keys() | got.keys()
                     if DIGESTS.get(lang) != got.get(lang))
    assert not changed, f"extraction output changed for {changed}"


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    print(f'POOL_SHA256 = "{_file_sha256(POOL)}"')
    print("DIGESTS = {")
    for lang, digest in language_digests().items():
        print(f'    "{lang}": "{digest}",')
    print("}")
