"""Every module of the package imports.

A module no other test reaches can still hold an import of a name that a
deletion removed; this walks the whole package so such a dangling import
fails here instead of at its first caller.
"""

from __future__ import annotations

import importlib
import pkgutil

import scrapontologies_spark


def test_every_package_module_imports():
    names = sorted(
        m.name
        for m in pkgutil.walk_packages(
            scrapontologies_spark.__path__, prefix="scrapontologies_spark."
        )
    )
    assert "scrapontologies_spark.streaming.incremental" in names
    failed = {}
    for name in names:
        try:
            importlib.import_module(name)
        except Exception as e:  # report every broken module, not the first
            failed[name] = f"{type(e).__name__}: {e}"
    assert not failed, failed
