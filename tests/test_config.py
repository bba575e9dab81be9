"""DedupConfig hygiene: every field is a knob something reads and some
caller outside the tests sets."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

from lsh_spark.config import DedupConfig

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "lsh_spark"


def test_every_config_field_has_a_reader():
    """A field no module reads is a dead knob: setting it changes nothing.
    Readers are attribute loads (``cfg.<field>``) in any lsh_spark module
    other than config.py itself."""
    read = set()
    for path in PKG.rglob("*.py"):
        if path.name == "config.py" and path.parent == PKG:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    fields = {f.name for f in dataclasses.fields(DedupConfig)}
    assert fields - read == set()


def test_every_config_field_has_a_setter():
    """A field no caller sets is a dead knob too: every run takes its
    default, so the code that handles other values is never exercised.
    Setters are keywords of ``DedupConfig(...)`` or ``.with_(...)`` calls
    in any module outside tests/ and config.py."""
    set_ = set()
    for path in REPO.rglob("*.py"):
        rel = path.relative_to(REPO)
        if (rel.parts[0] == "tests" or path == PKG / "config.py"
                or any(p.startswith(".") for p in rel.parts)):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name in ("DedupConfig", "with_"):
                set_.update(kw.arg for kw in node.keywords if kw.arg)
    fields = {f.name for f in dataclasses.fields(DedupConfig)}
    assert fields - set_ == set()
