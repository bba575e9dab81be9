"""DedupConfig hygiene: every field is a knob something reads."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

from lsh_spark.config import DedupConfig

PKG = pathlib.Path(__file__).resolve().parent.parent / "lsh_spark"


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
