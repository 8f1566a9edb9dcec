"""The benchmark's traced layers must resolve in the engine.

``perfbench/layers.py`` wraps engine calls by name (its ``_TRACED``
list) and reports a layer whose owner or attribute is missing as an
absent metric, not an error. A rename in ``merlin_spark`` would so
silently blank a per-layer figure of every traced run; this test makes
it fail here instead. It only reads ``perfbench/``."""

from __future__ import annotations

import ast
import importlib
import os

LAYERS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "perfbench", "layers.py")


def _traced() -> list[tuple[str, str, str]]:
    """``_TRACED`` read from the source, without importing perfbench."""
    tree = ast.parse(open(LAYERS).read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "_TRACED" for t in node.targets):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/layers.py defines no _TRACED")


def test_every_traced_layer_resolves():
    traced = _traced()
    assert traced, "_TRACED is empty"
    for owner_path, attr, name in traced:
        mod, _, cls = owner_path.partition(":")
        owner = importlib.import_module(mod)
        if cls:
            assert hasattr(owner, cls), f"{name}: {mod} has no {cls}"
            owner = getattr(owner, cls)
        assert callable(getattr(owner, attr, None)), \
            f"{name}: {owner_path} has no callable {attr}"
