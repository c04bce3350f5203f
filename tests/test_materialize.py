"""Every lineage cut in the engine goes through ``session.materialize``,
so ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` covers all of them."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CUTS = {"localCheckpoint", "checkpoint"}


def _cut_calls(tree: ast.Module) -> list[tuple[str | None, ast.Call]]:
    """(enclosing top-level function name, call) for every
    ``<expr>.localCheckpoint(...)`` / ``<expr>.checkpoint(...)``."""
    out = []
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _CUTS
            ):
                out.append((owner, node))
    return out


def test_every_lineage_cut_goes_through_materialize():
    """A direct ``localCheckpoint`` still runs, but silently ignores the
    reliable-checkpoint knob, so no result test would notice it."""
    pkg = os.path.join(REPO, "tinymapreduce_spark")
    stray, in_helper = [], set()
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, REPO)
        with open(path) as f:
            calls = _cut_calls(ast.parse(f.read()))
        for owner, call in calls:
            if rel == os.path.join("tinymapreduce_spark", "session.py") and owner == "materialize":
                in_helper.add(call.func.attr)
            else:
                stray.append(f"{rel}:{call.lineno} .{call.func.attr}(")
    assert not stray, "lineage cuts outside session.materialize:\n" + "\n".join(stray)
    assert in_helper == _CUTS  # the scan still finds the helper's own two cuts
