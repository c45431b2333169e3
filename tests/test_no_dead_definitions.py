"""Dead-code guard: every top-level definition in ``sparkschema/`` must be
named somewhere else in the repo's Python files.

A ``def``, ``class`` or assignment at module level whose name appears in
no ``.py`` file except at its own definition is code nothing calls — it
gets deleted, not kept "just in case". Mentions are counted on the raw
text (code, strings and comments alike), so names reached through
``monkeypatch.setattr(mod, "NAME", ...)`` or a docstring cross-reference
count as used. Dunder names (``__all__`` …) are exempt. No Spark needed.
"""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "sparkschema")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(top):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames
                       if not d.startswith(".") and d != "__pycache__"]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _top_level_names(tree):
    """Names bound by module-level def/class/assignment statements
    (tuple targets included)."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id


def dead_definitions():
    mentions = Counter()
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as f:
            mentions.update(_IDENT.findall(f.read()))
    defined = {}
    for path in _py_files(PACKAGE):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, ROOT)
        for name in _top_level_names(tree):
            if not (name.startswith("__") and name.endswith("__")):
                defined.setdefault(name, []).append(rel)
    return sorted(f"{where}:{name}" for name, sites in defined.items()
                  if mentions[name] <= len(sites) for where in sites)


def test_every_top_level_definition_is_named_elsewhere():
    dead = dead_definitions()
    assert not dead, ("top-level definitions no .py file names apart from "
                      "their own definition: " + ", ".join(dead))
