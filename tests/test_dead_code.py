"""Dead-code guard: every top-level def/class of the package is referenced
somewhere in the repo's Python files besides its own definition."""

import ast
import collections
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py_files():
    for d, subdirs, files in os.walk(ROOT):
        subdirs[:] = [s for s in subdirs if not s.startswith(".")
                      and os.path.relpath(os.path.join(d, s), ROOT) != "plans"]
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def test_no_unreferenced_top_level_defs():
    words, defs = collections.Counter(), []
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            src = f.read()
        words.update(re.findall(r"\w+", src))
        if os.path.relpath(path, ROOT).startswith("bella_domify_spark" + os.sep):
            defs += [(os.path.relpath(path, ROOT), node.name)
                     for node in ast.parse(src).body
                     if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                          ast.ClassDef))]
    assert [d for d in defs if words[d[1]] <= 1] == []
