"""Dead-code guard: every module-level function and class of the package
must be named somewhere in the repository's Python files besides its own
definition (a word match, so a name used only in a string or docstring
elsewhere still counts)."""

import ast
import collections
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_every_module_level_definition_is_referenced():
    sources = {
        p: p.read_text()
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    }
    words = collections.Counter()
    for text in sources.values():
        words.update(re.findall(r"\w+", text))
    unreferenced = [
        f"{p.relative_to(ROOT)}:{node.name}"
        for p, text in sorted(sources.items())
        if p.relative_to(ROOT).parts[0] == "dygiepp_spark"
        for node in ast.parse(text).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and words[node.name] == 1
    ]
    assert not unreferenced, "defined but never referenced:\n" + "\n".join(unreferenced)
