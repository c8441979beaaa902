"""Dead-code guard: every module-level function and class of the package
must be referenced somewhere in the repository's Python files. A reference
is resolved through the AST, not matched as a word: an attribute access
with the definition's name (``mod.name``) anywhere, a ``from ... import``
of it anywhere, or a load of the bare name inside its own module. A name
that appears only in a string or docstring, or only as a same-named
definition in another module, does not count."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]


def unreferenced_definitions(root: pathlib.Path, package: str = "dygiepp_spark") -> list[str]:
    """``path:name`` of each module-level def or class under ``root/package``
    that no Python file under ``root`` references."""
    trees = {
        p: ast.parse(p.read_text())
        for p in root.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(root).parts)
    }
    attrs: set[str] = set()
    imported: set[str] = set()
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                attrs.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                imported.update(a.name for a in node.names)
    found = []
    for p, tree in sorted(trees.items()):
        if p.relative_to(root).parts[0] != package:
            continue
        loads = {
            n.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and node.name not in attrs | imported | loads
            ):
                found.append(f"{p.relative_to(root)}:{node.name}")
    return found


def test_every_module_level_definition_is_referenced():
    unreferenced = unreferenced_definitions(ROOT)
    assert not unreferenced, "defined but never referenced:\n" + "\n".join(unreferenced)


def test_guard_resolves_names_not_words(tmp_path):
    pkg = tmp_path / "dygiepp_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text(
        '"""Mentions only_in_docstring."""\n'
        "def only_in_docstring():\n    pass\n\n\n"
        "def only_in_string():\n    pass\n\n\n"
        "def shadowed():\n    pass\n\n\n"
        "def called_as_attribute():\n    pass\n"
    )
    (pkg / "b.py").write_text(
        "from dygiepp_spark import a\n\n"
        'NAME = "only_in_string"\n\n\n'
        "def shadowed():\n    return a.called_as_attribute()\n"
    )
    assert unreferenced_definitions(tmp_path) == [
        "dygiepp_spark/a.py:only_in_docstring",
        "dygiepp_spark/a.py:only_in_string",
        "dygiepp_spark/a.py:shadowed",
        "dygiepp_spark/b.py:shadowed",
    ]
