"""Every module-level import in ``fupi_spark/`` is used: a deletion that
leaves its import behind fails here, not in a later reader's head.
Parsed with stdlib ``ast``; a ``# noqa`` comment (bare, or naming F401)
on the import statement exempts it, as it would under flake8."""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fupi_spark")
_NOQA = re.compile(r"#\s*noqa(?::\s*(?P<codes>[A-Z0-9, ]+))?", re.I)


def _exempt(lines: list[str], node: ast.stmt) -> bool:
    for line in lines[node.lineno - 1 : node.end_lineno]:
        m = _NOQA.search(line)
        if m and (m["codes"] is None or "F401" in m["codes"].upper()):
            return True
    return False


def unused_imports(source: str) -> list[str]:
    """Names bound by module-level imports of ``source`` that nothing
    in it reads: no ``Name`` load, no string annotation naming them,
    no ``__all__`` entry."""
    tree = ast.parse(source)
    lines = source.splitlines()
    bound: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)) and not _exempt(lines, node):
            for a in node.names:
                if a.name != "*":
                    name = a.asname or (a.name if isinstance(node, ast.ImportFrom) else a.name.split(".")[0])
                    bound[name] = node.lineno
    strings = []  # string annotations ("Snapshot") and __all__ entries
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            used.add(node.id)
        elif isinstance(node, (ast.arg, ast.AnnAssign)):
            strings.append(node.annotation)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            strings.append(node.returns)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            strings.append(node.value)
    for node in filter(None, strings):
        for c in ast.walk(node):
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                used.update(re.findall(r"[A-Za-z_]\w*", c.value))
    return [f"{name} (line {line})" for name, line in sorted(bound.items()) if name not in used]


def test_checker_flags_an_unused_import_and_honours_noqa():
    src = "import os\nimport re  # noqa: F401\nimport sys  # noqa: E402\nimport json\njson.dumps\n"
    assert unused_imports(src) == ["os (line 1)", "sys (line 3)"]


@pytest.mark.parametrize("path", sorted(glob.glob(os.path.join(PKG, "*.py"))), ids=os.path.basename)
def test_no_unused_module_level_import(path):
    with open(path) as f:
        assert unused_imports(f.read()) == []
