"""No module defines the same top-level function or class name twice:
a second ``def`` silently rebinds the name, so every call after it
(including registration-time calls) gets the later body."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _duplicate_defs(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    names = Counter(
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    )
    return sorted(name for name, n in names.items() if n > 1)


def test_duplicate_guard_flags_a_rebound_name(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "def f():\n    pass\n\n"
        "class C:\n    def f(self):\n        pass\n\n"
        "def f():\n    pass\n"
    )
    assert _duplicate_defs(probe) == ["f"]


def test_no_module_level_name_is_defined_twice():
    files = [REPO / "__spark_entry__.py"]
    files += sorted((REPO / "graphragpart1datapipeline_spark").rglob("*.py"))
    offenders = {
        str(path.relative_to(REPO)): dups
        for path in files
        if (dups := _duplicate_defs(path))
    }
    assert not offenders, offenders
