"""Dead-code guard — cheap, no SparkSession.

Every top-level function and class in ``crawler_spark/`` must be referenced
as code somewhere in the program: as a name (``ast.Name``) or an attribute
(``ast.Attribute``) in ``crawler_spark/``, ``scripts/``, ``perfbench/``,
``__spark_entry__.py`` or ``bench.py``. A mention in a docstring or a
comment does not count, nor does an import or a package ``__init__``
re-export: code that only tests reach is flagged, so it cannot creep back
in.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _program_files() -> list[Path]:
    files = [
        f
        for d in ("crawler_spark", "scripts", "perfbench")
        for f in sorted((ROOT / d).rglob("*.py"))
    ]
    return files + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]


def _referenced_names() -> set[str]:
    names = set()
    for f in _program_files():
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
    return names


def test_every_package_definition_has_a_program_caller():
    referenced = _referenced_names()
    unused = [
        f"{path.relative_to(ROOT)}::{node.name}"
        for path in sorted((ROOT / "crawler_spark").rglob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.name not in referenced
    ]
    assert not unused, f"defined but referenced by no program code: {unused}"
