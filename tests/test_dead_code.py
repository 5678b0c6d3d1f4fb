"""Dead-code guard — cheap, no SparkSession.

Every top-level function and class in ``crawler_spark/``, and every method
(dunders aside) of those classes, must be referenced as code somewhere in
the program: as a name (``ast.Name``) or an attribute (``ast.Attribute``)
in ``crawler_spark/``, ``scripts/``, ``perfbench/``, ``__spark_entry__.py``
or ``bench.py``. A mention in a docstring or a comment does not count, nor
does an import or a package ``__init__`` re-export: code that only tests
reach is flagged, so it cannot creep back in. A method that overrides one
of a base class outside the package (``HTMLParser.handle_starttag``) is
called by that base class, so it is exempt.
"""

import ast
import importlib
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


def _overrides_external_method(path: Path, cls_name: str, method: str) -> bool:
    parts = path.relative_to(ROOT).with_suffix("").parts
    module = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
    cls = getattr(importlib.import_module(module), cls_name)
    return any(
        method in vars(base)
        for base in cls.__mro__[1:]
        if not base.__module__.startswith("crawler_spark")
    )


def _unreferenced(path: Path, referenced: set[str]) -> list[str]:
    defs = (ast.FunctionDef, ast.AsyncFunctionDef)
    out = []
    for node in ast.parse(path.read_text()).body:
        if not isinstance(node, (*defs, ast.ClassDef)):
            continue
        if node.name not in referenced:
            out.append(node.name)
        if not isinstance(node, ast.ClassDef):
            continue
        out += [
            f"{node.name}.{m.name}"
            for m in node.body
            if isinstance(m, defs)
            and not (m.name.startswith("__") and m.name.endswith("__"))
            and m.name not in referenced
            and not _overrides_external_method(path, node.name, m.name)
        ]
    return out


def test_every_package_definition_has_a_program_caller():
    referenced = _referenced_names()
    unused = [
        f"{path.relative_to(ROOT)}::{name}"
        for path in sorted((ROOT / "crawler_spark").rglob("*.py"))
        for name in _unreferenced(path, referenced)
    ]
    assert not unused, f"defined but referenced by no program code: {unused}"
