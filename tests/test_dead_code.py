"""Dead-code guard — cheap, no SparkSession.

Every top-level function and class in ``crawler_spark/`` must be named
somewhere in the program outside its own ``def``/``class`` line: in
``crawler_spark/``, ``scripts/``, ``perfbench/``, ``__spark_entry__.py``
or ``bench.py``. Code that only tests reach is flagged, so it cannot
creep back in.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _program_files() -> list[Path]:
    files = [
        f
        for d in ("crawler_spark", "scripts", "perfbench")
        for f in sorted((ROOT / d).rglob("*.py"))
    ]
    return files + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]


def test_every_package_definition_has_a_program_caller():
    lines = {f: f.read_text().splitlines() for f in _program_files()}
    unused = []
    for path in sorted((ROOT / "crawler_spark").rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            used = any(
                word.search(text)
                for f, file_lines in lines.items()
                for no, text in enumerate(file_lines, 1)
                if not (f == path and no == node.lineno)
            )
            if not used:
                unused.append(f"{path.relative_to(ROOT)}::{node.name}")
    assert not unused, f"defined but named by no program file: {unused}"
