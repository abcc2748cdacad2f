"""Leftover-import gate: every name a module imports must be read.

Spark-free AST scan of the package, ``tools/``, ``tests/``, ``bench.py``
and ``__spark_entry__.py``.  A name counts as read when it appears as
an ``ast.Name`` anywhere in the module (an attribute chain such as
``np.asarray`` reads ``np``) or is listed in ``__all__``.  ``__future__``
imports and package ``__init__.py`` files (whose imports re-export)
are exempt.  ``perfbench/`` is not scanned: it is the benchmark's own
tree and changes only with the benchmark.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED_DIRS = ("deepseek_ocr_2_spark", "tools", "tests")
SCANNED_FILES = ("bench.py", "__spark_entry__.py")


def _scanned_paths() -> list:
    paths = [os.path.join(ROOT, f) for f in SCANNED_FILES]
    for d in SCANNED_DIRS:
        for root, dirs, files in os.walk(os.path.join(ROOT, d)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            paths += [
                os.path.join(root, f)
                for f in sorted(files)
                if f.endswith(".py") and f != "__init__.py"
            ]
    return paths


def _imported(tree: ast.AST) -> list:
    """(line, bound name) for every import in the module."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out.append((node.lineno, a.asname or a.name.split(".")[0]))
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    out.append((node.lineno, a.asname or a.name))
    return out


def _read(tree: ast.AST) -> set:
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and any(
                isinstance(t, ast.Name) and t.id == "__all__"
                for t in node.targets
            )
            and isinstance(node.value, (ast.List, ast.Tuple))
        ):
            names |= {
                e.value for e in node.value.elts
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            }
    return names


def unused_imports(path: str) -> list:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    read = _read(tree)
    rel = os.path.relpath(path, ROOT)
    return [
        f"{rel}:{line}: {name}"
        for line, name in _imported(tree)
        if name not in read
    ]


def test_scan_covers_the_tree():
    paths = _scanned_paths()
    rels = {os.path.relpath(p, ROOT) for p in paths}
    assert "bench.py" in rels and "__spark_entry__.py" in rels
    assert os.path.join("tests", "test_imports_used.py") in rels
    assert not any(r.startswith("perfbench") for r in rels)
    assert not any(os.path.basename(r) == "__init__.py" for r in rels)


def test_scan_flags_an_unused_import(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "from __future__ import annotations\n"
        "import os\n"
        "import numpy as np\n"
        "from json import dumps, loads\n"
        "__all__ = ['loads']\n"
        "print(np.zeros(1))\n"
    )
    found = unused_imports(str(src))
    assert [x.rsplit(":", 2)[1:] for x in found] == [
        ["2", " os"], ["4", " dumps"]
    ]


def test_every_imported_name_is_read():
    unused = [u for p in _scanned_paths() for u in unused_imports(p)]
    assert not unused, "imported but never read:\n" + "\n".join(unused)
