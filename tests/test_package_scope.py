"""Every package module is reached from an entry point (pure ast, no Spark).

The walk follows module-level AND function-level imports, relative and
absolute, from the scripts that run the package. tests/ is not a root: a
module that only a test imports exercises nothing a workload runs.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "dq_true_north_spark"
ENTRY_POINTS = ("bench.py", "submit_pipeline.py", "perfbench/run.py")

# Unreached modules whose deletion is planned but not yet landed (ROADMAP D7:
# the media codecs retire 37 test ids, more than one change may retire, so the
# deletion is split). Exact match: a new unreached module fails, and so does
# deleting one of these without taking it off this list.
AWAITING_DELETION = ("textquality.multimodal",)


# sys.path of the entry scripts: the repo root, plus each script's own
# directory (perfbench/run.py imports its siblings by bare name)
SEARCH = sorted({ROOT} | {os.path.dirname(os.path.join(ROOT, e)) for e in ENTRY_POINTS})


def _resolve(name: str) -> str | None:
    """Dotted module name -> source file on SEARCH, or None (third party)."""
    rel = name.replace(".", os.sep)
    for base in SEARCH:
        for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
            if os.path.isfile(os.path.join(base, cand)):
                return os.path.join(base, cand)
    return None


def _imports(path: str) -> set[str]:
    """Dotted names a file imports, each with its parent packages and, for
    `from m import x`, the candidate submodule m.x."""
    pkg = os.path.relpath(path, ROOT)[:-3].split(os.sep)[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            found = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = pkg[:len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            found = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for name in found:
            parts = name.split(".")
            names.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return names


def test_every_package_module_is_reached_from_an_entry_point():
    todo = [os.path.join(ROOT, e) for e in ENTRY_POINTS]
    seen: set[str] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imports(path):
            hit = _resolve(name)
            if hit is not None:
                todo.append(hit)
    package = {
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(ROOT, PKG))
        for f in files if f.endswith(".py")
    }
    unreached = sorted(
        os.path.relpath(p, os.path.join(ROOT, PKG))[:-3].replace(os.sep, ".")
        for p in package - seen
    )
    assert unreached == sorted(AWAITING_DELETION), (
        f"package modules no entry point imports: {unreached}")
