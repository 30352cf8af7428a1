"""Guard against dead library code: every top-level function and class in
``xcube_geodb_spark/`` must be referenced somewhere outside its own
definition. A static scan (AST for the definitions, whole-word text match
for the references) — it starts no Spark session."""

import ast
import os
import re
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "xcube_geodb_spark"
# where a reference may live; ``__all__`` strings and docstrings count,
# since a whole-word match sees them like any other mention
SCANNED = [LIBRARY, "tools", "bench.py", "perfbench", "examples", "tests"]
_WORD = re.compile(r"\w+")


def _py_files(root: str):
    path = os.path.join(REPO, root)
    if os.path.isfile(path):
        yield path
        return
    for dirpath, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _sources() -> dict[str, list[str]]:
    out = {}
    for root in SCANNED:
        for path in _py_files(root):
            with open(path, encoding="utf-8") as fh:
                out[path] = fh.read().splitlines()
    return out


def _unreferenced() -> list[str]:
    sources = _sources()
    # a whole-word match is a \w+ token equal to the name, so one token
    # count over every scanned file answers each lookup
    total: Counter = Counter()
    for lines in sources.values():
        total.update(_WORD.findall("\n".join(lines)))
    lib = os.path.join(REPO, LIBRARY) + os.sep
    dead = []
    for path, lines in sources.items():
        if not path.startswith(lib):
            continue
        tree = ast.parse("\n".join(lines), filename=path)
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            own = _WORD.findall("\n".join(lines[start - 1 : node.end_lineno]))
            if total[node.name] == own.count(node.name):
                rel = os.path.relpath(path, REPO)
                dead.append(f"{rel}:{node.lineno} {node.name}")
    return dead


def test_every_library_definition_is_referenced():
    dead = _unreferenced()
    assert not dead, "unreferenced library definitions:\n" + "\n".join(dead)
