"""The benchmark may use only the program's public surface.

A name that starts with ``_`` (``_GRAPH_CACHE``, ``_COPURCHASE_CACHE``,
``_cap_examples``, pyspark's ``_jsc`` ...) can be renamed or removed by any
change to the program, and a change that claims a speed-up may not edit
the benchmark. So no file of the benchmark imports such a name, reads
such an attribute of anything but its own ``self``, or asks ``getattr``
for one. Dunder names are fine.
``run.py`` refuses to run when this check finds anything.
"""

from __future__ import annotations

import ast
import os


def _private(name: str) -> bool:
    return name.startswith("_") and not (name.startswith("__") and name.endswith("__"))


def violations(bench_dir: str) -> list[str]:
    found = []
    for fname in sorted(os.listdir(bench_dir)):
        if not fname.endswith(".py"):
            continue
        path = os.path.join(bench_dir, fname)
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        for node in ast.walk(tree):
            where = f"{fname}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.ImportFrom):
                parts = (node.module or "").split(".")
                names = [a.name for a in node.names]
                if node.level == 0 and any(map(_private, parts + names)):
                    found.append(f"{where} imports a private name from {node.module}")
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if any(map(_private, alias.name.split("."))):
                        found.append(f"{where} imports private module {alias.name}")
            elif (isinstance(node, ast.Attribute) and _private(node.attr)
                  and not (isinstance(node.value, ast.Name)
                           and node.value.id in ("self", "cls"))):
                found.append(f"{where} reads private attribute .{node.attr}")
            elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                  and node.func.id in ("getattr", "hasattr", "setattr")
                  and len(node.args) > 1
                  and isinstance(node.args[1], ast.Constant)
                  and isinstance(node.args[1].value, str)
                  and _private(node.args[1].value)):
                found.append(f"{where} {node.func.id}() of private name "
                             f"{node.args[1].value}")
    return found
