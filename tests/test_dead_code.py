"""No unreferenced top-level functions or classes in the package.

Walks every package module's top-level ``def``/``class`` names and
fails when a name appears nowhere but its own definition across the
package, ``tests/``, ``scripts/``, ``perfbench/``, ``bench*.py`` and
``__spark_entry__.py``. Any mention counts — a call, an import, a
registry entry or a docstring cross-reference. No Spark session.
"""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "cityofphiladelphia_databridge_etl_tools_spark")


def _py_files(d):
    for dirpath, _dirs, files in os.walk(d):
        yield from (os.path.join(dirpath, f) for f in files if f.endswith(".py"))


def test_no_unreferenced_top_level_definitions():
    scanned = [
        *_py_files(PKG),
        *(f for d in ("tests", "scripts", "perfbench") for f in _py_files(os.path.join(ROOT, d))),
        *(
            os.path.join(ROOT, f) for f in os.listdir(ROOT)
            if f == "__spark_entry__.py" or (f.startswith("bench") and f.endswith(".py"))
        ),
    ]
    mentions = Counter()
    for path in scanned:
        with open(path) as f:
            mentions.update(re.findall(r"[A-Za-z_]\w*", f.read()))
    unreferenced = []
    for path in _py_files(PKG):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if mentions[node.name] <= 1:
                    unreferenced.append(f"{os.path.relpath(path, PKG)}:{node.name}")
    assert unreferenced == [], unreferenced
