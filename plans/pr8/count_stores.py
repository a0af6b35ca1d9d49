"""Count the catalog's memoized store code.

Usage: python plans/pr8/count_stores.py <repo>

Prints the span (first to last line, docstring included, from ``ast``)
of every store builder (a module-level function whose name ends in
``index_dir``) in queries/incremental_q.py and queries/indexed.py, of
the ANN base step ``_ann_store`` and of ``catalog.memo_store``, then
the total, the number of store builders, and the module-level store
cache dicts (``_..._CACHE`` / ``_STORES``) and temp roots
(``tempfile.mkdtemp``) of those files.
"""

from __future__ import annotations

import ast
import os
import sys

FILES = ("hadoop_ir_spark/queries/incremental_q.py",
         "hadoop_ir_spark/queries/indexed.py",
         "hadoop_ir_spark/catalog.py")
HELPERS = ("_ann_store", "memo_store")


def main(repo: str) -> None:
    total = builders = caches = roots = 0
    for rel in FILES:
        tree = ast.parse(open(os.path.join(repo, rel)).read())
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and (
                    node.name.endswith("index_dir") or node.name in HELPERS):
                n = node.end_lineno - node.lineno + 1
                total += n
                builders += node.name.endswith("index_dir")
                print(f"{rel}:{node.lineno} {node.name} {n}")
            target = (node.target if isinstance(node, ast.AnnAssign)
                      else node.targets[0] if isinstance(node, ast.Assign)
                      else None)
            if isinstance(target, ast.Name) and (
                    target.id.endswith("_CACHE") or target.id == "_STORES"):
                caches += 1
            roots += sum(isinstance(n, ast.Attribute) and n.attr == "mkdtemp"
                         for n in ast.walk(node))
    print(f"total {total} lines; {builders} store builders; "
          f"{caches} cache dicts; {roots} temp roots")


if __name__ == "__main__":
    main(sys.argv[1])
