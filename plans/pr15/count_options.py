"""Count the settable values of every public function of the dedup
modules: each parameter with a default and each keyword-only parameter
(counted once when it is both) of every top-level function whose name
does not start with an underscore.

Usage: python count_options.py [module.py ...]
With no arguments it reads ``hadoop_ir_spark/operators/dedup_incremental.py``
and ``hadoop_ir_spark/operators/dedup.py`` of the checkout it sits in.
"""
import ast
import os
import sys

REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
MODULES = ("hadoop_ir_spark/operators/dedup_incremental.py",
           "hadoop_ir_spark/operators/dedup.py")


def settable(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    positional = a.posonlyargs + a.args
    defaulted = positional[len(positional) - len(a.defaults):] \
        if a.defaults else []
    return [p.arg for p in defaulted + a.kwonlyargs]


def count(path: str) -> dict[str, list[str]]:
    tree = ast.parse(open(path).read())
    return {n.name: settable(n) for n in tree.body
            if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")}


if __name__ == "__main__":
    paths = sys.argv[1:] or [os.path.join(REPO, m) for m in MODULES]
    total = 0
    for path in paths:
        per_fn = count(path)
        n = sum(len(v) for v in per_fn.values())
        total += n
        print(f"# {os.path.basename(path)}")
        for name, params in per_fn.items():
            print(f"{len(params):4d}  {name}({', '.join(params)})")
        print(f"{n:4d}  module total ({len(per_fn)} public functions)")
    print(f"{total:4d}  total")
