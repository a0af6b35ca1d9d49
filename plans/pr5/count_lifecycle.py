"""Count the code lines of the trained-block lifecycle in
``hadoop_ir_spark/operators/dedup_incremental.py``.

A code line is a line of a named top-level function or assignment that
is not blank, not a comment and not part of a docstring. ``before``
names the 17 functions of the lifecycle before the refactor; ``after``
names whichever of them remain plus the helpers and the table added for
them. Names missing from the file count zero.

Usage: python count_lifecycle.py <dedup_incremental.py> before|after
"""
import ast
import sys

BEFORE = (
    "_block_rows", "load_dedup_index", "update_dedup_index",
    "compact_dedup_index", "_ann_centroid_frame", "_assign_to_centroids",
    "train_ann_index", "_pq_codebook_frame", "_residual_frame",
    "_pq_encode_docs", "train_pq_index", "_sq_bounds_frame",
    "_sq_bound_arrays", "_sq_encode_docs", "train_sq_index",
    "maintain_dedup_index", "ann_health",
)
AFTER = BEFORE + ("_TRAINED", "_Block", "_artifact", "_train_block",
                  "_fold_fraction")


def _docstring_lines(node) -> set[int]:
    out = set()
    for n in ast.walk(node):
        body = getattr(n, "body", None)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef)) and body \
                and isinstance(body[0], ast.Expr) \
                and isinstance(body[0].value, ast.Constant) \
                and isinstance(body[0].value.value, str):
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def count(path: str, names) -> dict[str, int]:
    src = open(path).read()
    lines = src.splitlines()
    counts = {}
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            name = node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            tgt = node.targets[0] if isinstance(node, ast.Assign) \
                else node.target
            name = getattr(tgt, "id", None)
        else:
            continue
        if name not in names:
            continue
        first = min([node.lineno]
                    + [d.lineno for d in getattr(node, "decorator_list", [])])
        skip = _docstring_lines(node)
        counts[name] = sum(
            1 for i in range(first, node.end_lineno + 1)
            if i not in skip and lines[i - 1].strip()
            and not lines[i - 1].strip().startswith("#"))
    return counts


if __name__ == "__main__":
    path, which = sys.argv[1], sys.argv[2]
    names = {"before": BEFORE, "after": AFTER}[which]
    counts = count(path, names)
    for n in names:
        print(f"{counts.get(n, 0):5d}  {n}")
    print(f"{sum(counts.values()):5d}  total ({which})")
