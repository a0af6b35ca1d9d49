"""Count the code lines of ``hadoop_ir_spark/operators/dedup_incremental.py``
with the counter of ``plans/pr5/count_lifecycle.py`` (imported, not
copied): every top-level def, class and assignment, and apart from that
the store writers and the store view.

A code line is not blank, not a comment and not part of a docstring.
``WRITE_VIEW`` names the nine writer and view functions before this
change plus the helpers it added; names missing from the file count zero.

Usage: python count_store.py <dedup_incremental.py>
"""
import ast
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "pr5"))
from count_lifecycle import count  # noqa: E402

WRITE_VIEW = (
    "_SnapAttempt", "_write_snap_table", "_clear_snap_dirs",
    "build_dedup_index", "update_dedup_index", "compact_dedup_index",
    "_train_block", "build_cc_labels", "load_dedup_index",
    "_store_view", "_cc_view",
)


def top_level_names(path: str) -> list[str]:
    names = []
    for node in ast.parse(open(path).read()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            tgt = node.targets[0] if isinstance(node, ast.Assign) \
                else node.target
            if getattr(tgt, "id", None):
                names.append(tgt.id)
    return names


if __name__ == "__main__":
    path = sys.argv[1]
    counts = count(path, set(top_level_names(path)))
    for n in WRITE_VIEW:
        print(f"{counts.get(n, 0):5d}  {n}")
    print(f"{sum(counts.get(n, 0) for n in WRITE_VIEW):5d}  writers + view")
    print(f"{sum(counts.values()):5d}  module total")
