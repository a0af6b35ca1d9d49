"""Count the code lines of the cc-label block in
``hadoop_ir_spark/operators/dedup_incremental.py`` with the counter of
``plans/pr5/count_lifecycle.py`` (imported, not copied).

``before`` names the eight cc functions plus ``compact_dedup_index``;
``after`` adds the cc helpers this change introduced. Names missing from
the file count zero.

Usage: python count_cc.py <dedup_incremental.py> before|after
"""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "pr5"))
from count_lifecycle import count  # noqa: E402

BEFORE = (
    "_cc_verified", "_cc_alias_map", "_cc_apply_aliases", "build_cc_labels",
    "_cc_fold_frames", "cc_labels_frame", "cc_health", "cc_split_report",
    "compact_dedup_index",
)
AFTER = BEFORE + ("_cc_alias_log", "_cc_pair_tables", "_cc_edges",
                  "_cc_split_counts", "_cc_touched", "_cc_dead_names")

if __name__ == "__main__":
    path, which = sys.argv[1], sys.argv[2]
    names = {"before": BEFORE, "after": AFTER}[which]
    counts = count(path, names)
    for n in names:
        print(f"{counts.get(n, 0):5d}  {n}")
    print(f"{sum(counts.values()):5d}  total ({which})")
