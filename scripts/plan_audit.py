"""Physical-plan audit over every driver query: counts Exchange
(shuffle) nodes, Python evaluation nodes, and WholeStageCodegen spans
in each executed plan and writes PLANS_AUDIT.md. Run after adding a
query — a BatchEvalPython or an unexpected exchange jump is a
regression (the hard invariants are enforced in
tests/test_plan_hygiene.py; this file is the human-readable ledger).

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from renard_spark.session import get_spark  # noqa: E402

# Declared nested-loop joins: every one is a broadcast cross join
# against a constant-size side, not an accidental join-degeneration.
NLJ_ALLOWED = {
    "cosine_topk": "block-pair cross join of n_blocks^2 block STRUCTS "
    "(blocked-GEMM exact baseline; never row-level pairs)",
    "ann_recall": "inherits cosine_topk's blocked-GEMM block-struct "
    "cross join (the exact side of the recall harness)",
    "bm25_topk": "1-row corpus-stats broadcast cross join",
    "ivf_topk": "tiny codebook broadcast cross join (n_centroids rows)",
    "pq_topk": "IVF coarse-quantizer broadcast cross joins "
    "(n_centroids-row codebook; probes + cell assignment)",
    "semantic_dedup": "tiny codebook broadcast cross join (n_centroids rows)",
    "embedding_clusters": "tiny codebook broadcast cross join "
    "(n_centroids rows; IVF cell-population stats)",
    "mixture_sample": "1-row max-weight scalar broadcast cross join",
    "char_conductance": "1-row total-volume broadcast cross join "
    "(community-count-sized aggregate; cannot re-execute corpus lineage)",
    "event_gapfill": "1-row global [min,max] bucket-bound scalar "
    "broadcast cross join building the |keys|x|buckets| spine",
    "kg_ranks": "link-prediction protocol product: |test pairs| x "
    "|entity vocabulary| broadcast cross join — both factors are "
    "unified-vocabulary dimensions, never corpus rows",
    "kg_lp_metrics": "inherits kg_ranks' protocol product (the MRR/"
    "hits rollup of the same rank table)",
    "join_skew": "1-row corpus-total scalar broadcast cross join "
    "(share denominator)",
    "er_sweep": "1-row total-positives scalar broadcast cross join "
    "(threshold_sweep recall denominator)",
    "char_louvain": "1-row 2m weight-degree-sum scalar broadcast "
    "cross join per Louvain round (modularity-gain denominator)",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_audit")
    rows = []
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows.append(
            (
                name,
                len(re.findall(r"\bExchange\b", plan)),
                len(re.findall(r"(FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInPandas|ArrowEvalPython)", plan)),
                len(re.findall(r"BatchEvalPython", plan)),
                len(re.findall(r"BroadcastHashJoin", plan)),
                len(re.findall(r"BroadcastNestedLoopJoin", plan)),
            )
        )
    lines = [
        "# Physical-plan audit (driver queries, executedPlan node counts)",
        "",
        f"Generated by scripts/plan_audit.py at {sf_dir}. Invariants:",
        "BatchEvalPython (row-at-a-time Python) must be 0 everywhere;",
        "BroadcastNestedLoopJoin only where declared below (broadcast",
        "cross joins against constant-size sides); Arrow nodes only where",
        "an operator is genuinely per-document imperative.",
        "",
    ] + [
        f"- `{q}` NLJ allowed: {why}" for q, why in sorted(NLJ_ALLOWED.items())
    ] + [
        "",
        "| query | exchanges | arrow py | row py | bcast hash | bcast NLJ |",
        "|---|---|---|---|---|---|",
    ]
    bad = []
    for name, ex, arrow, rowpy, bh, nlj in rows:
        lines.append(
            f"| {name} | {ex} | {arrow} | {rowpy} | {bh} | {nlj} |"
        )
        if rowpy or (nlj and name not in NLJ_ALLOWED):
            bad.append(name)
    with open(os.path.join(REPO, "PLANS_AUDIT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    if bad:
        print(f"VIOLATIONS: {bad}", file=sys.stderr)
        sys.exit(1)
    print("plan audit clean")


if __name__ == "__main__":
    main()
