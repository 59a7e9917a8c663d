"""Physical-plan audit: executes the headline queries and records the
scale-relevant properties of each final (AQE-resolved) plan —
join strategies, whole-stage-codegen coverage, Python-eval nodes,
exchange count, scan pushdown — into PLANS.md.

    python scripts/plan_audit.py [sf_dir]

The point is reviewability: the claims in BENCH/BASELINE.md
("broadcast the small side", "no per-row Python in entity plans",
"filters reach the scan") are re-derived from the live plans on every
run of this script, not asserted once.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "q_pricing_summary",
    "q_top_orders",
    "q_region_volume",
    "q_sessionize",
    "q_asof_join",
    "q_minhash_lsh_pairs",
    "q_decontaminate",
    "q_curation_funnel",
    "q_repetition_full",
    "q_line_dedup",
    "q_source_caps",
    "q_ann_bruteforce",
    "q_token_shards",
    "q_gopher_rules",
    "q_sequence_pack",
    "q_semantic_decontam",
    "q_url_dedup",
    "q_dup_span_removal",
    "q_ann_ivf_recall",
    "q_corpus_report",
    "q_temperature_mixture",
    "q_url_filter",
]


def audit(plan: str) -> dict:
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        # shuffle exchanges only — bare 'Exchange' would also count
        # BroadcastExchange/ReusedExchange nodes
        "shuffles": len(re.findall(r"Exchange (hash|range|Single)", plan)),
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
        # BatchEvalPython = row-at-a-time Python (the slow path, must be
        # 0); ArrowEvalPython/MapInPandas = Arrow-vectorized kernels
        "python_eval": plan.count("BatchEvalPython"),
        "arrow_kernels": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        # scans whose parquet reader received pushed-down predicates
        "pushed_scans": plan.count("PushedFilters: [")
        - plan.count("PushedFilters: []"),
        # window exec nodes: the dedup/cap/curation family must show 0
        # (a window partitioned by a skew-prone key serializes the hot
        # group in one task; AQE never splits window partitions)
        "window_nodes": len(re.findall(r"\bWindow\b", plan)),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entry
    from indu_doc_transformer_spark.plans.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    rows = []
    for name in QUERIES:
        df = qs[name](spark, sf_dir)
        df.collect()  # AQE finalizes the plan only on execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows.append((name, audit(plan)))

    lines = [
        "# PLANS — physical-plan audit (generated by scripts/plan_audit.py)",
        "",
        f"sf dir: `{sf_dir}`; AQE-final plans, collected after execution.",
        "",
        "| query | broadcast joins | sort-merge joins | shuffles | codegen stages | python-eval nodes | arrow kernels | pushed-down scans | window nodes |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        lines.append(
            f"| {name} | {a['broadcast_joins']} | {a['sortmerge_joins']} | "
            f"{a['shuffles']} | {a['codegen_stages']} | {a['python_eval']} | "
            f"{a['arrow_kernels']} | {a['pushed_scans']} | {a['window_nodes']} |"
        )
    lines += [
        "",
        "Reading guide: `python-eval nodes` counts row-at-a-time",
        "BatchEvalPython — it must be 0 everywhere. The only Python in any",
        "plan is Arrow-vectorized (`arrow kernels`: ArrowEvalPython /",
        "MapInPandas — the MinHash/SimHash signature and n-gram",
        "kernels). Dimension joins broadcast (no sort-merge anywhere at",
        "these sizes); the text-quality layer runs as pure",
        "whole-stage-codegen expressions with zero joins and zero",
        "shuffles; q_token_shards shows 0 shuffles because its",
        "range-exchange is behind the localCheckpoint materialization",
        "barrier (textstats.token_shards, the one packing path, also",
        "behind q_shard_manifest and q_training_mixture). `window nodes`",
        "must be 0 for the",
        "dedup/cap/curation family (line_dedup, source_caps,",
        "curation_funnel): their round-4 rewrites replaced skew-prone-key",
        "windows with aggregates + joins (AQE splits skewed joins, never",
        "window partitions). q_sequence_pack/q_token_shards window nodes",
        "are _pid-partitioned per-partition prefix sums behind the",
        "localCheckpoint barrier — never a single global-ordering task.",
        "",
        "Known codegen fallback (round-5 audit): the x_search_connections",
        "index build compiles one >64 KB generated method (the wide",
        "connection-index projection over all finisher tables) and Spark",
        "falls back to interpreted evaluation for that single stage",
        '("Code grows beyond 64 KB" — logged once per session, results',
        "unaffected). It is a driver-side search-surface convenience, not",
        "a pipeline hot path; every pipeline/curation plan above stays",
        "fully inside WholeStageCodegen. If the search index ever becomes",
        "hot, the fix is splitting the index projection into two selects,",
        "not raising hugeMethodLimit.",
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    for name, a in rows:
        print(name, a)
    spark.stop()


if __name__ == "__main__":
    main()
