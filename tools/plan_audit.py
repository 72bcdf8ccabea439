"""Physical-plan audit for the headline queries.

Judges every SQL execution a query starts, not only its final frame's
plan: the frame is built and run into a ``noop`` sink, and the plans of
all executions started meanwhile are read from the SQL status store
(:func:`executed_plans`). A loop that materializes each round with
``localCheckpoint`` runs its rounds while the frame is built, and the
final plan then shows only the checkpoint's scan; the rounds' own plans
are among the executions.

Prints, per query: the execution count, broadcast vs sort-merge join
counts, whole-stage codegen span count, and every parquet scan's
PushedFilters + ReadSchema, summed over the executions (for HUMAN
inspection of pruning/pushdown — the tool cannot know which
columns/filters a query *should* push, so it reports rather than judges
those). The hard checks (:func:`verdict`): fail on a cartesian or
broadcast-nested-loop join in any execution that is not an allowlisted
intentional cross-score, and on an allowlisted query none of whose
executions crosses anything (a stale entry).

Usage: python tools/plan_audit.py [sf_dir] [q1,q2,...] [dump_dir]
Defaults: sf0.01, all headline queries. With ``dump_dir``, every
execution's formatted plan is also written to ``<dump_dir>/<query>.txt``
(evidence for a plan-shape claim). Exit code 1 if any red flag or stale
entry.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def executed_plans(spark, build) -> list[str]:
    """Run ``build()``'s frame into a ``noop`` sink; return the formatted
    physical plan of every SQL execution started by the build and the run,
    in order (the status store's ``executionsList``). Execution ids rise by
    one per execution, so the new ones are the store's newest, however many
    old ones it has trimmed since."""
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    bus = spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001

    def last_id() -> int:
        bus.waitUntilEmpty(60_000)
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    first = last_id()
    build().write.format("noop").mode("overwrite").save()
    k = last_id() - first
    execs = store.executionsList(store.executionsCount() - k, k)
    return [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]


def audit(plan: str) -> dict:
    lines = plan.splitlines()
    scans = []
    for i, l in enumerate(lines):
        if "PushedFilters" in l:
            scans.append(l.split("PushedFilters:", 1)[1].strip())
    schemas = [
        l.split("ReadSchema:", 1)[1].strip() for l in lines if "ReadSchema" in l
    ]
    import re

    return {
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        # formatted explain marks whole-stage-codegen operators with "* "
        # in the tree header (after "+-"/":-"/indent art)
        "codegen": sum(
            1 for l in lines if re.match(r"^[\s+:|-]*\* \w", l) is not None
        ),
        "pushed": scans,
        "schemas": schemas,
    }


# queries whose nested-loop join is the DESIGN, not a regression:
# - similarity_topk_bruteforce: deliberate broadcast cross-score of the
#   (tiny) query set against the corpus — the pruned LSH/IVF variants are
#   the scale paths;
# - bm25/mixture/tfidf/oov: a ONE-ROW corpus-stats frame (N, Σdl / global
#   min) broadcast against per-doc rows — a scalar, not a data join;
# - ivf_nprobe: |queries| × |cells| centroid-routing grid (both tiny and
#   broadcast; the corpus side joins the probe list by equi-key);
# - hybrid_rrf: one query vector broadcast against the corpus scorer.
# All are bounded by construction (1 row, or queries × cells).
INTENTIONAL_CROSS = {
    "scalar_subquery_share",  # 1x1 grand-total frame broadcast into groups
    "tpch_q11_important_values",  # 1x1 threshold frame broadcast into the filter
    "tpch_q22_sales_opportunity",  # 1x1 average-balance frame broadcast into the scan
    "winsorized_price_stats",  # 1x1 percentile-bounds frame broadcast into the scan
    "wau_rolling_7d",  # broadcast day-grid x daily rollup, bounded range predicate
    "text_unigram_logprob",  # 1x1 corpus-total frame broadcast into the token stream
    "events_value_cusum",  # 1x1 global-mean frame broadcast into the scan
    "abc_classification_parts",  # 1x1 grand-total frame broadcast into the ranked frame
    "similarity_topk_bruteforce",
    "ann_recall_contract",  # brute-force baseline side of the recall measurement
    "search_bm25_topk",
    "search_hybrid_rrf",
    "similarity_topk_ivf_nprobe",
    "sample_mix_by_source",
    "corpus_mixture_rates",
    "text_tfidf_top_terms",
    "dedup_semantic_clusters",  # broadcast codebook scoring (similarity.assign_nearest_centroid)
    "sketch_hll_merge_contract",  # 1x1 global-sketch frame x 1x1 merged-sketch frame
    "sketch_kll_quantile_contract",  # 1x1 exact-band frame x 1x1 merged-sketch frame
    "sketch_theta_setops_contract",  # 1x1 sketch frames crossed into one contract row
    "stats_ks_drift_by_source",  # sources x distinct-lengths broadcast grid (bounded domain)
    "stats_benford_digits",  # 1x1 total-count frame broadcast into digit shares
    "stats_mutual_information",  # 1x1 grand-total frame broadcast into cell probs
    "minhash_merge_contract",  # 1x1 merged-sketch frame vs 1x1 corpus sketch
    "sample_dsir_importance",  # two 1x1 distribution-total frames broadcast into the 64-bucket log-ratio table
    "ivf_recall_contract",  # brute-force baseline side of the recall measurement
    "ivfpq_recall_contract",  # brute-force baseline side of the recall measurement
    "similarity_topk_ivfpq",  # queries x codebook LUT broadcast (bounded: 20 x 8 x cells)
    "similarity_topk_ivfpq_rerank",  # same LUT broadcast feeding the ADC shortlist
    "corpus_unimax_budgets",  # 1x1 budget frame and 1x1 water-level frame broadcast into |languages| rows
    "embedding_covariance_matrix",  # 1x1 stats row (n + 64 sums) broadcast into the 2,080-row Gram triangle
    "corpus_temperature_budgets",  # 1x1 sqrt-total frame and 1x1 budget frame broadcast into |languages| rows
    "ivf_ndcg_contract",  # brute-force baseline side of the NDCG measurement (same as the recall contracts)
    "curation_diversity_capstone",  # 1x1 sqrt-total and budget frames broadcast into the 8-center table
    "corpus_doremi_weights",  # 1x1 vocab-total, 1x1 reference-loss, 1x1 normalizer frames broadcast into |domains| rows
    "similarity_topk_sq8_rescore",  # broadcast 20-query code set scored against the corpus (the brute-force-shaped surrogate stage)
    "sq8_recall_contract",  # brute-force baseline side of the recall measurement + the same broadcast code scoring
    "sample_doremi_mixture",  # the DoReMi 1-row stat frames + 1x1 budget frame broadcast into |domains| quotas
    "curriculum_interleave_order",  # 1x1 source-count frame broadcast into the slot arithmetic
    "kmeans_two_iterations",  # each localCheckpoint round crosses the points with the k centroids
}


def verdict(name: str, a: dict) -> str | None:
    """``"cross"`` for a nested-loop or cartesian join outside
    INTENTIONAL_CROSS, ``"stale"`` for an INTENTIONAL_CROSS name whose
    executed plans cross nothing, else None. ``a`` is the :func:`audit` of
    the query's executed plans, joined."""
    crosses = bool(a["bnlj"] or a["cartesian"])
    if crosses != (name in INTENTIONAL_CROSS):
        return "cross" if crosses else "stale"
    return None


def main() -> int:
    from oracle_schema_copy_spark.session import get_spark
    from oracle_schema_copy_spark.queries import headline_queries, queries

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    dump_dir = sys.argv[3] if len(sys.argv) > 3 else None
    spark = get_spark(cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    # AQE hides the static plan (explain shows AdaptiveSparkPlan
    # isFinalPlan=false with no codegen annotation); disable it for
    # INSPECTION only — production sessions keep it on, and AQE only
    # upgrades the static shape audited here (e.g. SMJ -> broadcast)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    flags = 0
    # default sweep = the benched headliners; an explicit list may name
    # ANY registered query
    pool = queries() if only else headline_queries()
    unknown = sorted(only - set(pool)) if only else []
    if unknown:
        print(f"unknown query names: {unknown}")
        return 1
    if dump_dir:
        os.makedirs(dump_dir, exist_ok=True)
    for name, fn in pool.items():
        if only and name not in only:
            continue
        plans = executed_plans(spark, lambda: fn(spark, sf_dir))
        if dump_dir:
            with open(os.path.join(dump_dir, f"{name}.txt"), "w") as f:
                for i, p in enumerate(plans, 1):
                    f.write(f"== execution {i} of {len(plans)} ==\n{p}\n")
        a = audit("\n".join(plans))
        print(
            f"== {name}: executions={len(plans)} BHJ={a['bhj']} SMJ={a['smj']} "
            f"codegen_spans={a['codegen']}"
        )
        for s in a["schemas"]:
            print(f"   scan: {s[:150]}")
        for p in a["pushed"]:
            print(f"   pushed: {p[:150]}")
        v = verdict(name, a)
        if v == "cross":
            print("   !! RED FLAG: nested-loop/cartesian join in an executed plan")
        elif v == "stale":
            print("   !! STALE: allowlisted in INTENTIONAL_CROSS, but no executed plan crosses")
        elif name in INTENTIONAL_CROSS:
            print("   (intentional broadcast cross-score)")
        flags += v is not None
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
