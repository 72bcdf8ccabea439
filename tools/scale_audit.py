"""Scale audit: measure, at a given fixture scale, whether the engine's
cap guards engage and whether AQE re-plans any headline join — the
questions the 100 TB design claims rest on (r4 VERDICT ask #2).

Usage:
    python tools/scale_audit.py [sf_dir] [out_md]
    # defaults: .localdata/sf1  SCALE_sf1.md

Reports, with the SAME parameters the registered queries use:
- n-gram shingle document-frequency distribution vs the ngram max_df cap
  (how much boilerplate would the cap drop, and how many pairs does the
  worst shingle imply);
- prefix-filter posting sizes vs its loud max_bucket assert (does the
  lossless path survive this scale without raising?);
- banded-LSH bucket sizes vs max_bucket (how many corpus rows sit in
  dropped degenerate buckets);
- MinHash band-bucket sizes (candidate-join fan-out);
- AQE static-vs-final join strategies for the heaviest TPC-H shape (Q9)
  and the walk's frontier probe — did runtime stats flip any
  sort-merge join to broadcast (or split a skewed join)?
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.stage_profile import profile_query


def shingle_df_stats(spark, sf_dir: str, *, n=3, max_df=10_000):
    from oracle_schema_copy_spark.operators.dedup import shingle_sets
    from oracle_schema_copy_spark.sources.tables import load_table

    sets = shingle_sets(load_table(spark, sf_dir, "documents"), "doc_id", "text", n)
    df = (
        sets.select(F.explode("shingle_set").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    row = df.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.max("df").alias("max_df_seen"),
        F.sum(F.when(F.col("df") > max_df, 1).otherwise(0)).alias("over_cap"),
        F.sum(F.when(F.col("df") > max_df, F.col("df")).otherwise(0)).alias(
            "postings_in_over_cap"
        ),
        F.expr("percentile_approx(df, array(0.5, 0.99, 0.999))").alias("df_q"),
    ).first()
    worst = row["max_df_seen"] or 0
    return {
        "n_distinct_shingles": row["n_shingles"],
        "max_document_frequency": worst,
        "worst_shingle_pair_fanout": worst * (worst - 1) // 2,
        "cap": max_df,
        "shingles_over_cap": int(row["over_cap"] or 0),
        "postings_dropped_by_cap": int(row["postings_in_over_cap"] or 0),
        "df_quantiles_50_99_999": [int(v) for v in row["df_q"]],
    }


def prefix_posting_stats(spark, sf_dir: str, *, n=3, threshold=0.3, max_bucket=10_000):
    from oracle_schema_copy_spark.operators import dedup
    from oracle_schema_copy_spark.sources.tables import load_table

    sets = dedup.shingle_sets(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n
    )
    prefix = dedup._prefix_frame(sets, "doc_id", threshold)
    sizes = prefix.groupBy("sh").agg(F.count(F.lit(1)).alias("sz"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.max("sz").alias("max_posting"),
        F.sum(F.when(F.col("sz") > max_bucket, 1).otherwise(0)).alias("over"),
    ).first()
    return {
        "n_prefix_postings": row["n_postings"],
        "max_posting_size": row["max_posting"],
        "cap": max_bucket,
        "postings_over_cap_would_RAISE": int(row["over"] or 0),
    }


def lsh_bucket_stats(
    spark, sf_dir: str, *, bands=8, planes_per_band=2, max_bucket=1000,
    plane_stride=None,
):
    """Bucket-size distribution for a given r (planes_per_band). Run once
    at the legacy fixed r=2 (degenerate at sf1 — the r5 audit finding)
    and once with the WIRED adaptive grid (auto_planes_per_band +
    plane_stride=LSH_R_MAX — exactly what the registered queries now
    execute) to show buckets stay under the cap at this scale."""
    from oracle_schema_copy_spark.operators import similarity
    from oracle_schema_copy_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.banded_bucket_keys(
        similarity.spread(emb), id_col="vec_id", vec_col="embedding",
        bands=bands, planes_per_band=planes_per_band, dim=64,
        plane_stride=plane_stride,
    )
    sizes = cb.groupBy("bk").agg(F.count(F.lit(1)).alias("sz"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket_seen"),
        F.sum(F.when(F.col("sz") > max_bucket, 1).otherwise(0)).alias("dropped"),
        F.sum(F.when(F.col("sz") > max_bucket, F.col("sz")).otherwise(0)).alias(
            "rows_in_dropped"
        ),
    ).first()
    n_corpus = emb.count()
    return {
        "planes_per_band": planes_per_band,
        "n_buckets": row["n_buckets"],
        "max_bucket_size": row["max_bucket_seen"],
        "cap": max_bucket,
        "buckets_dropped_by_cap": int(row["dropped"] or 0),
        "bucket_rows_dropped": int(row["rows_in_dropped"] or 0),
        "corpus_rows": n_corpus,
        "signature_rows": n_corpus * bands,
    }


def minhash_band_stats(spark, sf_dir: str, *, n=3, bands=8):
    from oracle_schema_copy_spark.operators import dedup
    from oracle_schema_copy_spark.sources.tables import load_table

    sigs = dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n=n
    )
    # band key layout mirrors minhash_lsh_pairs: bands of 16//bands mh rows
    rows_per_band = 16 // bands
    keys = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    )
    sizes = keys.groupBy("bk").agg(F.count(F.lit(1)).alias("sz"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_sz"),
        F.expr("percentile_approx(sz, 0.999)").alias("q999"),
    ).first()
    return {
        "n_band_buckets": row["n_buckets"],
        "max_band_bucket": row["max_sz"],
        "band_bucket_q999": int(row["q999"]),
    }


def _join_nodes(plan: str) -> list[str]:
    return [
        w
        for w in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
        )
        for _ in range(plan.count(w))
    ]


def aqe_flip_check(spark, sf_dir: str, qname: str):
    import __spark_entry__ as m

    fn = m.queries()[qname]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    static = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    df = fn(spark, sf_dir)
    df.count()  # force execution so the adaptive plan is final
    final = df._jdf.queryExecution().executedPlan().toString()
    return {
        "query": qname,
        "static_joins": sorted(_join_nodes(static)),
        "final_joins": sorted(_join_nodes(final)),
        "aqe_skew_reads": final.count("skewed="),
        "aqe_coalesced_reads": final.count("coalesced"),
    }


# Heavy families (VERDICT r8 #5): dedup, ANN, corpus rewrite, graph,
# capstones — the queries whose 100 TB story depends on NOT spilling.
HEAVY_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_components_star",
    "dedup_edit1_supplier_names",
    "similarity_topk_lsh_banded",
    "similarity_topk_ivfpq_rerank",
    "text_exactsubstr_removal",
    "dedup_paragraph_reconstruct",
    "curation_cleaning_capstone",
    "curation_diversity_capstone",
    "graph_k_core_decomposition",
    "sample_doremi_mixture",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".localdata/sf1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "SCALE_sf1.md"
    from oracle_schema_copy_spark.session import get_spark

    spark = get_spark("scale-audit", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 16)))
    spark.sparkContext.setLogLevel("ERROR")

    report = {
        "sf_dir": sf_dir,
        "ngram_max_df_guard": shingle_df_stats(spark, sf_dir),
        "prefix_filter_guard": prefix_posting_stats(spark, sf_dir),
        "banded_lsh_guard": lsh_bucket_stats(spark, sf_dir),
        "minhash_band_buckets": minhash_band_stats(spark, sf_dir),
    }
    # the WIRED adaptive grid (what the registered queries execute since
    # r6): auto_planes_per_band(count) on the LSH_R_MAX plane grid —
    # buckets must stay under the cap at this corpus size
    from oracle_schema_copy_spark.operators.similarity import (
        LSH_R_MAX,
        auto_planes_per_band,
    )

    r_wired = auto_planes_per_band(
        report["banded_lsh_guard"]["corpus_rows"], max_bucket=1000
    )
    report["banded_lsh_guard_wired_adaptive"] = lsh_bucket_stats(
        spark, sf_dir, planes_per_band=r_wired, plane_stride=LSH_R_MAX
    )
    report["aqe"] = [
        aqe_flip_check(spark, sf_dir, "tpch_q9_product_profit"),
        aqe_flip_check(spark, sf_dir, "join_salted_skew"),
    ]
    # per-stage resource totals (tools/stage_profile.py): shuffle, spill,
    # input bytes and peak execution memory are the evidence behind 'no
    # spilling at this scale' — asserted topology becomes measured bytes
    report["resources"] = [
        {"query": q, "wall_sec": r["wall_sec"], **r["totals"]}
        for r in (profile_query(spark, sf_dir, q) for q in HEAVY_QUERIES)
    ]
    body = json.dumps(report, indent=2)
    print(body)
    with open(out_md, "w") as f:
        f.write(
            "# Scale audit — cap guards and AQE behavior\n\n"
            f"Fixture: `{sf_dir}` (deterministic expansion of sf0.1, "
            "see tools/make_scale_fixture.py).\n\n"
            "```json\n" + body + "\n```\n"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
