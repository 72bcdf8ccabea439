"""Named query registry: every engine operator exposed as a
(spark, sf_dir) -> DataFrame callable, paired (where SQL-expressible) with
an ANSI-SQL oracle that DuckDB runs over the same parquet tables.

Conventions (the driver compares row-count + schema + order-insensitive
value hash, columns sorted by name):
- every computed/aggregate column is aliased identically in Spark and SQL;
- integer aggregates are cast to BIGINT on both sides (DuckDB widens to
  HUGEINT otherwise);
- double aggregates over many terms are rounded identically on both sides
  (summation order differs between engines);
- ``date_trunc`` results are cast to DATE on both sides (DuckDB returns
  DATE, Spark TIMESTAMP);
- timestamps run under UTC sessions on both sides.

Check order: ``queries()`` and ``oracle_sql()`` yield names in the order
an external verifier with a query-count or time budget should check them
(the driver records the first 50):

1. names tagged ``@query(..., changed_in=N)``, highest tag first, ties in
   registry (insertion) order. N numbers the change that last altered
   the query's code path (the numbering of ROADMAP.md's Recent entries);
2. then untagged names in registry order;
3. then the untagged names of ``_CHECK_LAST``, in its order.

A tag beats ``_CHECK_LAST``. A new or changed query gets its change's
number; nothing else needs curating.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    headline: bool = False  # include in bench.py
    changed_in: int = 0  # change that last altered the code path; 0 = none


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, headline: bool = False, changed_in: int = 0):
    def deco(fn):
        assert name not in REGISTRY, f"duplicate query name {name}"
        REGISTRY[name] = QuerySpec(fn, oracle, headline, changed_in)
        return fn

    return deco


def _load_all() -> None:
    # import order is registry (insertion) order, which the check order
    # falls back on
    from oracle_schema_copy_spark.queries import (  # noqa: F401
        livedb,
        pipeline_dedup,
        pipeline_similarity,
        pipeline,
        pipeline_stats,
        pipeline_graph,
        pipeline_linalg,
        reference_surface,
        relational,
        relational_analytics,
        relational_stats,
        streaming,
        temporal,
        tpch,
    )


# Checked last: green in every driver round with unchanged implementations,
# and each has an earlier same-family name, so a 50-name cutoff still
# covers every operator family.
_CHECK_LAST: list[str] = [
    "stream_session_window",
    "stream_watermark_late_drop",
    "stream_stateful_user_totals_live",
    "scalar_array_functions",
    "scalar_json_events",
    "schema_ddl_catalog",
    "multimodal_feature_extract",
    "range_join_error_views",
    "sample_stratified_by_lang",
    "train_val_test_split",
    "curation_pipeline",
    "agg_percentiles",
    "agg_salted_skew_safe",
    "agg_pivot_status_by_priority",
    "unpivot_order_metrics",
    "text_repetition_ratio",
    "text_pii_redaction",
    "text_contamination",
    "pack_sequences_by_lang",
    "stream_stream_join_live",
    "stream_dedup_keys_live",
    "sessionize_events",
    "trailing_window_features",
    "embedding_centroids_by_label",
    "agg_grouping_sets",
    "sample_weighted_topk",
    "feature_binning_ntile",
    "dedup_fuzzy_name_pairs",
    "agg_stats_moments",
    "topo_depth",
    "dedup_exact",
    "dedup_simhash_pairs",
    "window_rank_orders_per_customer",
    "setops_customer_segments",
]


def _check_order(names: list[str]) -> list[str]:
    """``names`` in check order (module docstring). Raises on a
    ``_CHECK_LAST`` name missing from the registry (a ghost) or listed
    twice: a list that claims coverage it does not have fails loudly."""
    unknown = sorted(set(_CHECK_LAST) - set(names))
    if unknown:
        raise ValueError(
            f"check-order names not in the query registry (ghosts): {unknown}"
        )
    dups = sorted(n for n, c in Counter(_CHECK_LAST).items() if c > 1)
    if dups:
        raise ValueError(f"names listed twice in the check order: {dups}")
    last = [n for n in _CHECK_LAST if not REGISTRY[n].changed_in]
    rest = [n for n in names if n not in last]
    return sorted(rest, key=lambda n: -REGISTRY[n].changed_in) + last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: REGISTRY[name].fn for name in _check_order(list(REGISTRY))}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: REGISTRY[name].oracle.strip()
        for name in _check_order(list(REGISTRY))
        if REGISTRY[name].oracle is not None
    }


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.headline}
