"""Set-oriented mutation operators: bulk copy, upsert (merge), keyed delete.

Reference behavior re-expressed:
- bulk copy  ≈ ``copy`` verb → full scan + batched INSERT
  (``Main.java:170-180``, ``CopyUtils.java:805-834,907-917``)
- upsert     ≈ ``update`` verb → per-row UPDATE-else-INSERT
  (``Main.java:181-191``, ``CopyUtils.java:741-779``)
- keyed delete ≈ ``DeleteByPk`` (``DeleteByPk.java:15-43``)

The reference's upsert is O(rows) round-trips (optimistic UPDATE per row,
INSERT on miss). The Spark-native strategy is a single set-oriented merge:
``updates ∪ (target ⟕anti updates)`` — one shuffle-free pass when the key
side broadcasts, one shuffle otherwise. The reference's "more than one row
updated" guard (``CopyUtils.java:765-767``) becomes an explicit duplicate-
key assertion on both sides.

On immutable storage (parquet) a mutation is a rewrite: callers write the
returned DataFrame to a staging dir and atomically rename (see
plans/oplog.py for the transactional delta vs the reference's single
JDBC commit).

Scale: the merge keys shuffle hash-partitions both sides by the PK —
the same plan MERGE INTO produces on Delta. For skewed PKs AQE skew-join
splitting applies. No per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle_schema_copy_spark.operators.walk import _keyed_join, key_cols


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_columns: list[str] | str,
    check_unique: bool = True,
) -> DataFrame:
    """Rows of ``target`` with matching-key rows replaced by ``updates``,
    plus any update rows whose key is absent (insert path).

    Equivalent to ``MERGE INTO target USING updates ON keys WHEN MATCHED
    UPDATE * WHEN NOT MATCHED INSERT *``, expressed as anti-join + union so
    it runs on plain DataFrames with no table format requirement.
    """
    keys = key_cols(key_columns)
    updates = updates.select(*target.columns)  # align column order
    if check_unique:
        # Both uniqueness probes (updates side; target side restricted by
        # semi-join to keys the upsert touches — the reference's ">1 row
        # updated" guard fires only for matched keys) are FUSED into one
        # Spark job: two serial collect()s were two full scheduling
        # rounds for two tiny aggregates (r13 bench: ~0.2s of the
        # upsert_orders build was the second round).
        touched = _keyed_join(target, keys, updates, "left_semi")
        # guard-internal aliases carry a "__guard_" prefix so a key column
        # legitimately named "n" or "__side" can never collide with them
        tagged = updates.select(
            F.lit("updates").alias("__guard_side"), *keys
        ).unionByName(touched.select(F.lit("target").alias("__guard_side"), *keys))
        bad = (
            tagged.groupBy("__guard_side", *[F.col(c) for c in keys])
            .agg(F.count(F.lit(1)).alias("__guard_n"))
            .filter(F.col("__guard_n") > 1)
            .select(
                F.col("__guard_side").alias("side"),
                # NULL key components must stay visible in the message —
                # concat_ws silently drops NULLs, so coalesce each part
                F.concat_ws(
                    ",",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("NULL"))
                        for c in keys
                    ],
                ).alias("key"),
            )
            .orderBy(F.desc("side"))  # report an updates-side dup first
            .limit(1)
            .collect()
        )
        if bad:
            raise AssertionError(
                f"{bad[0].side} has duplicate key [{bad[0].key}] — upsert "
                "would match >1 row"
            )
    untouched = _keyed_join(target, keys, updates, "left_anti")
    return untouched.unionByName(updates)


def delete_by_keys(
    target: DataFrame, key_columns: str | list[str], keys: DataFrame
) -> DataFrame:
    """Rows of ``target`` surviving a keyed delete (anti-join rewrite).
    ``key_columns`` may be composite; ``keys`` pairs with them by
    ``walk.key_frame``."""
    # no broadcast hint: a forced hint overrides the size threshold and
    # collects arbitrarily large key sets to the driver; the planner / AQE
    # broadcasts small key frames on its own (see walk.py module docstring)
    return _keyed_join(target, key_columns, keys, "left_anti")


def snapshot_diff(
    base: DataFrame,
    current: DataFrame,
    key_columns: str | list[str],
) -> DataFrame:
    """Change-data-capture diff of two snapshots of the same table: one row
    per changed key, ``op`` in ('insert', 'update', 'delete').

    This is the verification half of the reference's copy pipeline turned
    into an operator: where ``CopyUtils`` asserts post-copy row counts, a
    snapshot diff tells you *which* keys differ — the primitive behind
    incremental re-copy, drift detection between source and target, and
    CDC bootstrap.

    Shape: full outer join on the PK (one shuffle, both sides
    hash-partitioned on the key — the same plan as the upsert merge), then
    a null-safe column-by-column comparison. ``IS DISTINCT FROM`` per
    column (not a row hash) keeps the comparison type-exact and
    engine-portable: float NaNs, timestamps and NULLs compare identically
    in any SQL engine, with no canonical-serialization trap. Unchanged
    keys are dropped map-side after the join.
    """
    keys = key_cols(key_columns)
    data_cols = [c for c in base.columns if c not in keys]
    assert set(base.columns) == set(current.columns), "snapshot schemas differ"
    b = base.select(
        *[F.col(k).alias(f"__bk_{k}") for k in keys],
        *[F.col(c).alias(f"__b_{c}") for c in data_cols],
        F.lit(True).alias("__in_b"),
    )
    c = current.select(
        *[F.col(k).alias(f"__ck_{k}") for k in keys],
        *[F.col(col).alias(f"__c_{col}") for col in data_cols],
        F.lit(True).alias("__in_c"),
    )
    cond = None
    for k in keys:
        e = b[f"__bk_{k}"].eqNullSafe(c[f"__ck_{k}"])
        cond = e if cond is None else cond & e
    joined = b.join(c, cond, "full_outer")
    changed = None
    for col in data_cols:
        ne = ~F.col(f"__b_{col}").eqNullSafe(F.col(f"__c_{col}"))
        changed = ne if changed is None else changed | ne
    op = (
        F.when(F.col("__in_b").isNull(), F.lit("insert"))
        .when(F.col("__in_c").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__bk_{k}"), F.col(f"__ck_{k}")).alias(k)
                for k in keys
            ],
            "op",
        )
    )


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key_columns: str | list[str],
    *,
    effective_date: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    open_end: str = "9999-12-31",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: rows whose attributes
    changed get their OPEN version closed (``valid_to`` = effective date)
    and a NEW open version appended; unchanged and untouched rows pass
    through. ``updates`` carries the business columns only (no validity
    columns); ``current`` must contain exactly one open version per key.

    Shape: one hash-partitioned join of the open slice against the
    updates on the key (closed history never shuffles — it is filtered
    out map-side and unioned back untouched), per-column null-safe change
    detection as in :func:`snapshot_diff`. This is the plan MERGE INTO
    produces for SCD2 on Delta, without the table-format dependency.
    """
    keys = key_cols(key_columns)
    eff = F.lit(effective_date).cast("date")
    data_cols = [c for c in updates.columns if c not in keys]
    open_rows = current.filter(F.col(valid_to) == F.lit(open_end).cast("date"))
    closed_rows = current.filter(F.col(valid_to) != F.lit(open_end).cast("date"))
    u = updates.select(
        *[F.col(k).alias(f"__uk_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in data_cols],
    )
    cond = None
    for k in keys:
        e = open_rows[k].eqNullSafe(u[f"__uk_{k}"])
        cond = e if cond is None else cond & e
    joined = open_rows.join(u, cond, "left")
    changed = None
    for c in data_cols:
        ne = ~F.col(c).eqNullSafe(F.col(f"__u_{c}"))
        changed = ne if changed is None else changed | ne
    matched = F.col(f"__uk_{keys[0]}").isNotNull()
    is_changed = matched & changed
    # open rows: closed if changed, passed through otherwise
    kept = joined.select(
        *current.columns,
        is_changed.alias("__chg"),
        *[F.col(f"__u_{c}") for c in data_cols],
    )
    survivors = kept.select(
        *[
            F.when(F.col("__chg"), eff).otherwise(F.col(valid_to)).alias(valid_to)
            if c == valid_to
            else F.col(c)
            for c in current.columns
        ]
    )
    new_versions = kept.filter("__chg").select(
        *[
            F.col(f"__u_{c}").alias(c) if c in data_cols else F.col(c)
            for c in [x for x in current.columns if x not in (valid_from, valid_to)]
        ],
        eff.alias(valid_from),
        F.lit(open_end).cast("date").alias(valid_to),
    ).select(*current.columns)
    # brand-new keys: first open version starts at the effective date
    inserts = _keyed_join(updates, keys, open_rows, "left_anti").select(
        *[x for x in current.columns if x not in (valid_from, valid_to)],
        eff.alias(valid_from),
        F.lit(open_end).cast("date").alias(valid_to),
    ).select(*current.columns)
    return (
        closed_rows.unionByName(survivors)
        .unionByName(new_versions)
        .unionByName(inserts)
    )


def bulk_copy(source: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Full-table copy projection (the reference's explicit column list —
    ``generateColumnList``, ``CopyUtils.java:672-680`` — is Catalyst column
    pruning here: select only what you need and the parquet scan narrows)."""
    return source.select(*columns) if columns else source
