"""Deterministic sampling operators for corpus curation.

``df.sample()``/``sampleBy()`` draw from a per-partition RNG: results
change with partitioning, retries, and engine — useless for reproducible
training-data pipelines and impossible to oracle-check. These operators
sample on a *hash of the row id* instead: the same row lands on the same
side of every cut on every engine, adding/removing other rows never
changes a row's fate, and the SQL twin is exact (md5 is the shared hash).

All are stateless per-row projections/filters — no shuffle, no driver
data, safe at any scale. Rates are expressed in basis points of the
10,000-bucket hash ring to keep the cut integral and exact on both
engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oracle_schema_copy_spark.functions.text import token_hash

BUCKETS = 10_000


def hash_bucket(id_col: Column, salt: str = "") -> Column:
    """Stable bucket in [0, 10000) from md5(salt || id) — the sampling key.
    DuckDB twin: CAST(('0x' || substr(md5(salt || CAST(id AS VARCHAR)), 1, 7))
    AS BIGINT) % 10000."""
    return token_hash(F.concat(F.lit(salt), id_col.cast("string")), 7) % BUCKETS


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates_bp: dict[str, int],
    *,
    default_bp: int = 0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. keep 100% of rare
    languages, 10% of the dominant one) — the reproducible analog of
    ``sampleBy``."""
    rate = F.lit(default_bp)
    for stratum, bp in sorted(rates_bp.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(bp)).otherwise(rate)
    return df.filter(hash_bucket(F.col(id_col), salt) < rate)


def weighted_hash_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    *,
    salt: str = "w",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: top-k by the
    A-ES key ``u^(1/w)`` (Efraimidis–Spirakis), with the uniform ``u``
    derived from md5(salt || id) instead of an RNG — reproducible across
    engines, partitionings and reruns, and oracle-checkable. Rows with
    non-positive weight are excluded (their key is undefined).

    Shape: per-row key projection + one global TakeOrderedAndProject —
    each partition keeps its local top-k, the driver merges k rows, never
    a full sort. This is the "mix domains by quality weight" primitive of
    corpus curation.
    """
    # bucket midpoint -> u in (0, 1), exactly (b + 0.5) / 10000 on both engines
    u = (hash_bucket(F.col(id_col), salt) + F.lit(0.5)) / F.lit(float(BUCKETS))
    # key is ROUNDED to 9 digits before the ordering on BOTH engines (the
    # SQL twin rounds identically), so a cross-engine last-ulp pow()
    # difference cannot flip the k-th/(k+1)-th boundary; rounding-induced
    # ties break on id, also mirrored. The k-th selection is therefore
    # deterministic AND engine-independent, at 1e-9 key resolution.
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_key", F.round(key, 9))
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    *,
    val_bp: int = 500,
    test_bp: int = 500,
    salt: str = "split",
) -> DataFrame:
    """Adds a ``split`` column ('train'/'val'/'test') by disjoint hash
    ranges: [0, val) -> val, [val, val+test) -> test, rest -> train.
    Membership is a pure function of the id — stable under reprocessing,
    engine-independent, and leakage-free (a duplicated id always lands in
    the same split)."""
    b = hash_bucket(F.col(id_col), salt)
    split = (
        F.when(b < val_bp, F.lit("val"))
        .when(b < val_bp + test_bp, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)
