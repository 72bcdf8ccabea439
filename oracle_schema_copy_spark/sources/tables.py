"""Parquet table sources (the engine's S1 scan path).

Full-table scan ≈ reference ``exportTable`` (``CopyUtils.java:682-710``) —
but declarative: ``spark.read.parquet`` gives Catalyst column pruning and
predicate pushdown for free, where the reference hand-built ``SELECT
<cols>`` strings.

Scale notes: parquet scans split by row-group; ``maxPartitionBytes``
controls split size. Filters written against the returned DataFrame reach
the scan (verify with ``df.explain`` → PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-TZ TIMESTAMP.

    Fixture generations have stored ``ts`` two ways: TIMESTAMP(NANOS)
    (readable only via ``nanosAsLong`` → bigint, then converted) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ, which
    streaming watermarks reject). Both land on TIMESTAMP; sessions run
    under UTC so the NTZ→LTZ cast preserves the wall clock exactly.
    """
    t = dict(df.dtypes).get("ts")
    if t == "bigint":
        # integer division: double math loses sub-µs precision at 1e18
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalizes the events timestamp column (see
    ``normalize_events_ts``)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_file_table(
    spark: SparkSession,
    path: str,
    *,
    fmt: str | None = None,
    schema=None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Generic file-table reader: parquet / orc / csv / json, format
    inferred from the extension when not given. CSV/JSON require an
    explicit schema in production (inference scans the data twice and
    types drift between runs); pass ``schema`` or accept header-based
    strings for ad-hoc use. All formats keep column pruning; parquet/orc
    add predicate pushdown and row-group/stripe pruning."""
    if fmt is None:
        ext = path.rsplit(".", 1)[-1].lower()
        fmt = {"pq": "parquet"}.get(ext, ext)
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    defaults = {"csv": {"header": "true"}, "json": {}}.get(fmt, {})
    for k, v in {**defaults, **(options or {})}.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_file_table(
    df: DataFrame,
    path: str,
    *,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Generic file-table writer (parquet/orc/csv/json), the inverse of
    read_file_table; csv gets headers by default."""
    writer = df.write.format(fmt).mode(mode)
    defaults = {"csv": {"header": "true"}}.get(fmt, {})
    for k, v in {**defaults, **(options or {})}.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
