"""SQL dialect matrix for the live JDBC path.

Embedded Derby proves the execution mechanics live (``sources/derby.py``);
this module pins the *portability* of the generated SQL — the reference
targets Oracle (``CopyUtils.java:939-964``: VARCHAR2 vs CLOB/LOB column
handling on export; ``ExecuteTarget.java:12-32``) and the engine must emit
dialect-correct DDL/DML for Oracle and Postgres even though no live server
of either can run in-sandbox. Every generator here is a pure function with
golden-SQL unit tests (``tests/test_dialects.py``); the Derby dialect is
the one additionally proven live by the ``livedb`` queries.

Type-mapping rules per dialect:

- **derby**: VARCHAR over CLOB for strings — Derby restricts CLOB
  comparisons (no equality), which would silently poison MERGE keys and
  DELETE predicates; 32672 is Derby's VARCHAR maximum.
- **oracle**: NUMBER(p) for integer widths (Oracle has no native BIGINT),
  BINARY_DOUBLE/BINARY_FLOAT for IEEE floats (NUMBER would change
  semantics), VARCHAR2(n CHAR) up to the 4000-byte standard limit and
  CLOB above it — the reference's LOB split (``CopyUtils.java:939-964``
  treats LOB columns specially on both export and import). NUMBER(1) for
  booleans (pre-23c Oracle has no BOOLEAN column type).
- **postgres**: the ANSI names (DOUBLE PRECISION, BYTEA, NUMERIC), TEXT
  above the practical VARCHAR threshold.

MERGE/upsert (see ``jdbc_mutations.merge_sql``): Derby and Oracle take the
ANSI MERGE; Postgres takes ``INSERT ... ON CONFLICT`` (correct on every
supported version; only PG15+ accepts the ANSI form).

Identifier case at the JDBC boundary (``fold_upper``, proven live on
Derby): Spark's JDBC writer QUOTES column names in its generated
INSERT/CREATE statements (case-sensitive), while hand-written DDL/DML
folds unquoted identifiers to uppercase. Mixing the two makes
"o_orderkey" and O_ORDERKEY different columns. A ``fold_upper`` dialect
upper-cases every table, key and DataFrame column name before it crosses
the boundary, and types staged strings with ``column_type`` (Spark's own
DerbyDialect would create CLOB, which has no equality — it breaks MERGE ON
and keyed DELETE); all hand DDL/DML stays unquoted, so both sides agree on
uppercase. Reads fold back to the engine's lowercase schema
(``derby.fold_names``). ``jdbc_mutations.JdbcTarget`` folds the names
and ``jdbc.write_table`` types the staged strings, each once, for the
dialect the URL names (:func:`url_dialect`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# Shared scalar mappings keyed by Spark type class, per dialect. Strings,
# decimals, and anything parameterized are handled in ``column_type``.
_SCALARS: dict[str, dict[type, str]] = {
    "derby": {
        T.LongType: "BIGINT",
        T.IntegerType: "INTEGER",
        T.ShortType: "SMALLINT",
        T.ByteType: "SMALLINT",  # Derby has no TINYINT
        T.DoubleType: "DOUBLE",
        T.FloatType: "REAL",
        T.BooleanType: "BOOLEAN",
        T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP",
        # Derby TIMESTAMP is wall-clock (no zone) either way; sessions run UTC
        T.TimestampNTZType: "TIMESTAMP",
        T.BinaryType: "BLOB",
    },
    "oracle": {
        T.LongType: "NUMBER(19)",
        T.IntegerType: "NUMBER(10)",
        T.ShortType: "NUMBER(5)",
        T.ByteType: "NUMBER(3)",
        T.DoubleType: "BINARY_DOUBLE",
        T.FloatType: "BINARY_FLOAT",
        T.BooleanType: "NUMBER(1)",
        T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP",
        T.TimestampNTZType: "TIMESTAMP",
        T.BinaryType: "BLOB",
    },
    "postgres": {
        T.LongType: "BIGINT",
        T.IntegerType: "INTEGER",
        T.ShortType: "SMALLINT",
        T.ByteType: "SMALLINT",
        T.DoubleType: "DOUBLE PRECISION",
        T.FloatType: "REAL",
        T.BooleanType: "BOOLEAN",
        T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP",
        T.TimestampNTZType: "TIMESTAMP",
        T.BinaryType: "BYTEA",
    },
}


@dataclass(frozen=True)
class Dialect:
    """One target dialect: type mapping + upsert style."""

    name: str
    varchar_keyword: str  # VARCHAR / VARCHAR2(.. CHAR)
    varchar_max: int  # longest declarable varchar
    oversize_policy: str  # 'lob' -> lob_type above varchar_max; 'clamp'
    lob_type: str  # what strings above varchar_max become under 'lob'
    decimal_keyword: str  # DECIMAL / NUMBER / NUMERIC
    merge_style: str  # 'ansi' or 'postgres_upsert'
    fold_upper: bool = False  # identifier rule at the JDBC boundary (module doc)

    def column_type(self, dt: T.DataType, *, varchar_len: int = 1024) -> str:
        """SQL column type for one Spark type."""
        if isinstance(dt, T.StringType):
            if varchar_len > self.varchar_max:
                if self.oversize_policy != "clamp":
                    return self.lob_type
                varchar_len = self.varchar_max
            if self.name == "oracle":
                # CHAR semantics: n characters, not bytes (multi-byte safe)
                return f"{self.varchar_keyword}({varchar_len} CHAR)"
            return f"{self.varchar_keyword}({varchar_len})"
        if isinstance(dt, T.DecimalType):
            return f"{self.decimal_keyword}({dt.precision},{dt.scale})"
        for cls, sql in _SCALARS[self.name].items():
            if isinstance(dt, cls):
                return sql
        raise ValueError(f"no {self.name} mapping for Spark type {dt}")

    def create_table_sql(
        self,
        table: str,
        schema: T.StructType,
        *,
        primary_key: list[str] | None = None,
        varchar_len: int = 1024,
    ) -> str:
        """CREATE TABLE DDL for a Spark schema (the ExecuteSqlList-analog
        DDL the reference ships ahead of data, ``CopyUtils.java:682-710``
        export order). Unquoted identifiers, uppercase — every supported
        dialect folds unquoted identifiers consistently, and a
        ``fold_upper`` dialect's JDBC boundary folds DataFrames to match
        (module doc)."""
        pk = [c.upper() for c in (primary_key or [])]
        cols = []
        for f in schema.fields:
            null = " NOT NULL" if f.name.upper() in pk else ""
            cols.append(
                f"{f.name.upper()} "
                f"{self.column_type(f.dataType, varchar_len=varchar_len)}{null}"
            )
        if pk:
            cols.append(f"PRIMARY KEY ({', '.join(pk)})")
        return f"CREATE TABLE {table.upper()} ({', '.join(cols)})"


DIALECTS: dict[str, Dialect] = {
    "derby": Dialect(
        name="derby",
        varchar_keyword="VARCHAR",
        varchar_max=32672,
        # clamp, never CLOB: Derby CLOB has no equality -> would poison
        # MERGE keys and DELETE predicates (module doc)
        oversize_policy="clamp",
        lob_type="CLOB",
        decimal_keyword="DECIMAL",
        merge_style="ansi",
        fold_upper=True,
    ),
    "oracle": Dialect(
        name="oracle",
        varchar_keyword="VARCHAR2",
        varchar_max=4000,
        oversize_policy="lob",  # the reference's LOB split, CopyUtils.java:939-964
        lob_type="CLOB",
        decimal_keyword="NUMBER",
        merge_style="ansi",
    ),
    "postgres": Dialect(
        name="postgres",
        varchar_keyword="VARCHAR",
        varchar_max=65535,
        oversize_policy="lob",
        lob_type="TEXT",
        decimal_keyword="NUMERIC",
        merge_style="postgres_upsert",
    ),
}


def get_dialect(name: str) -> Dialect:
    try:
        return DIALECTS[name]
    except KeyError:
        raise ValueError(
            f"unknown dialect {name!r}; known: {sorted(DIALECTS)}"
        ) from None


_URL_DIALECTS = {"jdbc:derby:": "derby", "jdbc:oracle:": "oracle", "jdbc:postgresql:": "postgres"}


def url_dialect(url: str) -> Dialect | None:
    """The dialect a JDBC URL names, or None for a database with no dialect
    here (ANSI MERGE, identifiers as given)."""
    for prefix, name in _URL_DIALECTS.items():
        if url.startswith(prefix):
            return DIALECTS[name]
    return None
