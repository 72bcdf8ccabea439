"""DDL extraction / generation / rewriting (SURVEY §2.1 S7-S9, §2.3 G10).

The reference carries DDL as opaque SQL text pulled from Oracle's
``dbms_metadata.GET_DDL`` and lightly regex-rewritten (schema-name
stripping ``CopyUtils.java:126-131``; trigger-tail stripping
``CopyUtils.java:106-124``). Spark has no dictionary views to read, but it
has something better for our storage: the schema IS structural
(``StructType``), so table DDL is *generated*, not scraped.

Objects with no Spark equivalent (triggers, sequences, packages,
procedures) are carried as ``opaque_sql`` operation-log entries that only a
JDBC target may execute — fidelity is preserved through the log without
pretending Spark can run them.

Rewrites are exposed both as driver-side string functions (config-plane)
and as DataFrame column expressions (data-plane, for rewriting a whole DDL
catalog at scale with ``regexp_replace``).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# StructType -> CREATE TABLE text (S8 analog: generated, not scraped)
# ---------------------------------------------------------------------------


def _sql_type(dt: T.DataType) -> str:
    return dt.simpleString().upper()


def schema_to_ddl(table: str, schema: T.StructType) -> str:
    """Generate a Spark-SQL ``CREATE TABLE`` statement from a StructType."""
    cols = ",\n  ".join(
        f"{f.name} {_sql_type(f.dataType)}{'' if f.nullable else ' NOT NULL'}"
        for f in schema.fields
    )
    return f"CREATE TABLE {table} (\n  {cols}\n) USING PARQUET"


def export_schema_ddl(tables: dict[str, DataFrame]) -> list[tuple[str, str]]:
    """Per-table CREATE TABLE statements (the reference's
    ``exportSchemaTablesList``, ``CopyUtils.java:197-206``)."""
    return [(name, schema_to_ddl(name, df.schema)) for name, df in sorted(tables.items())]


# ---------------------------------------------------------------------------
# G10 string rewrites — driver-side (config plane)
# ---------------------------------------------------------------------------

_TRIGGER_TAIL = re.compile(r'ALTER TRIGGER\s+("?\w+"?\.)?"?\w+"?\s+ENABLE\s*;?\s*$', re.IGNORECASE)


def drop_schema_name(ddl: str, schema: str) -> str:
    """Strip ``"SCHEMA".`` qualifiers so DDL replays into any target schema."""
    return re.sub(rf'"{re.escape(schema)}"\.', "", ddl)


def strip_trigger_tail(ddl: str) -> str:
    """Iteratively strip trailing ``ALTER TRIGGER ... ENABLE`` statements
    that GET_DDL appends after a CREATE TRIGGER body."""
    prev = None
    out = ddl
    while prev != out:
        prev = out
        out = _TRIGGER_TAIL.sub("", out).rstrip()
    return out


# ---------------------------------------------------------------------------
# G10 rewrites — data-plane column expressions (rewrite a DDL catalog at scale)
# ---------------------------------------------------------------------------


def drop_schema_name_col(ddl: Column, schema: str) -> Column:
    return F.regexp_replace(ddl, f'"{schema}"\\.', "")


def strip_trigger_tail_col(ddl: Column, passes: int = 3) -> Column:
    """Anchored regexp_replace applied a fixed number of passes (DDL tails
    have at most a couple of appended ALTER statements in practice)."""
    pat = r'(?i)ALTER TRIGGER\s+("?\w+"?\.)?"?\w+"?\s+ENABLE\s*;?\s*$'
    out = ddl
    for _ in range(passes):
        out = F.rtrim(F.regexp_replace(out, pat, ""))
    return out
