"""Property tests for the dialect matrix (r12 VERDICT #7 hardening
surface). The golden tests (``test_dialects.py``) pin exact strings for
ONE schema; these pin the *invariants* for arbitrary hypothesis-generated
schemas — uppercase-folded identifiers, NOT NULL exactly on PK columns,
the per-dialect oversize-string policy, MERGE/upsert key structure — and
then go one step further than text: DuckDB (PG-flavored SQL) EXECUTES the
postgres-dialect DDL, the ``ON CONFLICT`` upsert, the batched DELETE, and
the key literals, so the portability claim for the one dialect no live
server can prove in-sandbox (Derby is the only DBMS here) is at least
parser+executor-verified against an independent engine.

Pure Python + DuckDB — no Spark JVM; safe to run next to a bench.
Reference behavior under test: CopyUtils.java:939-964 (LOB split),
ExecuteTableUpdate.java:10-27 (upsert), DeleteByPk.java:15-43 (delete).
"""

from __future__ import annotations

import itertools

import duckdb
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from oracle_schema_copy_spark.sources import jdbc, jdbc_mutations as jm
from oracle_schema_copy_spark.sources.dialects import DIALECTS

# The generators emit UNQUOTED uppercase identifiers (their documented
# contract — sources/derby.py module doc), so generated names must avoid
# every engine keyword. DuckDB publishes its own full keyword list;
# filtering on it (any category, not just reserved) keeps the execution
# properties deterministic instead of flaking on an exotic keyword.
_DUCK_KEYWORDS = frozenset(
    r[0].upper()
    for r in duckdb.connect().execute(
        "SELECT keyword_name FROM duckdb_keywords()"
    ).fetchall()
)

_IDENT = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,18}", fullmatch=True).filter(
    lambda s: s.upper() not in _DUCK_KEYWORDS
)

_SCALARS = [
    T.LongType(),
    T.IntegerType(),
    T.ShortType(),
    T.ByteType(),
    T.DoubleType(),
    T.FloatType(),
    T.BooleanType(),
    T.DateType(),
    T.TimestampNTZType(),
    T.BinaryType(),
    T.StringType(),
]

_TYPES = st.one_of(
    st.sampled_from(_SCALARS),
    st.integers(1, 38).flatmap(
        lambda p: st.integers(0, p).map(lambda s: T.DecimalType(p, s))
    ),
)


@st.composite
def schemas(draw):
    """(StructType, pk_subset) with names unique after uppercase-folding."""
    names = draw(
        st.lists(_IDENT, min_size=1, max_size=8, unique_by=lambda s: s.upper())
    )
    fields = [T.StructField(n, draw(_TYPES)) for n in names]
    pk = draw(st.lists(st.sampled_from(names), max_size=len(names), unique=True))
    return T.StructType(fields), pk


def _balanced(sql: str) -> bool:
    depth = 0
    for ch in sql:
        depth += ch == "("
        depth -= ch == ")"
        if depth < 0:
            return False
    return depth == 0


@settings(max_examples=40, deadline=None)
@given(schema_pk=schemas(), table=_IDENT, varchar_len=st.integers(1, 100_000))
def test_ddl_invariants_every_dialect(schema_pk, table, varchar_len):
    schema, pk = schema_pk
    for d in DIALECTS.values():
        ddl = d.create_table_sql(
            table, schema, primary_key=pk, varchar_len=varchar_len
        )
        assert ddl.startswith(f"CREATE TABLE {table.upper()} (")
        assert _balanced(ddl)
        body = ddl[ddl.index("(") + 1 :]
        for f in schema.fields:
            assert f"{f.name.upper()} " in body
        # NOT NULL exactly on PK columns, and the PK clause is last
        assert ddl.count(" NOT NULL") == len(pk)
        if pk:
            assert ddl.endswith(
                f"PRIMARY KEY ({', '.join(c.upper() for c in pk)}))"
            )
        else:
            assert "PRIMARY KEY" not in ddl
        # per-dialect oversize-string policy (module doc: derby clamps —
        # CLOB has no equality; oracle/postgres LOB-split)
        n_str = sum(isinstance(f.dataType, T.StringType) for f in schema.fields)
        if n_str:
            if d.name == "derby":
                assert "CLOB" not in ddl
                want = min(varchar_len, d.varchar_max)
                assert ddl.count(f"VARCHAR({want})") == n_str
            elif varchar_len > d.varchar_max:
                assert ddl.count(d.lob_type) >= n_str
        # deterministic: same inputs, same text
        assert ddl == d.create_table_sql(
            table, schema, primary_key=pk, varchar_len=varchar_len
        )


@settings(max_examples=40, deadline=None)
@given(schema_pk=schemas(), table=_IDENT, varchar_len=st.integers(1, 100_000))
def test_postgres_ddl_executes_in_duckdb(schema_pk, table, varchar_len):
    schema, pk = schema_pk
    ddl = DIALECTS["postgres"].create_table_sql(
        table, schema, primary_key=pk, varchar_len=varchar_len
    )
    con = duckdb.connect()
    con.execute(ddl)
    info = con.execute(f"PRAGMA table_info('{table.upper()}')").fetchall()
    # (cid, name, type, notnull, dflt_value, pk)
    assert [r[1] for r in info] == [f.name.upper() for f in schema.fields]
    assert {r[1] for r in info if r[3]} == {c.upper() for c in pk}
    assert {r[1] for r in info if r[5]} == {c.upper() for c in pk}
    con.close()


@settings(max_examples=25, deadline=None)
@given(
    n_keys=st.integers(1, 2),
    n_vals=st.integers(0, 2),
    overlap=st.integers(0, 4),
    fresh=st.integers(0, 4),
    data=st.data(),
)
def test_postgres_upsert_executes_in_duckdb(n_keys, n_vals, overlap, fresh, data):
    """merge_sql('postgres') against DuckDB: staged rows override matching
    target rows, fresh rows insert, untouched rows survive."""
    keys = [f"K{i}" for i in range(n_keys)]
    vals = [f"V{i}" for i in range(n_vals)]
    cols = keys + vals
    con = duckdb.connect()
    for t in ("TGT", "STG"):
        con.execute(
            f"CREATE TABLE {t} ({', '.join(c + ' BIGINT' for c in cols)}, "
            f"PRIMARY KEY ({', '.join(keys)}))"
        )
    # target rows 0..overlap+1 ; staging = overlap of them + fresh new keys
    n_tgt = overlap + 2
    tgt_rows = [[i * 7 + j for j in range(n_keys)] + [0] * n_vals for i in range(n_tgt)]
    stg_rows = [
        r[:n_keys] + [data.draw(st.integers(1, 9))] * n_vals
        for r in tgt_rows[:overlap]
    ] + [
        [(n_tgt + i) * 7 + j for j in range(n_keys)] + [1] * n_vals
        for i in range(fresh)
    ]
    for t, rows in (("TGT", tgt_rows), ("STG", stg_rows)):
        for r in rows:
            con.execute(f"INSERT INTO {t} VALUES ({', '.join(map(str, r))})")
    con.execute(jm.merge_sql("TGT", "STG", cols, keys, dialect="postgres"))
    got = {
        tuple(r[:n_keys]): list(r[n_keys:])
        for r in con.execute("SELECT * FROM TGT").fetchall()
    }
    want = {tuple(r[:n_keys]): r[n_keys:] for r in tgt_rows}
    want.update({tuple(r[:n_keys]): r[n_keys:] for r in stg_rows})
    assert got == want
    con.close()


@settings(max_examples=30, deadline=None)
@given(
    cols=st.lists(_IDENT, min_size=1, max_size=6, unique_by=lambda s: s.upper()),
    data=st.data(),
)
def test_ansi_merge_invariants(cols, data):
    keys = data.draw(
        st.lists(st.sampled_from(cols), min_size=1, unique=True)
    )
    sql = jm.merge_sql("TGT", "STG", cols, keys, dialect="oracle")
    assert sql.startswith("MERGE INTO TGT t USING STG s ON (")
    for k in keys:
        assert f"t.{k} = s.{k}" in sql
    non_keys = [c for c in cols if c not in keys]
    if non_keys:
        assert "WHEN MATCHED THEN UPDATE SET " in sql
        for c in non_keys:
            assert f"t.{c} = s.{c}" in sql
    else:
        assert "WHEN MATCHED" not in sql
    assert f"WHEN NOT MATCHED THEN INSERT ({', '.join(cols)})" in sql
    # keys never appear in the UPDATE SET clause (Derby/Oracle reject
    # updating ON-clause columns; silent inclusion would fail live)
    if non_keys:
        upd = sql.split("UPDATE SET ", 1)[1].split(" WHEN NOT MATCHED", 1)[0]
        for k in keys:
            assert f"t.{k} = s.{k}" not in upd


@settings(max_examples=50, deadline=None)
@given(
    v=st.one_of(
        st.integers(-(2**62), 2**62),
        st.text(max_size=40),
        st.dates(),
        st.datetimes(),
        st.booleans(),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
    )
)
def test_sql_literal_roundtrips_through_duckdb(v):
    if isinstance(v, str) and "\x00" in v:
        with pytest.raises(ValueError, match="NUL"):
            jdbc.sql_literal(v)
        return
    got = duckdb.connect().execute(f"SELECT {jdbc.sql_literal(v)}").fetchone()[0]
    if isinstance(v, bool):
        assert got is v
    elif isinstance(v, float):
        # DuckDB types a bare numeric literal as DECIMAL; in a real engine
        # the comparison column is DOUBLE and coerces — compare as float
        assert float(got) == pytest.approx(v, rel=1e-15)
    else:
        assert got == v


@settings(max_examples=15, deadline=None)
@given(
    keys=st.lists(
        st.text(max_size=20).filter(lambda s: "\x00" not in s),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    extra=st.lists(st.text(max_size=20), max_size=5, unique=True),
)
def test_delete_using_staging_sql_executes_in_duckdb(keys, extra):
    """The EXISTS delete over a staged key table removes exactly the
    staged keys; a NULL staged key matches nothing."""
    survivors = [e for e in extra if e not in keys]
    con = duckdb.connect()
    con.execute("CREATE TABLE T (K VARCHAR)")
    con.execute("CREATE TABLE T_STG (K VARCHAR)")
    for k in itertools.chain(keys, survivors):
        con.execute("INSERT INTO T VALUES (?)", [k])
    for k in [*keys, None]:
        con.execute("INSERT INTO T_STG VALUES (?)", [k])
    con.execute(jm.delete_using_staging_sql("T", "T_STG", ["K"]))
    got = sorted(r[0] for r in con.execute("SELECT K FROM T").fetchall())
    assert got == sorted(survivors)
    con.close()
