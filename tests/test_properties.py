"""Property-based tests (hypothesis).

Pure SQL-generation functions get wide random coverage (no Spark cost);
Spark expression semantics are checked against pure-Python references by
generating a BATCH of random inputs per example and comparing in one job
(a Spark job per hypothesis example would be prohibitively slow).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from oracle_schema_copy_spark.sources import jdbc, jdbc_mutations as jm

# ---------------------------------------------------------------------------
# pure functions: wide coverage
# ---------------------------------------------------------------------------


@given(st.text())
def test_sql_literal_escapes_strings(s):
    if "\x00" in s:
        # NUL cannot be expressed inside a quoted SQL literal (r13 dialect
        # property suite finding) — the generator refuses loudly
        with pytest.raises(ValueError, match="NUL"):
            jdbc.sql_literal(s)
        return
    lit = jdbc.sql_literal(s)
    assert lit.startswith("'") and lit.endswith("'")
    # every quote in the body is doubled: stripping doubled quotes leaves none
    assert "'" not in lit[1:-1].replace("''", "")


@given(
    st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=1, max_size=8, unique=True
    ),
    st.integers(min_value=1, max_value=3),
)
def test_merge_sql_mentions_every_column_once(cols, n_keys):
    keys = cols[: min(n_keys, len(cols))]
    sql = jm.merge_sql("t", "t_stg", cols, keys)
    for c in cols:
        assert f"s.{c}" in sql
    for k in keys:
        assert f"t.{k} = s.{k}" in sql
    non_keys = [c for c in cols if c not in keys]
    if non_keys:
        assert all(f"t.{c} = s.{c}" in sql for c in non_keys)
    else:
        assert "WHEN MATCHED" not in sql


# ---------------------------------------------------------------------------
# Spark expression semantics vs pure-Python reference: batch per example
# ---------------------------------------------------------------------------

_WORDS = st.text(alphabet="abc XY9.,!", min_size=0, max_size=60)


def _py_normalize(s: str) -> str:
    return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()


def _py_shingles(s: str, n: int = 3) -> list[str]:
    toks = s.split(" ")
    if len(toks) < n:
        return []
    seen, out = set(), []
    for i in range(len(toks) - n + 1):
        sh = " ".join(toks[i : i + n])
        if sh not in seen:
            seen.add(sh)
            out.append(sh)
    return out


@settings(max_examples=3, deadline=None)
@given(st.lists(_WORDS, min_size=1, max_size=40))
def test_normalize_and_shingles_match_python_reference(spark, texts):
    from pyspark.sql import functions as F

    from oracle_schema_copy_spark.functions.text import normalize, shingles

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    rows = (
        df.select("i", normalize(F.col("t")).alias("norm"), shingles(F.col("t")).alias("sh"))
        .orderBy("i")
        .collect()
    )
    for r in rows:
        assert r.norm == _py_normalize(texts[r.i])
        assert list(r.sh) == _py_shingles(texts[r.i])


# ---------------------------------------------------------------------------
# the copy check's one-exchange counts equal count_distinct / count(*):
# a key tuple with a NULL part is not counted, duplicate tuples count once,
# and an empty side (found, want or both) still yields the table's row
# ---------------------------------------------------------------------------

_KEY_PART = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
_KEY_ROWS = st.lists(st.tuples(_KEY_PART, _KEY_PART), max_size=30)


@given(_KEY_ROWS, _KEY_ROWS)
@example([], [])
@example([], [(1, 1), (None, 2)])  # an empty found side
@example([(None, None), (None, 1), (1, None), (1, 1), (1, 1)], [])  # an empty want side
@settings(max_examples=4, deadline=None)
def test_counted_matches_count_distinct(spark, found, want):
    from pyspark.sql import functions as F

    from oracle_schema_copy_spark.operators.walk import _counted

    found_df = spark.createDataFrame(found, "a int, b int")
    # the want side pairs with the key columns by position, like a probe
    want_df = spark.createDataFrame(want, "x int, y int")
    parts = []
    for cols in (["a"], ["a", "b"]):
        side, want_cols = ",".join(cols), ["x", "y"][: len(cols)]
        parts.append(
            _counted(found_df, want_df.select(*want_cols), cols, side)
            .withColumn("how", F.lit("counted"))
        )
        ref = [
            df.agg(F.count_distinct(*c).alias("n"), F.count(F.lit(1)).alias("rows"))
            for df, c in ((found_df, cols), (want_df, want_cols))
        ]
        parts.append(
            ref[0].crossJoin(ref[1].select(F.col("n").alias("n_want"))).select(
                F.lit(side).alias("table_name"), F.col("n").alias("n_found"),
                F.col("rows").alias("rows_found"), "n_want", F.lit("reference").alias("how"),
            )
        )
    checks = parts[0]
    for part in parts[1:]:
        checks = checks.unionByName(part)
    got = {(r.table_name, r.how): (r.n_found, r.rows_found, r.n_want) for r in checks.collect()}
    assert len(got) == 4  # every side's row is there, empty or not

    def n(keys, width):
        return len({k[:width] for k in keys if None not in k[:width]})

    for width, side in ((1, "a"), (2, "a,b")):
        py = (n(found, width), len(found), n(want, width))
        assert got[(side, "counted")] == got[(side, "reference")] == py


# ---------------------------------------------------------------------------
# prefix-filter losslessness: candidate pruning must be invisible in the
# output (theorem-backed; this hunts implementation slips like an
# off-by-one prefix length or a wrong global order)
# ---------------------------------------------------------------------------

_VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


@given(
    st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=3, max_size=10),
        min_size=2,
        max_size=25,
    ),
    st.sampled_from([0.2, 0.4, 0.6]),
)
@settings(max_examples=3, deadline=None)
def test_prefix_filter_matches_bruteforce(spark, docs, threshold):
    from oracle_schema_copy_spark.operators import dedup
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)], "doc_id long, text string"
    )

    def pairs(frame):
        return {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in frame.collect()
        }

    brute = pairs(
        dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=threshold)
    )
    pruned = pairs(
        dedup.prefix_filter_jaccard_pairs(df, "doc_id", "text", threshold=threshold)
    )
    assert pruned == brute

    is_new = F.col("doc_id") % 3 == 0
    incr = pairs(
        dedup.incremental_jaccard_pairs(
            df, "doc_id", "text", is_new, threshold=threshold
        )
    )
    assert incr == {p for p in brute if p[0] % 3 == 0 or p[1] % 3 == 0}


# ---------------------------------------------------------------------------
# banded-LSH scale knob (sf1 scale-audit lesson)
# ---------------------------------------------------------------------------


@given(
    n=st.integers(min_value=1, max_value=10_000_000_000),
    max_bucket=st.integers(min_value=4, max_value=100_000),
)
@settings(max_examples=300, deadline=None)
def test_recommended_planes_per_band_bounds_expected_load(n, max_bucket):
    """The chosen r keeps the expected uniform bucket load within
    target_fill * max_bucket, and r-1 would not (minimality), so the
    knob neither under- nor over-partitions the signature space."""
    from oracle_schema_copy_spark.operators.similarity import (
        recommended_planes_per_band,
    )

    r = recommended_planes_per_band(n, max_bucket=max_bucket)
    target = max(1.0, 0.25 * max_bucket)
    assert r >= 1
    assert n / 2**r <= target
    if r > 1:
        assert n / 2 ** (r - 1) > target


def test_recommended_planes_per_band_sf1_audit_case():
    """The exact degenerate case the sf1 audit measured: 20k vectors at
    r=2 blew every bucket past the cap; the recommendation (r=7 -> 128
    buckets/band, expected load ~156 < 250) restores useful buckets."""
    from oracle_schema_copy_spark.operators.similarity import (
        recommended_planes_per_band,
    )

    assert recommended_planes_per_band(20_000, max_bucket=1000) == 7


def test_auto_planes_per_band_is_integer_twin_of_recommended():
    """auto_planes_per_band (the WIRED map — pure integer so a SQL engine
    reproduces it exactly) equals the float recommendation at the
    registered max_bucket for every corpus size under the grid cap."""
    from oracle_schema_copy_spark.operators.similarity import (
        LSH_R_MAX,
        auto_planes_per_band,
        recommended_planes_per_band,
    )

    cap = 250 * (1 << LSH_R_MAX)
    sweep = [0, 1, 2, 199, 200, 249, 250, 251, 500, 501, 1999, 2000, 2001,
             16_000, 20_000, 36_000, 250_000, cap - 1, cap]
    for n in sweep:
        r = auto_planes_per_band(n)
        assert 1 <= r <= LSH_R_MAX
        if n >= 1:
            assert r == recommended_planes_per_band(n, max_bucket=1000)
    # the two corpus sizes the registered queries actually see
    # (VERDICT r5 #1 done-criterion: wired r at two corpus sizes)
    assert auto_planes_per_band(200) == 1      # ~sf0.01 embeddings
    assert auto_planes_per_band(20_000) == 7   # the sf1 audit case


def test_wired_lsh_r_agrees_with_sql_twin():
    """The prm CTE inside the SHIPPED _banded_lsh_sql derives the same r
    from a table of n rows as the Spark-side auto_planes_per_band — the
    bit-exactness of the adaptive queries rests on this agreement."""
    import duckdb

    from oracle_schema_copy_spark.operators.similarity import (
        auto_planes_per_band,
    )
    from oracle_schema_copy_spark.queries.pipeline_dedup import _banded_lsh_sql

    sql = _banded_lsh_sql()
    for n in (200, 20_000):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE embeddings AS SELECT t.i AS vec_id, "
            "list_transform(generate_series(1, 64), k -> 0.1) AS embedding "
            f"FROM generate_series(1, {n}) AS t(i)"
        )
        (r,) = con.execute(f"WITH {sql} SELECT r FROM prm").fetchone()
        con.close()
        assert r == auto_planes_per_band(n), n
