"""near_dup_components: connected-components clustering over dup pairs."""

from __future__ import annotations

import random

import pytest

from oracle_schema_copy_spark.operators.dedup import near_dup_components


def _components(spark, pairs):
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    return {
        r.doc_id: r.component for r in near_dup_components(df).collect()
    }


def test_chain_converges_to_min(spark):
    # 1-2-3-4-5 chain: all collapse to 1 (needs several contraction rounds)
    got = _components(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_star_and_disjoint_clusters(spark):
    got = _components(spark, [(10, 11), (10, 12), (10, 13), (20, 21), (30, 31)])
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_merge_through_shared_node(spark):
    # two stars joined by one bridge edge become one component
    got = _components(spark, [(1, 5), (1, 6), (2, 7), (2, 8), (6, 7)])
    assert set(got.values()) == {1}


def test_unconverged_raises_instead_of_silent_split(spark):
    """A chain longer than max_iter rounds can contract must fail loudly —
    returning partial labels would split one dup cluster into several
    survivors."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["id_a", "id_b"]
    )
    # this chain contracts in 3 rounds and needs a 4th to see it stable
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_components(chain, max_iter=3)
    # the same chain converges with enough rounds
    ok = {r.doc_id: r.component for r in near_dup_components(chain).collect()}
    assert set(ok.values()) == {1}


def _union_find(pairs):
    """Reference components: a pure-Python union-find whose root is
    always the smallest id, i.e. the min-label propagation fixed point."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _random_graph(seed, n_nodes, n_edges):
    rng = random.Random(seed)
    return [tuple(sorted(rng.sample(range(n_nodes), 2))) for _ in range(n_edges)]


@pytest.mark.parametrize(
    "pairs",
    [
        [(1, 2), (2, 3), (3, 4), (4, 5)],
        [(10, 11), (10, 12), (10, 13), (20, 21), (30, 31)],
        [(1, 5), (1, 6), (2, 7), (2, 8), (6, 7)],
        [(5, 1), (9, 5), (2, 9), (7, 3)],  # reversed-order edges
        _random_graph(1, 40, 30),  # many small components
        _random_graph(2, 60, 45),
        _random_graph(3, 25, 40),  # one giant component
        [(i, i + 1) for i in range(1, 33)],  # 33-node chain
    ],
)
def test_star_agrees_with_label_propagation(spark, pairs):
    """Star contraction ends where min-label propagation would: every
    node labelled with the smallest id of its component (computed here
    by union-find)."""
    assert _components(spark, pairs) == _union_find(pairs)


def test_star_handles_long_chain_in_log_rounds(spark):
    """A 33-node chain: min-label propagation would need ~31 rounds; star
    contraction converges within 6 — the O(log n) vs O(diameter)
    difference this algorithm is kept for."""
    chain = [(i, i + 1) for i in range(1, 33)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {r.doc_id: r.component for r in near_dup_components(df, max_iter=6).collect()}
    assert got == {i: 1 for i in range(1, 34)}


def test_edit1_pairs_lossless_vs_brute_force(spark):
    """The FastSS deletion-neighborhood filter is LOSSLESS for ed <= 1:
    substitution, insertion, and deletion pairs are all found; ed-2
    pairs are not emitted. Verified against brute-force levenshtein."""
    from pyspark.sql import functions as F

    from oracle_schema_copy_spark.operators.dedup import edit1_pairs

    names = [
        (1, "kitten"),
        (2, "sitten"),   # substitution of 1
        (3, "kitte"),    # deletion of 1
        (4, "kittens"),  # insertion of 1
        (5, "sittin"),   # ed 2 from kitten -> excluded; ed 1 of sitten
        (6, "zebra"),    # unrelated
        (7, "kitten"),   # exact dup: dist 0 excluded by default
    ]
    df = spark.createDataFrame(names, ["id", "name"])
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit1_pairs(df, id_col="id", name_col="name").collect()
    }
    a = df.selectExpr("id AS id_a", "name AS na")
    b = df.selectExpr("id AS id_b", "name AS nb")
    brute = {
        (r.id_a, r.id_b, r.dist)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.levenshtein("na", "nb").cast("long").alias("dist"))
        .where(F.col("dist") == 1)
        .collect()
    }
    assert got == brute
    assert (1, 2, 1) in got and (1, 3, 1) in got and (1, 4, 1) in got
    assert not any(p[:2] == (1, 5) for p in got)
    # keep_dist0 surfaces exact duplicates too
    with_zero = {
        (r.id_a, r.id_b, r.dist)
        for r in edit1_pairs(
            df, id_col="id", name_col="name", keep_dist0=True
        ).collect()
    }
    assert (1, 7, 0) in with_zero


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit1_pairs_random_batch_matches_reference(spark):
    """Seeded random short strings over a 2-letter alphabet (dense ed-1
    neighborhoods, plenty of indel/substitution/exact cases) vs a
    pure-Python Levenshtein brute force — third-way reference."""
    import random

    from oracle_schema_copy_spark.operators.dedup import edit1_pairs

    rng = random.Random(11)
    rows = [
        (i, "".join(rng.choice("ab") for _ in range(rng.randint(0, 5))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit1_pairs(
            df, id_col="id", name_col="name", keep_dist0=True
        ).collect()
    }
    want = {
        (i, j, _lev(a, b))
        for i, a in rows
        for j, b in rows
        if i < j and _lev(a, b) <= 1
    }
    assert got == want
