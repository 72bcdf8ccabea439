"""Registry / check-order invariants (no SparkSession needed).

The check order is computed from each query's ``changed_in`` tag, the
registry order and the short ``_CHECK_LAST`` list. A ``_CHECK_LAST`` name
with no implementation behind it, or listed twice, fails loudly instead
of silently claiming coverage.
"""

from __future__ import annotations

import pytest

from oracle_schema_copy_spark import queries as q


def test_check_order_names_all_resolve():
    names = list(q.queries())  # raises on ghosts / duplicates
    assert set(q._CHECK_LAST) <= set(names)
    assert len(names) == len(set(names)) == len(q.REGISTRY)


def test_r4_deliverables_are_registered_with_oracles():
    names = q.queries()
    oracles = q.oracle_sql()
    for new in (
        "similarity_topk_lsh_vectorized",
        "copy_tree_lineitem_composite",
        "oplog_atomic_replay_orders",
    ):
        assert new in names and new in oracles


def test_ghost_check_order_name_raises():
    q._CHECK_LAST.append("query_that_does_not_exist")
    try:
        with pytest.raises(ValueError, match="ghosts"):
            q.queries()
    finally:
        q._CHECK_LAST.remove("query_that_does_not_exist")


def test_check_order_is_computed_from_tags_registry_and_last():
    """Tagged names lead, highest tag first with ties in registry order;
    untagged names follow in registry order; untagged ``_CHECK_LAST``
    names close in its order; a tagged ``_CHECK_LAST`` name leads."""
    q._load_all()
    registry = list(q.REGISTRY)
    untagged = [n for n in registry if not q.REGISTRY[n].changed_in]
    a, b, c, d = [n for n in untagged if n not in q._CHECK_LAST][:4]
    listed = q._CHECK_LAST[0]
    tags = {a: 1001, b: 1000, c: 1001, listed: 1000}  # d stays untagged
    q._CHECK_LAST.append(d)
    try:
        for n, t in tags.items():
            q.REGISTRY[n].changed_in = t
        names = list(q.queries())
        assert names[:4] == [a, c, b, listed]
        tagged = [n for n in names if q.REGISTRY[n].changed_in]
        assert names[: len(tagged)] == tagged
        assert [q.REGISTRY[n].changed_in for n in tagged] == sorted(
            (q.REGISTRY[n].changed_in for n in tagged), reverse=True
        )
        last = [n for n in q._CHECK_LAST if not q.REGISTRY[n].changed_in]
        assert names[len(names) - len(last) :] == last
        assert names[-1] == d
        middle = names[len(tagged) : len(names) - len(last)]
        assert middle == [n for n in registry if n not in tagged and n not in last]
        assert list(q.oracle_sql()) == [n for n in names if q.REGISTRY[n].oracle]
    finally:
        q._CHECK_LAST.remove(d)
        for n in tags:
            q.REGISTRY[n].changed_in = 0


def test_never_driver_checked_queries_lead_check_order():
    """VERDICT r4 ask #1 (generalized in r6 to every recorded round):
    queries with no driver row in ANY committed CORRECTNESS_r*.json round record must
    occupy the contiguous front of the check order, so the next driver
    budget lands on exactly the zero-evidence set first."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: set[str] = set()
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r[0-9]*.json")):
        seen |= set(json.load(open(f)))
    names = list(q.queries())
    never = [n for n in names if n not in seen]
    if not never:  # every registered query already has a driver row
        return
    # every never-checked name must appear before every already-checked one
    last_never = max(names.index(n) for n in never)
    assert last_never == len(never) - 1, (
        "never-driver-checked queries are not contiguous at the front: "
        f"{[n for n in names[: last_never + 1] if n in seen]}"
    )


def test_driver_mimic_unknown_only_name_fails_fast():
    """VERDICT r4 "what's wrong" #1: a typo'd --only name must exit
    non-zero naming the unknowns, before any Spark work."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, "tools/driver_mimic.py", "/root/testdata/sf0.001", "nope_xyz"],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode == 2
    assert "nope_xyz" in p.stdout


def test_duplicate_check_order_name_raises():
    q._CHECK_LAST.append(q._CHECK_LAST[0])
    try:
        with pytest.raises(ValueError, match="twice"):
            q.queries()
    finally:
        q._CHECK_LAST.pop()
