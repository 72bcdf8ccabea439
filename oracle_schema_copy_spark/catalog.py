"""Catalog: table / primary-key / foreign-key metadata and graph utilities.

Reimplements (Spark-first, from scratch) the metadata layer of the
reference utility:

- ``FkEdge``     ≈ ForeignKeyRelationship (reference
  ``src/main/java/com/github/ForeignKeyRelationship.java:10-32``)
- path DSL ``"PARENT->CHILD.FK_COL"`` (reference ``CopyUtils.java:21,59-97``)
- topological table ordering, Kahn's algorithm (reference
  ``CopyUtils.java:576-619``)
- edge exclusion filters ``"CHILD.ccol=PARENT.pcol"`` (reference
  ``CopyUtils.java:460-469``) and table-set exclusion (reference
  ``GradleUtils.groovy:18-23``)

Unlike the reference we support composite primary keys (the reference
raises on them, ``CopyUtils.java:410-412``); the path DSL still addresses a
single key column, which is the common fast path.

All of this is *driver-side config parsing* over tiny metadata — the data
plane never touches it. At 100 TB the number of tables/edges is still
O(hundreds), so plain Python structures are the right tool; key frontiers
and row data stay in DataFrames (see operators/walk.py).
"""

from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass, field

# Same DSL grammar as the reference's LINK_PATTERN (CopyUtils.java:21).
LINK_PATTERN = re.compile(r"(\w+)->(\w+)\.(\w+)")
EXCLUSION_PATTERN = re.compile(r"(\w+)\.(\w+)=(\w+)\.(\w+)")


@dataclass(frozen=True)
class FkEdge:
    """A foreign-key edge: child.child_column references parent.parent_column."""

    name: str
    parent_table: str
    parent_column: str
    child_table: str
    child_column: str

    def matches_exclusion(self, excl: str) -> bool:
        """True if ``excl`` ("A.acol=B.bcol", either orientation) names this edge."""
        m = EXCLUSION_PATTERN.fullmatch(excl.strip())
        if not m:
            raise ValueError(f"bad exclusion spec: {excl!r}")
        t1, c1, t2, c2 = (s.lower() for s in m.groups())
        mine = {
            (self.child_table.lower(), self.child_column.lower()),
            (self.parent_table.lower(), self.parent_column.lower()),
        }
        return mine == {(t1, c1), (t2, c2)}


def parse_path(path: str, pk_of: dict[str, str]) -> FkEdge:
    """Parse one ``"PARENT->CHILD.FK_COL"`` path into an FkEdge.

    ``pk_of`` maps table -> its (single) key column; the parent side of the
    edge joins on the parent's primary key, as in the reference walk.
    """
    m = LINK_PATTERN.fullmatch(path.strip())
    if not m:
        raise ValueError(f"bad path spec: {path!r} (expected PARENT->CHILD.FK_COL)")
    parent, child, fk_col = m.groups()
    parent, child, fk_col = parent.lower(), child.lower(), fk_col.lower()
    if parent not in pk_of:
        raise KeyError(f"no primary key registered for parent table {parent!r}")
    return FkEdge(
        name=f"{parent}->{child}.{fk_col}",
        parent_table=parent,
        parent_column=pk_of[parent],
        child_table=child,
        child_column=fk_col,
    )


def parse_paths(paths: list[str], pk_of: dict[str, str]) -> list[FkEdge]:
    return [parse_path(p, pk_of) for p in paths]


def tables_from_paths(paths: list[str]) -> set[str]:
    """All table names mentioned by a list of path specs."""
    out: set[str] = set()
    for p in paths:
        m = LINK_PATTERN.fullmatch(p.strip())
        if not m:
            raise ValueError(f"bad path spec: {p!r}")
        out.add(m.group(1).lower())
        out.add(m.group(2).lower())
    return out


def root_table_of_paths(paths: list[str]) -> str:
    """The walk's seed table: the parent of the first declared path."""
    if not paths:
        raise ValueError("empty path list: a walk needs at least one PARENT->CHILD.FK_COL path")
    m = LINK_PATTERN.fullmatch(paths[0].strip())
    if not m:
        raise ValueError(f"bad path spec: {paths[0]!r}")
    return m.group(1).lower()


def filter_edges(edges: list[FkEdge], exclusions: list[str]) -> list[FkEdge]:
    """Drop edges named by exclusion strings (tested in both orientations)."""
    return [e for e in edges if not any(e.matches_exclusion(x) for x in exclusions)]


def exclude_tables(tables: list[str], excluded: set[str] | list[str]) -> list[str]:
    ex = {t.lower() for t in excluded}
    return [t for t in tables if t.lower() not in ex]


def edges_by_table(edges: list[FkEdge]) -> dict[str, list[FkEdge]]:
    """Group edges by every table they touch (child or parent side)."""
    out: dict[str, list[FkEdge]] = defaultdict(list)
    for e in edges:
        out[e.parent_table].append(e)
        if e.child_table != e.parent_table:
            out[e.child_table].append(e)
    return dict(out)


def topo_sort(tables: list[str], edges: list[FkEdge]) -> list[str]:
    """Order tables parent-before-child (safe FK load order), Kahn's algorithm.

    Self-referencing edges are ignored; a cycle raises. Ties are broken
    alphabetically so the output is deterministic (and SQL-checkable).
    """
    tset = [t.lower() for t in tables]
    deps: dict[str, set[str]] = {t: set() for t in tset}
    children: dict[str, set[str]] = {t: set() for t in tset}
    for e in edges:
        p, c = e.parent_table, e.child_table
        if p == c or p not in deps or c not in deps:
            continue
        deps[c].add(p)
        children[p].add(c)
    out: list[str] = []
    ready = sorted(t for t, d in deps.items() if not d)
    pending = {t for t, d in deps.items() if d}
    while ready:
        t = ready.pop(0)
        out.append(t)
        newly = sorted(
            c for c in children[t] if c in pending and not (deps[c] - set(out))
        )
        for c in newly:
            pending.discard(c)
        ready = sorted(set(ready) | set(newly))
    if pending:
        raise ValueError(
            f"could not make forward progress ordering tables (cycle among {sorted(pending)})"
        )
    return out


def topo_depth(tables: list[str], edges: list[FkEdge]) -> dict[str, int]:
    """Longest-path depth per table (0 = no parents). Deterministic; the
    SQL-oracle twin is a recursive CTE over the edge list."""
    order = topo_sort(tables, edges)
    parents: dict[str, set[str]] = defaultdict(set)
    for e in edges:
        if e.parent_table != e.child_table:
            parents[e.child_table].add(e.parent_table)
    depth: dict[str, int] = {}
    for t in order:
        depth[t] = 1 + max((depth[p] for p in parents[t] if p in depth), default=-1)
    return depth


@dataclass
class Catalog:
    """Registry of tables (name -> parquet path or JDBC spec), PKs and FK edges."""

    paths: dict[str, str] = field(default_factory=dict)
    primary_keys: dict[str, tuple[str, ...]] = field(default_factory=dict)
    edges: list[FkEdge] = field(default_factory=list)

    def register(self, name: str, path: str, pk: tuple[str, ...] | str | None = None) -> None:
        name = name.lower()
        self.paths[name] = path
        if pk is not None:
            self.primary_keys[name] = (pk,) if isinstance(pk, str) else tuple(pk)

    def add_edge(self, parent: str, parent_col: str, child: str, child_col: str) -> None:
        self.edges.append(
            FkEdge(
                name=f"{parent}->{child}.{child_col}",
                parent_table=parent.lower(),
                parent_column=parent_col.lower(),
                child_table=child.lower(),
                child_column=child_col.lower(),
            )
        )

    def single_pk(self, table: str) -> str:
        """The reference-compatible single-column PK fast path.

        The reference *errors* on composite PKs (CopyUtils.java:410-412); we
        support them elsewhere but path-DSL walks address one column.
        """
        pk = self.primary_keys[table.lower()]
        if len(pk) != 1:
            raise ValueError(
                f"table {table} has more than one column in its primary key; "
                "path-DSL walks require a single key column"
            )
        return pk[0]

    def topo_order(self, tables: list[str] | None = None) -> list[str]:
        return topo_sort(tables or sorted(self.paths), self.edges)


def tpch_catalog(sf_dir: str) -> Catalog:
    """The test-fixture catalog (TESTDATA.md / FIXTURES.md): TPC-H-ish star
    schema + events/documents/embeddings extension tables."""
    cat = Catalog()
    pks: dict[str, tuple[str, ...]] = {
        "region": ("r_regionkey",),
        "nation": ("n_nationkey",),
        "customer": ("c_custkey",),
        "supplier": ("s_suppkey",),
        "part": ("p_partkey",),
        "orders": ("o_orderkey",),
        "lineitem": ("l_orderkey", "l_linenumber"),  # composite; walks use l_orderkey
        "events": ("event_id",),
        "documents": ("doc_id",),
        "embeddings": ("vec_id",),
    }
    for name, pk in pks.items():
        cat.register(name, f"{sf_dir}/{name}.parquet", pk)
    cat.add_edge("region", "r_regionkey", "nation", "n_regionkey")
    cat.add_edge("nation", "n_nationkey", "customer", "c_nationkey")
    cat.add_edge("nation", "n_nationkey", "supplier", "s_nationkey")
    cat.add_edge("customer", "c_custkey", "orders", "o_custkey")
    cat.add_edge("orders", "o_orderkey", "lineitem", "l_orderkey")
    cat.add_edge("part", "p_partkey", "lineitem", "l_partkey")
    cat.add_edge("supplier", "s_suppkey", "lineitem", "l_suppkey")
    return cat
