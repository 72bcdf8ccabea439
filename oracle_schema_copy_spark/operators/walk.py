"""FK-subgraph selection: the engine's flagship query capability.

Given seed key values in a root table and an ordered list of FK paths
("PARENT->CHILD.FK_COL"), walk the foreign-key graph breadth-wise and
compute, per table, exactly the set of reachable primary keys; then copy
(or delete) those rows.

Reference behavior being re-expressed (not ported):
- walk         ≈ ``walkLinked``      (``CopyUtils.java:533-574``)
- child probe  ≈ ``findLinkedRows``  (``CopyUtils.java:480-531``)
- keyed scan   ≈ ``exportTable(criteriaColumn, ids)`` (``CopyUtils.java:621-670``)
- copy + count assertion ≈ ``copySelections`` (``CopyUtils.java:33-47``)
- delete       ≈ ``deleteSelections`` (``CopyUtils.java:23-31``)

Spark-first design: the reference batches key lists into 500-element
IN-list SQL statements; here every probe is a single ``left_semi`` join
whose build side is the (bounded, cached) key-frontier DataFrame — Catalyst
broadcasts it when small, shuffles when not, and AQE re-plans at runtime.
No driver-side collect of data rows ever happens: the copy assertion is
ONE action after the writes, which collects one row of counts per table
over a single exchange each. Seed values are de-duplicated on the driver
and never cached, so the root frontier costs no job. The walk caches a
root DataFrame and its key frontiers; a verb that hands the
selections to a sink releases them when it returns (:func:`release`), so
a long-lived session holds no cache blocks between verbs.

Semantic deltas from the reference, on purpose (SURVEY.md §4 quirks):
- when two declared edges reach the same child table, reachable key sets
  are UNIONED (the reference overwrites, ``CopyUtils.java:566-567``);
- seed/frontier keys are de-duplicated before counting, so the copy
  assertion holds under duplicate root ids;
- composite-PK tables are first-class: the reference hard-errors on them
  (``CopyUtils.java:410-412``); here a materialized frontier carries ALL
  primary-key columns, selections semi/anti-join on the full composite
  key, and the copy assertion counts distinct composite tuples. Edges OUT
  of a composite-PK parent still probe via the single declared
  FK-referenced column (``FkEdge.parent_column``) — a single-column FK
  cannot address a composite parent key, matching SQL FK semantics.
- full-PK frontiers are materialized ONLY for tables probed again later
  (parents of a later edge, or reached by several edges). Leaf tables —
  typically the widest fact tables — are selected by their FK column
  against the parent probe (a :class:`TableSelection` that is not
  ``exact``); see ``walk_linked``.
- a leaf delete removes every target row whose FK holds a parent probe
  key, not only the PK tuples the source holds: every target child of a
  deleted parent goes, which an FK-enforcing target needs. A table
  reached by several edges stays exact, deleted by its full key.

One join rule: every join of a frame to a key frame — the keyed scan, the
child probe, a selection's rows and delete, ``mutate.delete_by_keys``,
``mutate.merge_upsert`` and the merge-on-read anti-join — is
:func:`_keyed_join`, a ``left_semi`` / ``left_anti`` join ``on=`` the key
column NAMES that keeps the frame's own column order. A Column-reference
condition (``df[c] == keys[c]``) between a frame and a key frame taken
from that same frame is ambiguous: both sides carry the same attribute,
and it resolves correctly only through Spark's self-join
auto-resolution (SPARK-6231, ``spark.sql.selfJoinAutoResolveAmbiguity``).
With that setting off, such a delete removed every row and such a copy
failed its check. A join by name resolves each side on its own.

Scale: frontiers are cached and typically tiny relative to the fact
tables (the use case is subgraph extraction), so every probe compiles to
a broadcast semi-join against a full scan of the child. The broadcast
decision is deliberately LEFT TO THE PLANNER (no explicit hint): an
explicit ``F.broadcast`` is honored regardless of size, so a frontier of
10^8 keys would be collected to the driver and OOM it — whereas the
size-threshold planner plus AQE (which re-plans a shuffled join into a
broadcast join from the runtime map-stage statistics, reading the big
side with local shuffle readers) broadcasts exactly when it's safe. The
one exception is :func:`seed_frame`, whose rows the driver already holds.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable, Iterable, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from oracle_schema_copy_spark.catalog import Catalog, FkEdge, parse_paths, root_table_of_paths


def key_cols(key_columns: str | Sequence[str]) -> list[str]:
    """The one key-column rule: a bare name is a one-column key."""
    return [key_columns] if isinstance(key_columns, str) else list(key_columns)


def key_frame(keys: DataFrame, key_columns: str | Sequence[str]) -> DataFrame:
    """The one pairing rule for a key frame: returns ``keys`` with exactly
    ``key_columns``, in that order. When every key column is in the frame
    the columns pair BY NAME (extra columns are dropped); otherwise they
    pair BY POSITION and the arities must match — a shorter key frame
    would silently delete/select on the leading columns alone. Every
    keyed delete and keyed scan goes through here (DeleteByPk's one key
    rule, ``DeleteByPk.java:15-43``)."""
    cols = key_cols(key_columns)
    if list(keys.columns) == cols:
        return keys
    if set(cols) <= set(keys.columns):
        return keys.select(*cols)
    if len(keys.columns) != len(cols):
        raise ValueError(
            f"key frame arity mismatch: columns {keys.columns} vs key columns {cols}"
        )
    return keys.toDF(*cols)


def _keyed_join(df: DataFrame, on: str | Sequence[str], keys: DataFrame, how: str) -> DataFrame:
    """The one keyed join: rows of ``df`` whose ``on`` columns match
    (``left_semi``) or match no (``left_anti``) row of ``keys``, which pairs
    with ``on`` by :func:`key_frame`. Joins by column name and returns
    ``df``'s columns in their own order (a USING join puts the keys first).
    The build side is not de-duplicated: semi/anti output does not change
    with build-side duplicates."""
    cols = key_cols(on)
    return df.join(key_frame(keys, cols), on=cols, how=how).select(*df.columns)


class TableSelection:
    """The rows of ``table`` whose ``on`` columns match a row of ``probe``
    (``probe``'s columns pair with ``on`` by :func:`key_frame`).

    ``exact`` says what the probe is. An exact selection's probe is the
    table's own (possibly composite) key tuples (``on`` is
    ``key_columns``), and a copy must match every one of them. The walk
    builds one for the root and for every table it probes again or
    reaches by several edges. Otherwise the probe holds the parent keys of
    an FK edge, ``on`` is the FK column, and a parent key with no child is
    legitimate: this is the scale path for wide fact tables at the edge of
    the walk, which never materialize a PK frontier (the r3 implementation
    cached the full composite PK of every walked table, which made the
    widest leaf the walk's bottleneck for zero benefit).

    Every verb reads a selection as ``(on, probe)``: a copy semi-joins on
    it, a delete anti-joins on it, and ``Engine.delete_tree`` hands it to
    the target as the delete's key columns and keys. ``cached`` lists the
    frames the walk cached for this table; :func:`release` unpersists
    them."""

    def __init__(
        self,
        table: str,
        key_columns: str | Sequence[str],
        probe: DataFrame,
        *,
        on: str | Sequence[str] | None = None,
        exact: bool = True,
        cached: Sequence[DataFrame] = (),
    ):
        self.table = table
        self.key_columns: tuple[str, ...] = tuple(key_cols(key_columns))
        self.on: tuple[str, ...] = tuple(key_cols(on)) if on is not None else self.key_columns
        if exact and self.on != self.key_columns:
            raise ValueError(f"an exact selection of {table} must match on its key columns")
        self.probe = probe
        self.exact = exact
        self.cached: list[DataFrame] = list(cached)


def keyed_scan(
    table_df: DataFrame, key_columns: str | Sequence[str], keys: DataFrame
) -> DataFrame:
    """Rows of ``table_df`` whose key column(s) appear in ``keys`` (S2):
    a left-semi join whose build side the planner/AQE broadcasts when
    under the size threshold and shuffles when not (no forced hint; see
    module docstring)."""
    return _keyed_join(table_df, key_columns, keys, "left_semi")


def find_linked_rows(
    child_df: DataFrame,
    child_column: str,
    child_pk: str | Sequence[str],
    parent_keys: DataFrame,
) -> DataFrame:
    """Child PKs whose FK column matches any parent key (S3): semi-join
    probe. ``child_pk`` may be composite, or any projection, so the set
    is de-duplicated (a walk frontier, a full PK, needs no distinct)."""
    rows = _keyed_join(child_df, child_column, parent_keys, "left_semi")
    return rows.select(*key_cols(child_pk)).distinct()


def seed_frame(
    spark: SparkSession, key_columns: str | Sequence[str], values: Iterable
) -> DataFrame:
    """Build the root key frontier from driver-side seed values (bounded).
    For composite keys pass tuple values matching ``key_columns`` order.
    Duplicate values are dropped on the driver, first occurrence kept, so
    the frontier costs no shuffle job; the walk does not cache it (that
    would only add the job that fills the cache).

    The frame carries a broadcast hint, the one explicit hint of the walk:
    its rows already sit in driver memory, so the hint cannot make the
    driver hold more than it does. Without it the planner sizes the frame
    from its RDD (``Long.MaxValue`` bytes, as for any ``createDataFrame``),
    so every join with it would plan a sort-merge join and shuffle the
    whole table."""
    cols = key_cols(key_columns)
    vals = [tuple(v) if isinstance(v, (tuple, list)) else (v,) for v in values]
    return F.broadcast(spark.createDataFrame(list(dict.fromkeys(vals)), cols))


def walk_linked(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    catalog: Catalog,
    paths: list[str],
    root_ids: Iterable | DataFrame,
) -> list[TableSelection]:
    """Walk declared FK edges in order, accumulating reachable keys per table.

    Each declared edge is evaluated exactly once, in order (a bounded
    transitive closure over a user-declared DAG — not a fixpoint, matching
    the reference). Raises if an edge's parent table was never reached.
    ``root_ids`` is seed values (an uncached :func:`seed_frame`), or a
    DataFrame paired with the root's key columns by :func:`key_frame`,
    de-duplicated and cached.

    Frontier materialization policy (the 100 TB-relevant decision): a
    child's full-PK frontier is computed and cached ONLY when it will be
    probed again — the child parents a later edge — or when several edges
    reach it (union semantics need a key-set form). It is the PK
    projection of the child's semi-join: no ``distinct``, a PK is unique.
    Every other child is a LEAF: its selection is the semi-join of its FK
    column against the parent probe, so the widest fact tables at the
    walk's edge never pay a cache of their composite PK (the r3
    regression: ~600k 2-column tuples cached per walk at sf0.1, 3× the
    whole walk's runtime).
    """
    edges: list[FkEdge] = parse_paths(paths, _walk_pks(catalog))
    root_table = root_table_of_paths(paths)
    root_pk = _walk_pk_cols(catalog, root_table)

    if isinstance(root_ids, DataFrame):
        roots = key_frame(root_ids, root_pk).distinct().cache()
        cached = [roots]
    else:
        roots, cached = seed_frame(spark, root_pk, root_ids), []

    parents_probed = {e.parent_table for e in edges}
    n_edges_in = Counter(e.child_table for e in edges)
    sels = {root_table: TableSelection(root_table, root_pk, roots, cached=cached)}

    for edge in edges:
        parent = sels.get(edge.parent_table)
        if parent is None:
            raise ValueError(f"could not find path to {edge.parent_table}")
        child = edge.child_table
        child_pk = _walk_pk_cols(catalog, child)
        # a parent is probed again, so its probe is its key frontier. A
        # single-column FK probes one parent column; composite-PK parent
        # frontiers project down to the FK-referenced column for the probe
        if list(parent.probe.columns) == [edge.parent_column]:
            probe = parent.probe
        else:
            probe = parent.probe.select(edge.parent_column).distinct()
        if child in parents_probed or n_edges_in[child] > 1:
            found = _keyed_join(tables[child], edge.child_column, probe, "left_semi")
            found = found.select(*child_pk)  # a PK projection: no distinct
            prev = sels.get(child)
            # union semantics (reference overwrites here — documented
            # delta); duplicates across edges are tolerated
            frontier = (found if prev is None else prev.probe.union(found)).cache()
            cached = [*(prev.cached if prev else ()), frontier]
            sels[child] = TableSelection(child, child_pk, frontier, cached=cached)
        else:
            # leaf: the rows are the FK semi-join, no PK frontier
            sels[child] = TableSelection(child, child_pk, probe, on=edge.child_column, exact=False)
    return list(sels.values())


def _counted(found: DataFrame, want: DataFrame, on: Sequence[str], table: str) -> DataFrame:
    """One row of ``table``'s check counts over ONE exchange: ``found`` and
    ``want`` (paired with ``on`` by :func:`key_frame`) are tagged and
    unioned, the grouping by ``(tag, *on)`` is the shuffle, and
    ``coalesce(1)`` merges its groups in one task for the global aggregate.
    ``n_found`` / ``n_want`` count each side's distinct ``on`` tuples with
    no NULL part (as ``count_distinct``), ``rows_found`` found's rows. An
    empty side still yields the row: the aggregate is global, not by side."""
    cols = list(on)
    sides = found.select(F.lit(True).alias("__found"), *cols).unionByName(
        key_frame(want, cols).select(F.lit(False).alias("__found"), *cols)
    )
    groups = sides.groupBy("__found", *cols).agg(F.count(F.lit(1)).alias("__rows")).coalesce(1)
    whole = F.lit(True)
    for c in cols:
        whole = whole & F.col(c).isNotNull()
    is_found = F.col("__found")
    return groups.agg(
        F.count(F.when(is_found & whole, 1)).alias("n_found"),
        F.coalesce(F.sum(F.when(is_found, F.col("__rows"))), F.lit(0)).alias("rows_found"),
        F.count(F.when(~is_found & whole, 1)).alias("n_want"),
    ).select(F.lit(table).alias("table_name"), "n_found", "rows_found", "n_want")


def _collect_counts(parts: list[DataFrame]) -> dict:
    """Run the per-table one-row aggregates as ONE action; keyed by
    table."""
    checks = parts[0]
    for part in parts[1:]:
        checks = checks.unionByName(part)
    return {r.table_name: r for r in checks.collect()}


def copy_selections(
    tables: dict[str, DataFrame],
    selections: list[TableSelection],
    insert: Callable[[str, DataFrame], DataFrame | None] | None = None,
) -> tuple[dict[str, DataFrame], dict[str, int]]:
    """Materialize each selection's rows (G3); returns ``(frames, rows)``
    — the selected frame and its row count per table. Asserts per-table
    that the copied rows cover every requested key, like the reference's
    post-copy verification (``CopyUtils.java:44-46``) — but set-based:
    composite-PK tables may legitimately yield more rows than keys.

    Each selection's copied rows are checked against its probe on its
    ``on`` columns: an exact selection must match its key set exactly
    (``==`` on distinct key tuples); otherwise the distinct FK values in
    the copied rows can never exceed the probe key count (``<=``, not
    ``==`` — a probe key with zero children is legitimate), and a violated
    bound means the join selected foreign rows.

    The check is ONE action, after the last write. Per table it counts a
    want side (the distinct probe tuples) and a found side (distinct
    ``on`` tuples and ``count(*)`` of the copied rows) with
    :func:`_counted`, one exchange for both sides; the per-table rows are
    unioned and collected together (AQE still submits one Spark job per
    query stage) and reconciled driver-side. A table's two sides union
    with no cast (r13 measured ALL tables' raw keys under one
    ``array<string>`` encoding 2.2x slower at sf0.1: per-row casts).

    With ``insert`` (``Engine.copy_tree`` passes ``target.insert``) each
    selection is first handed to ``insert`` once, wrapped in an
    ``observe(count(*))``, in the reference's order — copy, then assert.
    ``insert`` may return the frame that landed (file and warehouse
    targets read back exactly the files they wrote), and the found side
    then counts what landed; a target that returns nothing (JDBC), and
    every selection without ``insert`` (the registered queries, whose
    returned frames are the copy), is counted on the selected frame.

    Beside the ``==`` / ``<=`` rules, every table that returned a landed
    frame must have landed exactly the rows it was handed (the observed
    count): this catches a sink that drops or duplicates rows, leaf rows
    included. The observation is read only after the found side proves
    the write ran, and a missing count raises — it never reads as
    ``0 == 0``. A failed check therefore raises AFTER the write. The
    returned row counts are the found side's ``count(*)``.
    """
    out = {s.table: _keyed_join(tables[s.table], s.on, s.probe, "left_semi") for s in selections}
    if not selections:
        return out, {}

    landed: dict[str, DataFrame] = {}
    handed: dict[str, Observation] = {}
    if insert is not None:
        for sel in selections:
            obs = Observation()
            got = insert(sel.table, out[sel.table].observe(obs, F.count(F.lit(1)).alias("rows")))
            if got is not None:
                landed[sel.table], handed[sel.table] = got, obs
    counts = _collect_counts([
        _counted(landed.get(s.table, out[s.table]), s.probe, s.on, s.table) for s in selections
    ])

    for sel in selections:
        # direct indexing, not .get(..., 0): an empty side still yields
        # its table's row, so a MISSING row means the check action lost an
        # aggregate — fail loudly (KeyError), never let 0 == 0 pass
        n_found = counts[sel.table].n_found
        n_keys = counts[sel.table].n_want
        if sel.exact and n_found != n_keys:
            raise AssertionError(
                f"selection copy of {sel.table} matched {n_found} of {n_keys} keys"
            )
        if n_found > n_keys:
            raise AssertionError(
                f"selection of {sel.table} carried {n_found} distinct "
                f"{', '.join(sel.on)} values but the probe held only {n_keys}"
            )
    for t, obs in handed.items():
        try:
            n_handed = obs.get["rows"]
        except (Py4JJavaError, KeyError) as e:  # the plan lost its observation
            raise AssertionError(f"sink for {t} reported no handed-row count") from e
        n_landed = counts[t].rows_found
        if n_handed != n_landed:
            raise AssertionError(f"sink for {t} was handed {n_handed} rows but {n_landed} landed")
    return out, {t: counts[t].rows_found for t in out}


def delete_selections(
    tables: dict[str, DataFrame], selections: list[TableSelection]
) -> dict[str, DataFrame]:
    """Per-table surviving rows after deleting each selection (G4): anti-join.

    Child-before-parent ordering is the caller's responsibility via path
    order, as in the reference; on immutable parquet the result is a
    rewrite, so ordering only matters for JDBC targets.

    A selection that is not exact anti-joins on its FK column against the
    parent probe — set-equivalent to the PK anti-join (the selected rows
    are exactly those whose FK hits the probe) without materializing a PK
    frontier.
    """
    return {s.table: _keyed_join(tables[s.table], s.on, s.probe, "left_anti") for s in selections}


def copy_tree(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    catalog: Catalog,
    paths: list[str],
    root_ids: Iterable | DataFrame,
) -> tuple[dict[str, DataFrame], dict[str, int]]:
    """walk + copy: the reference's ``copyTree`` verb (``Main.java:142-155``).
    Returns :func:`copy_selections`' ``(frames, rows)``."""
    sels = walk_linked(spark, tables, catalog, paths, root_ids)
    return copy_selections(tables, sels)


def delete_tree(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    catalog: Catalog,
    paths: list[str],
    root_ids: Iterable | DataFrame,
) -> dict[str, DataFrame]:
    """walk + delete: the reference's ``deleteTree`` verb (``Main.java:156-169``)."""
    sels = walk_linked(spark, tables, catalog, paths, root_ids)
    return delete_selections(tables, sels)


def release(selections: list[TableSelection]) -> None:
    """Unpersist every frame the walk cached for ``selections`` — a root
    DataFrame and the frontiers (superseded union inputs included) —
    dependents first. Verbs that hand their selections to a sink call this
    in a ``finally``; frames still built on the selections recompute
    instead of reading the caches."""
    for sel in reversed(selections):
        while sel.cached:
            sel.cached.pop().unpersist(blocking=True)


def _walk_pk_cols(catalog: Catalog, table: str) -> tuple[str, ...]:
    """Key columns identifying rows of ``table`` during a walk: the full
    (possibly composite) primary key."""
    return catalog.primary_keys[table.lower()]


def _walk_pks(catalog: Catalog) -> dict[str, str]:
    """Leading PK column per table — the column a single-column FK edge
    references when addressing the table as a *parent* (path parsing)."""
    return {t: pk[0] for t, pk in catalog.primary_keys.items()}
