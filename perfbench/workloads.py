"""The workloads. Each is a closed loop with one client: the worker
calls ``cycle`` repeatedly, and every engine verb or operator call inside
it goes through ``ctx.op``, which times it and then runs its output check
outside the timed region.

A workload draws every random choice from its own ``numpy`` generator,
seeded from the workload seed, and computes its expected outputs with
DuckDB during set-up.
"""

from __future__ import annotations

import json
import os
import shutil
from statistics import median

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import TPCH_TABLES
from tracing import dir_bytes, parquet_rows

LEAF_PATHS = ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"]
MULTI_PATHS = [
    "NATION->CUSTOMER.C_NATIONKEY",
    "NATION->SUPPLIER.S_NATIONKEY",
    "CUSTOMER->ORDERS.O_CUSTKEY",
    "ORDERS->LINEITEM.L_ORDERKEY",
    "SUPPLIER->LINEITEM.L_SUPPKEY",
]
PLAN_REQUESTS = 64  # requests planned ahead; more than any run completes


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def p50(xs) -> float | None:
    return median(xs) if xs else None


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # one thread: expectations are computed while the JVM starts
    con.execute("SET threads=1")
    for f in sorted(os.listdir(data_dir)):
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{f}'")
    return con


class Workload:
    name = ""

    def expect(self, ctx) -> None:
        """Untimed DuckDB-only set-up (plans and expected outputs); runs
        while the Spark session starts, so it may not touch ``ctx.spark``."""

    def prepare(self, ctx) -> None:
        """Untimed Spark set-up: targets and replicas."""

    def cycle(self, ctx, i: int) -> None:
        raise NotImplementedError

    def metrics(self, ops: list) -> dict:
        """Workload-specific end-to-end metrics over the timed ops."""
        return {}

    def close(self, ctx) -> None:
        pass


def _verb_stats(ops, verb: str, unit: str = "s") -> dict:
    xs = sorted(o.seconds for o in ops if o.name == verb)
    out = {f"{verb}_p50_s": (p50(xs), unit, len(xs))}
    # a tail percentile only where at least ten samples lie beyond it
    if len(xs) >= 20:
        q = 90 if len(xs) < 100 else 99
        out[f"{verb}_p{q}_s"] = (xs[int(len(xs) * q / 100)], unit, len(xs))
    return out


def _rate(ops, verb: str) -> float | None:
    sel = [o for o in ops if o.name == verb]
    t = sum(o.seconds for o in sel)
    return sum(o.rows for o in sel) / t if t else None


# ---------------------------------------------------------------------------


class SubgraphExtract(Workload):
    """One long-lived Engine serving a seeded stream of copy_tree
    requests; even requests walk the leaf path into a warehouse target,
    odd ones the multi-edge path set into a fresh oplog file target. Each
    request also deletes a disjoint customer subgraph from a replica."""

    name = "subgraph_extract"

    def expect(self, ctx) -> None:
        con = duck(ctx.data_dir)
        rng = ctx.rng
        buyers = np.array(sorted(r[0] for r in con.sql(
            "SELECT DISTINCT o_custkey FROM orders").fetchall()))
        nations = np.array(sorted(r[0] for r in con.sql(
            "SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier"
        ).fetchall()))
        pool = rng.permutation(buyers)
        taken = 0
        self.plan = []
        leaf_sets: list[list[int]] = []
        for r in range(PLAN_REQUESTS):
            if r % 2 == 0:
                if leaf_sets and r % 6 == 4:  # every third leaf request repeats one
                    seeds = leaf_sets[int(rng.integers(0, len(leaf_sets)))]
                else:
                    seeds = sorted(int(x) for x in rng.choice(
                        buyers, int(rng.choice((1, 4, 16, 64))), replace=False))
                    leaf_sets.append(seeds)
                kind = "leaf"
            else:
                seeds, kind = [int(rng.choice(nations))], "multi"
            n_del = min(int(rng.choice((1, 4, 16))), len(buyers) // PLAN_REQUESTS)
            dels = sorted(int(x) for x in pool[taken:taken + n_del])
            taken += n_del
            check(len(dels) == n_del, "customer pool too small for the delete plan")
            self.plan.append((kind, seeds, dels))
        self.want_copy = [self._expected(con, k, s) for k, s, _ in self.plan]
        self.want_del = [self._expected(con, "leaf", d) for _, _, d in self.plan]
        for w in self.want_copy + self.want_del:
            check(all(v > 0 for v in w.values()), f"empty expected subgraph {w}")
        self.scanned = {
            k: sum(ctx.table_rows[t] for t in tabs)
            for k, tabs in (("leaf", ("customer", "orders", "lineitem")),
                            ("multi", ("nation", "customer", "supplier", "orders", "lineitem")))
        }
        con.close()

    def prepare(self, ctx) -> None:
        self.copies = ctx.engine.create_warehouse_target(os.path.join(ctx.root, "copies"))
        self.copied = {}
        # the replica is a warehouse of byte copies of the source files:
        # set-up spends no Spark job on it
        self.replica = ctx.engine.create_warehouse_target(os.path.join(ctx.root, "replica"))
        for t in ("customer", "orders", "lineitem"):
            os.makedirs(self.replica.wh._dir(t))  # noqa: SLF001
            shutil.copy(os.path.join(ctx.data_dir, f"{t}.parquet"),
                        os.path.join(self.replica.wh._dir(t), "part-0.parquet"))  # noqa: SLF001
        self.remaining = {t: ctx.table_rows[t] for t in ("customer", "orders", "lineitem")}
        self.req = 0

    @staticmethod
    def _expected(con, kind: str, seeds: list[int]) -> dict[str, int]:
        keys = ",".join(map(str, seeds))
        if kind == "leaf":
            q = f"""
            WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey IN ({keys})),
            o AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT * FROM c))
            SELECT (SELECT count(*) FROM c), (SELECT count(*) FROM o),
                   (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT * FROM o))"""
            return dict(zip(("customer", "orders", "lineitem"), con.sql(q).fetchone()))
        q = f"""
        WITH n AS (SELECT n_nationkey FROM nation WHERE n_nationkey IN ({keys})),
        c AS (SELECT c_custkey FROM customer WHERE c_nationkey IN (SELECT * FROM n)),
        s AS (SELECT s_suppkey FROM supplier WHERE s_nationkey IN (SELECT * FROM n)),
        o AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT * FROM c)),
        l AS (SELECT l_orderkey, l_linenumber FROM lineitem
              WHERE l_orderkey IN (SELECT * FROM o) OR l_suppkey IN (SELECT * FROM s))
        SELECT (SELECT count(*) FROM n), (SELECT count(*) FROM c), (SELECT count(*) FROM s),
               (SELECT count(*) FROM o), (SELECT count(*) FROM l)"""
        return dict(zip(("nation", "customer", "supplier", "orders", "lineitem"),
                        con.sql(q).fetchone()))

    def cycle(self, ctx, i: int) -> None:
        for _ in range(2):
            self._request(ctx, self.req)
            self.req += 1

    def _request(self, ctx, r: int) -> None:
        check(r < len(self.plan), "request plan exhausted")
        kind, seeds, dels = self.plan[r]
        want = self.want_copy[r]
        if kind == "leaf":
            target = self.copies
        else:
            log = os.path.join(ctx.root, "logs", f"req{r}")
            target = ctx.untimed(lambda: ctx.engine.create_file_target(log))
        paths = LEAF_PATHS if kind == "leaf" else MULTI_PATHS

        def copy():
            got = ctx.engine.copy_tree(target, paths, seeds)
            if kind == "multi":
                target.close()
            return got

        if kind == "leaf":
            for t, n in want.items():
                self.copied[t] = self.copied.get(t, 0) + n

        def check_copy(got):
            check(got == want, f"copy_tree {kind} {seeds}: got {got}, want {want}")
            if kind == "leaf":
                for t in want:
                    have = parquet_rows(os.path.join(self.copies.wh.root, t))
                    check(have == self.copied[t],
                          f"warehouse {t} holds {have} rows, want {self.copied[t]}")
            else:
                with open(os.path.join(log, "manifest.jsonl")) as f:
                    recs = [json.loads(line) for line in f]
                logged = {rec["table"]: parquet_rows(os.path.join(log, rec["payload"]))
                          for rec in recs if rec["kind"] == "insert"}
                check(logged == want, f"oplog payload rows {logged}, want {want}")

        ctx.op("copy_tree", copy, rows=sum(want.values()), check=check_copy,
               scanned=self.scanned[kind])
        if kind == "multi":
            ctx.untimed(lambda: shutil.rmtree(log))

        gone = self.want_del[r]
        for t, n in gone.items():
            self.remaining[t] -= n

        def check_delete(_):
            for t in gone:
                have = parquet_rows(os.path.join(self.replica.wh.root, t))
                check(have == self.remaining[t],
                      f"replica {t} holds {have} rows, want {self.remaining[t]}")

        ctx.op("delete_tree", lambda: ctx.engine.delete_tree(self.replica, LEAF_PATHS, dels),
               rows=sum(gone.values()), check=check_delete, changed=sum(gone.values()),
               scanned=self.scanned["leaf"])

    def metrics(self, ops) -> dict:
        out = {**_verb_stats(ops, "copy_tree"), **_verb_stats(ops, "delete_tree")}
        t = sum(o.seconds for o in ops)
        out["subgraph_verbs_per_s"] = (len(ops) / t if t else None, "1/s", len(ops))
        return out


# ---------------------------------------------------------------------------


class SchemaMigrate(Workload):
    """export_schema of the seven TPC-H tables to an oplog, atomic
    import into a fresh warehouse, upsert of a seeded 2 % orders slice;
    then the live-database leg: copy customer+orders into a fresh
    embedded Derby, MERGE the same slice, delete a seeded key set."""

    def expect(self, ctx) -> None:
        self.con = duck(ctx.data_dir)
        self.orders = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet")).to_pandas()
        self.src_bytes = sum(os.path.getsize(os.path.join(ctx.data_dir, f"{t}.parquet"))
                             for t in TPCH_TABLES)
        self.src_rows = sum(ctx.table_rows[t] for t in TPCH_TABLES)
        self.cols = {t: [r[0] for r in self.con.sql(f"DESCRIBE {t}").fetchall()]
                     for t in TPCH_TABLES}
        self.amplification: list[float] = []

    def _hash_sql(self, table: str, source: str) -> str:
        cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in self.cols[table])
        return f"SELECT count(*), sum(hash({cols})) FROM {source}"

    def _inputs(self, ctx, i: int) -> dict:
        """Untimed per-cycle inputs: the update slice, the delete keys and
        the expected post-upsert hash of every table."""
        rng = np.random.default_rng([ctx.seed, i])
        n = len(self.orders)
        upd = self.orders.iloc[np.sort(rng.choice(n, max(1, n // 50), replace=False))].copy()
        upd["o_totalprice"] = (upd["o_totalprice"] + rng.integers(1, 1000, len(upd))).round(2)
        upd["o_orderstatus"] = rng.choice(["F", "O", "P"], len(upd))
        base = os.path.join(ctx.root, f"m{i}")
        os.makedirs(base)
        upd_path = os.path.join(base, "update.parquet")
        upd.to_parquet(upd_path, index=False)
        dels = np.sort(rng.choice(self.orders["o_orderkey"].to_numpy(), max(1, n // 100),
                                  replace=False))
        want = {}
        for t in TPCH_TABLES:
            src = t
            if t == "orders":
                src = (f"(SELECT * FROM orders WHERE o_orderkey NOT IN "
                       f"(SELECT o_orderkey FROM '{upd_path}') "
                       f"UNION ALL SELECT * FROM '{upd_path}')")
            want[t] = self.con.sql(self._hash_sql(t, src)).fetchone()
        return {"base": base, "upd": upd, "upd_path": upd_path, "dels": dels, "want": want}

    def cycle(self, ctx, i: int) -> None:
        from oracle_schema_copy_spark.sources.derby import DerbyTarget

        inp = ctx.untimed(lambda: self._inputs(ctx, i))
        base, upd, dels = inp["base"], inp["upd"], inp["dels"]
        log, wh_root = os.path.join(base, "oplog"), os.path.join(base, "wh")
        spark, eng = ctx.spark, ctx.engine
        upd_df, keys_df, wh_target, db = ctx.untimed(lambda: (
            spark.read.parquet(inp["upd_path"]),
            spark.createDataFrame(pd.DataFrame({"o_orderkey": dels})),
            eng.create_warehouse_target(wh_root),
            DerbyTarget(spark, os.path.join(base, "derby")),
        ))

        def check_export(_):
            b = dir_bytes(os.path.join(log, "payloads"))
            check(b > 0, "export wrote no payload bytes")
            self.amplification.append(b / self.src_bytes)

        ctx.op("export_schema", lambda: eng.export_schema(list(TPCH_TABLES), log),
               rows=self.src_rows, check=check_export)

        def check_import(wh):
            for t in TPCH_TABLES:
                have = parquet_rows(os.path.join(wh.root, t))
                check(have == ctx.table_rows[t], f"imported {t}: {have} rows")

        ctx.op("import_schema", lambda: eng.import_schema(log, wh_root, atomic=True),
               rows=self.src_rows, check=check_import)

        def check_upsert(_):
            for t in TPCH_TABLES:
                have = self.con.sql(self._hash_sql(
                    t, f"read_parquet('{wh_root}/{t}/*.parquet')")).fetchone()
                check(have == inp["want"][t], f"warehouse {t} hash {have} != {inp['want'][t]}")

        ctx.op("upsert", lambda: eng.update(wh_target, "orders", upd_df),
               rows=len(upd), check=check_upsert, changed=len(upd))

        try:
            self._derby_leg(ctx, db, upd, upd_df, dels, keys_df)
        finally:
            ctx.untimed(db.close)
        ctx.untimed(lambda: shutil.rmtree(base))

    def _derby_leg(self, ctx, db, upd, upd_df, dels, keys_df) -> None:
        from pyspark.sql import functions as F

        eng = ctx.engine
        n_c, n_o = ctx.table_rows["customer"], ctx.table_rows["orders"]
        o_schema = ctx.untimed(lambda: eng.table("orders").schema)

        def read_orders():
            return db.read("orders", [f.name for f in o_schema], o_schema)

        def check_load(_):
            have_c = db.read("customer", self.cols["customer"]).count()
            have_o = read_orders().count()
            check((have_c, have_o) == (n_c, n_o),
                  f"derby holds {have_c} customers, {have_o} orders; want {n_c}, {n_o}")

        def load():
            eng.copy(db, "customer")
            eng.copy(db, "orders")

        ctx.op("db_load", load, rows=n_c + n_o, check=check_load)

        sample = upd.head(20)

        def check_merge(_):
            keys = [int(k) for k in sample["o_orderkey"]]
            got = {r.o_orderkey: (round(r.o_totalprice, 2), r.o_orderstatus)
                   for r in read_orders().filter(F.col("o_orderkey").isin(keys)).collect()}
            want = {int(r.o_orderkey): (round(r.o_totalprice, 2), r.o_orderstatus)
                    for r in sample.itertuples()}
            check(got == want, f"merged rows differ: {got} vs {want}")

        ctx.op("db_merge", lambda: eng.update(db, "orders", upd_df),
               rows=len(upd), check=check_merge)

        def check_delete(_):
            have = read_orders().count()
            check(have == n_o - len(dels), f"derby orders {have}, want {n_o - len(dels)}")
            probe = [int(k) for k in dels[:20]]
            left = read_orders().filter(F.col("o_orderkey").isin(probe)).count()
            check(left == 0, f"{left} deleted keys still present")

        ctx.op("db_delete", lambda: db.delete("orders", "o_orderkey", keys_df),
               rows=len(dels), check=check_delete)

    def metrics(self, ops) -> dict:
        return {
            "export_rows_per_s": (_rate(ops, "export_schema"), "rows/s", None),
            "import_rows_per_s": (_rate(ops, "import_schema"), "rows/s", None),
            **_verb_stats(ops, "upsert"),
            "db_load_rows_per_s": (_rate(ops, "db_load"), "rows/s", None),
            **_verb_stats(ops, "db_merge"),
            **_verb_stats(ops, "db_delete"),
            "oplog_bytes_per_src_byte": (p50(self.amplification), "ratio",
                                         len(self.amplification)),
        }

    def close(self, ctx) -> None:
        self.con.close()


# ---------------------------------------------------------------------------

CORPUS_QUERIES = {
    # registered query -> (op name, input table)
    "dedup_minhash_lsh": ("minhash_lsh_pairs", "documents"),
    "similarity_topk_lsh_vectorized": ("lsh_banded_topk", "embeddings"),
    "curation_pipeline": ("curation_pipeline", "documents"),
}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame, tol: float = 1e-9) -> str | None:
    """None when equal up to row order and float tolerance, else why not."""
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            if not np.allclose(a.astype(float), b.astype(float), rtol=tol, atol=tol,
                               equal_nan=True):
                return f"column {c} differs beyond {tol}"
        elif not (a.astype(str).to_numpy() == b.astype(str).to_numpy()).all():
            return f"column {c} differs"
    return None


class CorpusCuration(Workload):
    """The operators behind the headline dedup / ANN / curation queries
    on the seeded corpora; each result is materialised with a noop write
    and checked against the query's registered DuckDB twin."""

    def expect(self, ctx) -> None:
        from oracle_schema_copy_spark.queries import oracle_sql, queries

        self.fns = queries()
        sql = oracle_sql()
        con = duck(ctx.data_dir)
        self.want = {}
        for q in CORPUS_QUERIES:
            self.want[q] = con.sql(sql[q]).df()
            check(len(self.want[q]) > 0, f"oracle result of {q} is empty")
        con.close()

    def cycle(self, ctx, i: int) -> None:
        for q, (op, table) in CORPUS_QUERIES.items():
            frame = {}

            def run(q=q):
                df = self.fns[q](ctx.spark, ctx.data_dir)
                frame["df"] = df
                ctx.execute(op, df)

            def check_result(_, q=q):
                why = same_frame(frame["df"].toPandas(), self.want[q])
                check(why is None, f"{q} disagrees with its oracle: {why}")

            ctx.op(op, run, rows=ctx.table_rows[table], check=check_result, frame=frame)

    def metrics(self, ops) -> dict:
        dedup_ops = [o for o in ops if o.name == "minhash_lsh_pairs"]
        ann = [o.seconds for o in ops if o.name == "lsh_banded_topk"]
        return {"dedup_p50_s": (p50([o.seconds for o in dedup_ops]), "s", len(dedup_ops)),
                "ann_topk_p50_s": (p50(ann), "s", len(ann)),
                "curation_docs_per_s": (_rate(ops, "curation_pipeline"), "docs/s", None)}


class MigrateCurate(Workload):
    """The bulk jobs, none of which walks a foreign key: one cycle is a
    schema migration followed by a corpus-curation pass."""

    name = "migrate_curate"

    def __init__(self):
        self.parts = (SchemaMigrate(), CorpusCuration())

    def expect(self, ctx) -> None:
        for p in self.parts:
            p.expect(ctx)

    def prepare(self, ctx) -> None:
        for p in self.parts:
            p.prepare(ctx)

    def cycle(self, ctx, i: int) -> None:
        for p in self.parts:
            p.cycle(ctx, i)

    def metrics(self, ops) -> dict:
        return {k: v for p in self.parts for k, v in p.metrics(ops).items()}

    def close(self, ctx) -> None:
        for p in self.parts:
            p.close(ctx)


WORKLOADS = {w.name: w for w in (SubgraphExtract, MigrateCurate)}
