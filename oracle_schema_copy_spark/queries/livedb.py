"""Live-database gated queries: the K1/K4/K5/K6 execution paths run for
real against embedded Derby (see ``sources/derby.py``), then read back
through partitioned JDBC so the DuckDB oracle checks the DATABASE's final
state, not a Spark-side simulation.

This is the reference's core loop (``ExecuteTarget.java:12-32``: create →
copy → update → delete against a live connection; ``Main.java:46-58``
connection factory) executed end-to-end:

- DDL through the ordered statement executor (``ExecuteSqlList.java:11-40``)
- bulk INSERT through parallel batched ``spark.write.jdbc``
  (``CopyUtils.java:805-834``'s 500-row batches → 10k batches here)
- upsert as staged write + ONE set-oriented MERGE
  (``ExecuteTableUpdate.java:10-27``'s per-row UPDATE-else-INSERT,
  re-expressed O(1)-statements)
- keyed DELETE as staged keys + ONE ``EXISTS`` statement
  (``DeleteByPk.java:15-43``'s 500-key batches), the same path at every
  scale

Scale: embedded Derby is the in-sandbox stand-in; the identical code path
(JdbcConnection + write_table + jvm_statement_executor) points at any
server RDBMS. The Spark side stays fully distributed — parallel batched
writes, partitioned read-back; no mutation passes keys through the
driver, and only the pushed keyed read collects key lists (bounded by
``read_table_keyed_auto``'s ``max_inline_keys``).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_schema_copy_spark.queries import query
from oracle_schema_copy_spark.queries._scratch import scratch_dir
from oracle_schema_copy_spark.sources.derby import DerbyTarget
from oracle_schema_copy_spark.sources.tables import load_table


def _finish(tgt: DerbyTarget, base: str, df: DataFrame) -> DataFrame:
    """Materialize the read-back (eager localCheckpoint — the returned
    frame no longer needs the database), then shut the embedded Derby
    down and delete its scratch dir. Without this a long-lived JVM (a
    full-registry driver_mimic pass) pins one booted database's page
    cache per livedb query and the per-uuid scratch dirs accumulate on
    disk across runs."""
    out = df.localCheckpoint(eager=True)
    tgt.close()
    shutil.rmtree(base, ignore_errors=True)
    return out

# Inserted keys are offset far past any fixture keyspace (sf1 max ~1.5M).
_INS_OFFSET = 100_000_000


@query(
    "jdbc_roundtrip_orders",
    f"""
    WITH upserted AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate,
               CASE WHEN o_orderkey % 10 = 0 THEN 'RE-PRICED'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders
        UNION ALL
        SELECT o_orderkey + {_INS_OFFSET}, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 5
    )
    SELECT * FROM upserted WHERE o_orderkey % 7 <> 3
    """,
    changed_in=15,
)
def q_jdbc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1+K3+K4+K5+K6 live: DDL-create ORDERS in embedded Derby, bulk-insert
    the fixture, MERGE an update+insert set, delete a key set, read the
    final table back through a partitioned JDBC scan. The oracle recomputes
    the same final state relationally from the source parquet — so a MERGE
    that mis-updated, an insert that dropped rows, or a delete that
    over/under-matched all diverge."""
    orders = load_table(spark, sf_dir, "orders")
    base = scratch_dir("derby_rt")
    tgt = DerbyTarget(spark, f"{base}/db")
    tgt.create_table("orders", orders.schema, primary_key=["o_orderkey"])
    tgt.insert("orders", orders)

    key = F.col("o_orderkey")
    updates = orders.filter(key % 10 == 0).withColumns(
        {
            "o_totalprice": F.col("o_totalprice") * 2,
            "o_orderpriority": F.lit("RE-PRICED"),
        }
    )
    inserts = orders.filter(key % 10 == 5).withColumn(
        "o_orderkey", key + F.lit(_INS_OFFSET)
    )
    tgt.upsert("orders", updates.unionByName(inserts), "o_orderkey")

    # post-upsert keyspace: original keys plus the offset inserts
    all_keys = orders.select("o_orderkey").unionByName(inserts.select("o_orderkey"))
    tgt.delete("orders", "o_orderkey", all_keys.filter(key % 7 == 3))

    hi = orders.agg(F.max("o_orderkey")).first()[0]  # 1-row bound probe
    return _finish(
        tgt,
        base,
        tgt.read(
            "orders",
            orders.columns,
            schema=orders.schema,
            partition_column="O_ORDERKEY",
            lower_bound=0,
            upper_bound=int(hi) + _INS_OFFSET + 1,
            num_partitions=8,
        ),
    )


@query(
    "oplog_import_into_derby",
    """
    WITH up AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 5 = 0 THEN 'REPLAYED' ELSE n_name END
                   AS n_name,
               n_regionkey
        FROM nation)
    SELECT * FROM up WHERE n_nationkey % 7 <> 6
    """,
    changed_in=17,
)
def q_oplog_import_into_derby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2→K4/K5/K6 composed LIVE: the reference's import flow
    (``Main.java:46-58`` ``import``: serialized operation stream executed
    in order against a database connection, §3.2) run for real — an
    operation log carrying insert + FK-constraint DDL + upsert + delete
    records is replayed into embedded Derby via
    ``oplog.replay_into_target`` (tables created dialect-correctly from
    payload schemas on first insert, constraint applied AFTER data — the
    reference's load-order trick), then the final table is read back from
    the database. The oracle recomputes the same final state
    relationally."""
    from oracle_schema_copy_spark.plans import oplog

    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    base = scratch_dir("oplog_derby")
    with oplog.OperationLogWriter(f"{base}/log") as log:
        log.insert("region", region)
        log.insert("nation", nation)
        log.ddl(
            [
                # full constraints-after-data sequence: inferred tables are
                # nullable, so NOT NULL -> PK -> FK, in order, post-load
                "ALTER TABLE REGION ALTER COLUMN R_REGIONKEY NOT NULL",
                "ALTER TABLE REGION ADD CONSTRAINT REGION_PK "
                "PRIMARY KEY (R_REGIONKEY)",
                "ALTER TABLE NATION ADD CONSTRAINT NATION_FK FOREIGN KEY "
                "(N_REGIONKEY) REFERENCES REGION (R_REGIONKEY)",
            ],
            opaque=True,
        )
        log.upsert(
            "nation",
            nation.filter(F.col("n_nationkey") % 5 == 0).withColumn(
                "n_name", F.lit("REPLAYED")
            ),
            ["n_nationkey"],
        )
        log.delete(
            "nation",
            "n_nationkey",
            nation.select("n_nationkey").filter(F.col("n_nationkey") % 7 == 6),
        )
    tgt = DerbyTarget(spark, f"{base}/db")
    oplog.replay_into_target(spark, f"{base}/log", tgt)
    return _finish(tgt, base, tgt.read("nation", nation.columns, schema=nation.schema))


@query(
    "jdbc_copy_tree_derby",
    """
    SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0)
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0))
    """,
    changed_in=15,
)
def q_jdbc_copy_tree_derby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2+K1 live: the flagship FK-subgraph walk copied INTO embedded Derby
    through ``Engine.copy_tree`` with a DerbyTarget, then per-table row
    counts read back FROM the database (one pushed-down COUNT per table) —
    proving the copied subgraph actually landed, not just that the walk
    selected it."""
    from oracle_schema_copy_spark import catalog as cat
    from oracle_schema_copy_spark.engine import Engine
    from oracle_schema_copy_spark.queries.reference_surface import (
        FLAGSHIP_PATHS,
        _flagship_roots,
    )
    from oracle_schema_copy_spark.sources.jdbc import read_query

    c = cat.tpch_catalog(sf_dir)
    eng = Engine(spark, c)
    base = scratch_dir("derby_ct")
    tgt = DerbyTarget(spark, f"{base}/db")
    for t in ("customer", "orders", "lineitem"):
        df = eng.table(t)
        # the synthetic lineitem fixture is NOT unique on its nominal
        # composite PK (duplicate (l_orderkey, l_linenumber) pairs exist),
        # so the live table carries no PK constraint for it — matching the
        # reference's constraints-after-data export, where data loads into
        # unconstrained tables first (CopyUtils.java:682-710)
        pk = None if t == "lineitem" else list(c.primary_keys[t])
        tgt.create_table(t, df.schema, primary_key=pk)
    eng.copy_tree(tgt, FLAGSHIP_PATHS, _flagship_roots(spark, sf_dir))
    # VARCHAR cast: Derby unifies UNION'd CHAR literals to the widest
    # CHAR and blank-pads the shorter names
    counts = " UNION ALL ".join(
        f"SELECT CAST('{t}' AS VARCHAR(16)) AS table_name, COUNT(*) AS n_rows FROM {t.upper()}"
        for t in ("customer", "orders", "lineitem")
    )
    df = read_query(spark, tgt.conn, counts)
    return _finish(
        tgt,
        base,
        df.select(
            F.col("table_name").cast("string").alias("table_name"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
        ),
    )


@query(
    "stream_cdc_apply_derby",
    f"""
    WITH upserted AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate,
               CASE WHEN o_orderkey % 4 = 1 THEN 'CDC-UPD'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders
        UNION ALL
        SELECT o_orderkey + {_INS_OFFSET}, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 9 = 2
    )
    SELECT * FROM upserted WHERE o_orderkey % 6 <> 5
    """,
    changed_in=15,
)
def q_stream_cdc_apply_derby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming CDC apply into a LIVE database: a typed
    changelog (op in I/U/D + op_seq + full row payload) is drained as
    ordered micro-batches (file source, maxFilesPerTrigger=1, one staged
    file per op_seq with strictly increasing mtimes) and a foreachBatch
    sink applies each batch to embedded Derby through the same verb
    surface the batch engine uses — staged-MERGE upsert for the snapshot
    load (idempotent under foreachBatch's at-least-once replay; a bulk
    INSERT would duplicate-key on a replayed batch) and for
    updates+inserts, keyed DELETE for tombstones
    (``ExecuteTarget.java:12-32``'s verbs, driven continuously the way a
    replication consumer would). The gate reads the DATABASE's final
    state back and the oracle recomputes it relationally — a batch applied
    out of order, an op group applied with the wrong verb, or a tombstone
    that missed rows all diverge. Within one micro-batch op_seq groups
    apply in ascending order, so the gate holds whether the drain yields
    three micro-batches or one."""
    orders = load_table(spark, sf_dir, "orders")
    payload = orders.columns
    base = scratch_dir("derby_cdc")
    tgt = DerbyTarget(spark, f"{base}/db")
    tgt.create_table("orders", orders.schema, primary_key=["o_orderkey"])

    key = F.col("o_orderkey")
    updates = orders.filter(key % 4 == 1).withColumns(
        {
            "o_totalprice": F.col("o_totalprice") * 2,
            "o_orderpriority": F.lit("CDC-UPD"),
        }
    )
    inserts = orders.filter(key % 9 == 2).withColumn(
        "o_orderkey", key + F.lit(_INS_OFFSET)
    )
    all_keys = orders.select("o_orderkey").unionByName(inserts.select("o_orderkey"))
    tombstones = all_keys.filter(key % 6 == 5)

    def _tag(df: DataFrame, op: str, seq: int) -> DataFrame:
        out = df
        for c in payload:  # tombstones carry the key only
            if c not in df.columns:
                out = out.withColumn(c, F.lit(None).cast(orders.schema[c].dataType))
        return out.select(
            F.lit(op).alias("op"), F.lit(seq).alias("op_seq"), *payload
        )

    log = (
        _tag(orders, "I", 0)
        .unionByName(_tag(updates.unionByName(inserts), "U", 1))
        .unionByName(_tag(tombstones, "D", 2))
    )

    import os

    flat = f"{base}/log"
    os.makedirs(flat)
    for seq in (0, 1, 2):
        part = f"{base}/part{seq}"
        log.filter(F.col("op_seq") == seq).coalesce(1).write.parquet(part)
        src = next(f for f in sorted(os.listdir(part)) if f.endswith(".parquet"))
        dst = os.path.join(flat, f"{seq}.parquet")
        os.rename(os.path.join(part, src), dst)
        # the file source replays oldest-mtime-first; make op order explicit
        os.utime(dst, (1_700_000_000 + seq, 1_700_000_000 + seq))

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        seqs = sorted(r[0] for r in batch_df.select("op_seq").distinct().collect())
        for seq in seqs:  # bounded: one row per staged op group
            grp = batch_df.filter(F.col("op_seq") == seq)
            op = grp.select("op").first()[0]
            if op == "I":
                # upsert, not bulk INSERT: foreachBatch is at-least-once,
                # and a replayed snapshot batch re-INSERTing into the
                # PK'd table would die on duplicate keys (r10 ADVICE) —
                # the I verb must be idempotent under micro-batch replay.
                tgt.upsert("orders", grp.select(*payload), "o_orderkey")
            elif op == "U":
                tgt.upsert("orders", grp.select(*payload), "o_orderkey")
            else:
                tgt.delete("orders", "o_orderkey", grp.select("o_orderkey"))

    (
        spark.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    hi = orders.agg(F.max("o_orderkey")).first()[0]  # 1-row bound probe
    return _finish(
        tgt,
        base,
        tgt.read(
            "orders",
            payload,
            schema=orders.schema,
            partition_column="O_ORDERKEY",
            lower_bound=0,
            upper_bound=int(hi) + _INS_OFFSET + 1,
            num_partitions=8,
        ),
    )


@query(
    "jdbc_walk_pushed_probe",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0)
    GROUP BY o_orderstatus
    """,
    changed_in=15,
)
def q_jdbc_walk_pushed_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/G2 live, source side: the reference's actual deployment walks a
    subgraph OUT of a database (``CopyUtils.java``'s keyed child reads);
    here customer+orders live in embedded Derby (FK column indexed), the
    root frontier is read FROM the database, and the child probe is the
    PUSHED batched IN-list scan (``sources/jdbc.read_table_keyed`` — the
    measured 4-6.7x winner over read-all + semi-join, BENCH_NOTES_r10.md
    §1), one probe batch per Spark partition. Only frontier KEYS pass
    through the driver (the same bounded keys-only contract as the keyed
    delete); the walked rows aggregate distributed. The oracle recomputes
    the same subgraph aggregate relationally from the source parquet —
    a probe that dropped, duplicated, or mis-batched rows diverges."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = scratch_dir("derby_walk")
    tgt = DerbyTarget(spark, f"{base}/db")
    tgt.create_table("customer", cust.schema, primary_key=["c_custkey"])
    tgt.insert("customer", cust)
    tgt.create_table("orders", orders.schema, primary_key=["o_orderkey"])
    tgt.insert("orders", orders)
    tgt.execute_sql(["CREATE INDEX ORDERS_CK_IX ON ORDERS (O_CUSTKEY)"])

    from oracle_schema_copy_spark.sources.jdbc import read_query, read_table_keyed

    roots = read_query(
        spark, tgt.conn, "SELECT C_CUSTKEY FROM CUSTOMER WHERE MOD(C_CUSTKEY, 10) = 0"
    )
    frontier = [r[0] for r in roots.collect()]  # keys only, bounded
    walked = read_table_keyed(spark, tgt.conn, "ORDERS", "O_CUSTKEY", frontier)
    agg = walked.groupBy(F.col("O_ORDERSTATUS").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum(F.col("O_TOTALPRICE").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )
    return _finish(tgt, base, agg)


# Demo crossover for the probe-matrix gate: small enough that the even-
# custkey frontier sits BELOW it at sf <= 0.1 (pushed) and ABOVE it at
# sf1 (75k keys -> staged), so one registered query exercises both arms
# of the automatic switch across the fixture ladder. The reader's own
# default stays 100k.
_PROBE_MATRIX_BUDGET = 10_000


@query(
    "jdbc_walk_probe_matrix",
    f"""
    WITH f AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 2 = 0),
    agg AS (
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(round(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM f)
        GROUP BY o_orderstatus),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nk FROM f)
    SELECT p.path, a.o_orderstatus, a.n_orders, a.total_price
    FROM agg a CROSS JOIN (VALUES ('pushed'), ('staged'), ('auto')) AS p(path)
    UNION ALL
    SELECT 'auto_choice' AS path,
           CASE WHEN nk <= {_PROBE_MATRIX_BUDGET} THEN 'pushed' ELSE 'staged' END
               AS o_orderstatus,
           nk AS n_orders, CAST(0.0 AS DOUBLE) AS total_price
    FROM n
    """,
    changed_in=15,
)
def q_jdbc_walk_probe_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed-read strategy MATRIX live (VERDICT r10 #7): the same
    database frontier (even custkeys, read FROM Derby) walks into orders
    three ways — explicit pushed batched IN-list probes
    (``read_table_keyed``), the staged-key-table join probe
    (``read_table_keyed_staged``: keys written distributed into the
    database, one set-oriented indexed join, keys never through the
    driver — the read twin of the staged-EXISTS delete), and the
    automatic chooser (``read_table_keyed_auto``) that switches on the
    inline budget. Each path's walked rows aggregate identically against
    the relational oracle (a probe that drops, duplicates, or
    mis-batches rows diverges on ITS path row), and the chooser's
    decision itself is a gated row the oracle recomputes from the
    frontier count — at sf <= 0.1 the frontier sits below the demo
    budget (pushed), at sf1 above it (staged), so the crossover rule is
    exercised on both sides across the fixture ladder."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = scratch_dir("derby_probe_matrix")
    tgt = DerbyTarget(spark, f"{base}/db")
    tgt.create_table("customer", cust.schema, primary_key=["c_custkey"])
    tgt.insert("customer", cust)
    tgt.create_table("orders", orders.schema, primary_key=["o_orderkey"])
    tgt.insert("orders", orders)
    tgt.execute_sql(["CREATE INDEX ORDERS_CK_IX2 ON ORDERS (O_CUSTKEY)"])

    from oracle_schema_copy_spark.sources.jdbc import (
        read_query,
        read_table_keyed,
        read_table_keyed_auto,
        read_table_keyed_staged,
    )

    roots = read_query(
        spark, tgt.conn, "SELECT C_CUSTKEY FROM CUSTOMER WHERE MOD(C_CUSTKEY, 2) = 0"
    )

    def _agg(walked: DataFrame, path: str) -> DataFrame:
        return (
            walked.groupBy(F.col("O_ORDERSTATUS").alias("o_orderstatus"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.round(F.sum(F.col("O_TOTALPRICE").cast("decimal(12,2)")), 2)
                .cast("double")
                .alias("total_price"),
            )
            .select(F.lit(path).alias("path"), "o_orderstatus", "n_orders", "total_price")
        )

    frontier = [r[0] for r in roots.collect()]  # keys only, bounded
    pushed = read_table_keyed(spark, tgt.conn, "ORDERS", "O_CUSTKEY", frontier)
    staged = read_table_keyed_staged(spark, tgt.conn, "ORDERS", "O_CUSTKEY", roots)
    auto_rows, choice = read_table_keyed_auto(
        spark, tgt.conn, "ORDERS", "O_CUSTKEY", roots,
        max_inline_keys=_PROBE_MATRIX_BUDGET,
    )
    choice_row = spark.createDataFrame(
        [("auto_choice", choice, len(frontier), 0.0)],
        "path string, o_orderstatus string, n_orders long, total_price double",
    )
    out = (
        _agg(pushed, "pushed")
        .unionByName(_agg(staged, "staged"))
        .unionByName(_agg(auto_rows, "auto"))
        .unionByName(choice_row)
    )
    return _finish(tgt, base, out)
