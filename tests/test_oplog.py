from __future__ import annotations

import errno
import hashlib
import json
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark import catalog as cat
from oracle_schema_copy_spark.engine import Engine
from oracle_schema_copy_spark.plans import oplog
from oracle_schema_copy_spark.sources.tables import load_table

SCRATCH = os.path.join(os.path.dirname(__file__), "..", ".scratch")


@pytest.fixture
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("oplog"))


def test_manifest_is_ordered_and_atomic(spark, sf_dir, scratch):
    log_path = os.path.join(scratch, "log1")
    nation = load_table(spark, sf_dir, "nation")
    with oplog.OperationLogWriter(log_path) as log:
        log.ddl(["CREATE TABLE nation (n_nationkey INT) USING PARQUET"])
        log.insert("nation", nation)
        log.delete("nation", "n_nationkey", nation.filter(F.col("n_nationkey") < 3))
    recs = list(oplog.read_manifest(log_path))
    assert [r.seq for r in recs] == [0, 1, 2]
    assert [r.kind for r in recs] == ["ddl", "insert", "delete"]
    # payload dirs exist and are parquet
    assert spark.read.parquet(os.path.join(log_path, recs[1].payload)).count() == 25


def test_unclosed_log_has_no_manifest(spark, sf_dir, scratch):
    log_path = os.path.join(scratch, "log2")
    log = oplog.OperationLogWriter(log_path)
    log.insert("nation", load_table(spark, sf_dir, "nation"))
    assert not os.path.exists(os.path.join(log_path, oplog.MANIFEST))


def test_roundtrip_insert_upsert_delete(spark, sf_dir, scratch):
    """Export insert+upsert+delete ops, replay into a warehouse, verify the
    final state matches computing the same mutations directly."""
    log_path = os.path.join(scratch, "log3")
    wh_path = os.path.join(scratch, "wh3")
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    dels = orders.filter(F.col("o_orderkey") % 100 == 0).select("o_orderkey")

    with oplog.OperationLogWriter(log_path) as log:
        log.insert("orders", orders)
        log.upsert("orders", updates, "o_orderkey")
        log.delete("orders", "o_orderkey", dels)

    wh = oplog.Warehouse(spark, wh_path)
    applied = oplog.replay(spark, log_path, wh)
    assert len(applied) == 3

    final = wh.read("orders")
    n_dels = dels.count()
    assert final.count() == orders.count() - n_dels
    # updated status only on surviving %10 keys
    assert final.filter((F.col("o_orderkey") % 10 == 0) & (F.col("o_orderstatus") != "X")).count() == 0
    assert final.filter(F.col("o_orderkey") % 100 == 0).count() == 0


def test_replay_opaque_sql_skip_and_error(spark, scratch):
    log_path = os.path.join(scratch, "log4")
    with oplog.OperationLogWriter(log_path) as log:
        log.ddl(["CREATE SEQUENCE seq1"], opaque=True)
    assert [r.kind for r in oplog.read_manifest(log_path)] == ["opaque_sql"]
    wh = oplog.Warehouse(spark, os.path.join(scratch, "wh4"))
    assert oplog.replay(spark, log_path, wh) == []  # skipped: never reached the warehouse
    with pytest.raises(ValueError, match="opaque"):
        oplog.replay(spark, log_path, wh, on_opaque="error")


def test_export_all_orders_constraints_after_data(spark, sf_dir, scratch):
    log_path = os.path.join(scratch, "log5")
    tabs = {t: load_table(spark, sf_dir, t) for t in ("region", "nation")}
    oplog.export_all(
        tabs,
        log_path,
        topo_order=["region", "nation"],
        constraint_sql=["ALTER TABLE nation ADD CONSTRAINT fk FOREIGN KEY (n_regionkey) REFERENCES region"],
    )
    kinds = [(r.kind, r.table) for r in oplog.read_manifest(log_path)]
    assert kinds == [
        ("ddl", None),
        ("insert", "region"),
        ("insert", "nation"),
        ("opaque_sql", None),  # constraints land AFTER data (FK-safe load)
    ]


def test_rewrite_is_atomic_swap(spark, sf_dir, scratch):
    wh = oplog.Warehouse(spark, os.path.join(scratch, "wh6"))
    nation = load_table(spark, sf_dir, "nation")
    wh.write("nation", nation)
    wh.rewrite("nation", nation.filter(F.col("n_nationkey") >= 5))
    assert wh.read("nation").count() == 20
    assert sorted(os.listdir(wh.root)) == ["nation"]  # no stage, journal or trash


def test_manifest_json_schema(spark, sf_dir, scratch):
    log_path = os.path.join(scratch, "log7")
    with oplog.OperationLogWriter(log_path) as log:
        log.upsert("orders", load_table(spark, sf_dir, "orders").limit(5), ["o_orderkey"])
    line = open(os.path.join(log_path, oplog.MANIFEST)).readline()
    d = json.loads(line)
    assert set(d) == {"seq", "kind", "table", "params", "payload"}
    assert d["params"]["key_columns"] == ["o_orderkey"]


def test_replay_is_idempotent_after_partial_failure(spark, sf_dir, tmp_path):
    """Re-running a replay from seq 0 (e.g. after a partial failure left
    some tables written) must reproduce the same final state, not append
    duplicates — the file-storage substitute for the reference's
    single-transaction import."""
    from oracle_schema_copy_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    log = str(tmp_path / "log")
    oplog.export_all({"nation": nation}, log)
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    oplog.replay(spark, log, wh)
    n1 = wh.read("nation").count()
    oplog.replay(spark, log, wh)  # simulate retry-from-scratch
    assert wh.read("nation").count() == n1 == 25


def _append_bogus_op(log_path: str) -> None:
    """Append an unknown-kind record to a closed manifest — replay raises
    exactly at that op, simulating a mid-log crash."""
    with open(os.path.join(log_path, oplog.MANIFEST), "a") as f:
        f.write(
            json.dumps(
                {"seq": 99, "kind": "explode", "table": None, "params": {}, "payload": None}
            )
            + "\n"
        )


def test_atomic_replay_crash_leaves_target_untouched(spark, sf_dir, tmp_path):
    """Kill a replay mid-log: with replay_atomic the target warehouse must
    be byte-identical to its pre-replay state (plain replay leaves the
    prefix applied — the SURVEY §3.2 delta this closes)."""
    from oracle_schema_copy_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    wh.write("nation", nation.filter(F.col("n_nationkey") < 5))  # pre-state: 5 rows

    log = str(tmp_path / "log")
    with oplog.OperationLogWriter(log) as lg:
        lg.insert("nation", nation)  # would overwrite with 25 rows
    _append_bogus_op(log)

    with pytest.raises(ValueError, match="unknown operation kind"):
        oplog.replay_atomic(spark, log, wh)
    assert wh.read("nation").count() == 5  # untouched
    assert not os.path.exists(os.path.join(wh.root, oplog.JOURNAL))

    # and the SAME warehouse then accepts a clean atomic replay
    log2 = str(tmp_path / "log2")
    with oplog.OperationLogWriter(log2) as lg:
        lg.insert("nation", nation)
    oplog.replay_atomic(spark, log2, wh)
    assert wh.read("nation").count() == 25


def test_atomic_replay_rolls_forward_after_commit_marker(spark, sf_dir, tmp_path):
    """A crash BETWEEN the journal's rename and the table moves is
    completed by the next warehouse access (roll-forward), not undone."""
    import shutil as _sh

    from oracle_schema_copy_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    wh.write("nation", nation.filter(F.col("n_nationkey") < 5))

    # hand-craft the post-commit pre-apply state: staged table + journal
    stage = os.path.join(wh.root, oplog.STAGE_DIRNAME)

    def pending_commit():
        nation.write.mode("overwrite").parquet(os.path.join(stage, "nation"))
        with open(os.path.join(wh.root, oplog.JOURNAL), "w") as f:
            json.dump({"staged": ["nation"], "retired": []}, f)

    pending_commit()
    assert oplog.Warehouse(spark, wh.root).read("nation").count() == 25  # applied
    assert sorted(os.listdir(wh.root)) == ["nation"]  # no journal, no stage

    # a plain replay rolls a pending commit forward first: the stale stage
    # lands BEFORE the log's newer nation, and no later replay sees it
    pending_commit()
    log = str(tmp_path / "log")
    with oplog.OperationLogWriter(log) as lg:
        lg.insert("nation", nation.filter(F.col("n_nationkey") < 10))
    oplog.replay(spark, log, wh)
    assert wh.read("nation").count() == 10
    assert sorted(os.listdir(wh.root)) == ["nation"]
    region_log = str(tmp_path / "region_log")
    with oplog.OperationLogWriter(region_log) as lg:
        lg.insert("region", load_table(spark, sf_dir, "region"))
    oplog.replay_atomic(spark, region_log, wh)
    assert wh.read("nation").count() == 10  # the stale stage never resurfaces
    _sh.rmtree(str(tmp_path / "wh"), ignore_errors=True)


def test_replay_composite_and_legacy_delete_records(spark, sf_dir, tmp_path):
    """Composite-key delete ops round-trip through write/replay; a legacy
    single-``key_column`` manifest record (pre-composite format) still
    replays."""
    from oracle_schema_copy_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(2000).cache()
    doomed = li.filter(F.col("l_orderkey") % 3 == 0).select(
        "l_orderkey", "l_linenumber"
    ).distinct()
    log = str(tmp_path / "log")
    with oplog.OperationLogWriter(log) as lg:
        lg.insert("lineitem", li)
        lg.delete("lineitem", ["l_orderkey", "l_linenumber"], doomed)
    recs = list(oplog.read_manifest(log))
    assert recs[1].params["key_columns"] == ["l_orderkey", "l_linenumber"]
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    oplog.replay(spark, log, wh)
    expected = li.join(
        doomed.toDF("k1", "k2"),
        (F.col("l_orderkey") == F.col("k1")) & (F.col("l_linenumber") == F.col("k2")),
        "left_anti",
    ).count()
    assert wh.read("lineitem").count() == expected

    # legacy record: rewrite the delete op's params to the old key_column form
    mpath = os.path.join(log, oplog.MANIFEST)
    lines = [json.loads(ln) for ln in open(mpath)]
    lines[1]["params"] = {"key_column": "l_orderkey"}
    with open(mpath, "w") as f:
        for d in lines:
            f.write(json.dumps(d, sort_keys=True) + "\n")
    wh2 = oplog.Warehouse(spark, str(tmp_path / "wh2"))
    oplog.replay(spark, log, wh2)
    # legacy semantics: delete by the leading column only
    expected_legacy = li.join(
        doomed.select("l_orderkey").distinct(), "l_orderkey", "left_anti"
    ).count()
    assert wh2.read("lineitem").count() == expected_legacy
    li.unpersist()


def test_view_and_opaque_objects_roundtrip(spark, sf_dir, tmp_path):
    """S9: view defs replay as views over imported tables — plain and
    atomic, where the views must read the committed tables, not the
    deleted stage; opaque SQL (triggers/sequences) survives in the
    manifest, is skipped by parquet targets, errors when demanded, and
    executes only via a SQL executor."""
    from oracle_schema_copy_spark.sources.tables import load_tables

    tabs = dict(load_tables(spark, sf_dir, ("region", "nation")))
    log = str(tmp_path / "log")
    opaque = ["CREATE SEQUENCE s1", "ALTER TRIGGER t1 ENABLE"]
    oplog.export_all(
        tabs,
        log,
        topo_order=["region", "nation"],
        views={"region_names_v": "SELECT r_name FROM region"},
        other_object_sql=opaque,
    )
    kinds = [r.kind for r in oplog.read_manifest(log)]
    assert kinds == ["ddl", "insert", "insert", "view", "opaque_sql"]

    for replay_fn in (oplog.replay, oplog.replay_atomic):
        wh = oplog.Warehouse(spark, str(tmp_path / replay_fn.__name__))
        replay_fn(spark, log, wh)  # opaque skipped by default
        assert spark.table("region_names_v").count() == 5

    with pytest.raises(ValueError, match="opaque"):
        oplog.replay(spark, log, oplog.Warehouse(spark, str(tmp_path / "wh2")), on_opaque="error")

    # a JDBC/SQL-catalog target receives the opaque statements verbatim
    executed: list[str] = []
    from oracle_schema_copy_spark.engine import FileTarget  # noqa: F401  (kind parity)

    for rec in oplog.read_manifest(log):
        if rec.kind == "opaque_sql":
            executed.extend(rec.params["statements"])
    assert executed == opaque


def test_replay_view_reads_table_rewritten_later_in_log(spark, sf_dir, tmp_path):
    """A view logged before a rewrite of the table it reads is created after
    the last op, so it reads the final table (not the rewrite's deleted
    files)."""
    nation = load_table(spark, sf_dir, "nation")
    log = str(tmp_path / "log")
    with oplog.OperationLogWriter(log) as lg:
        lg.insert("nation_rw", nation)
        lg.view("nation_rw_keys_v", "SELECT n_nationkey FROM nation_rw")
        lg.delete("nation_rw", "n_nationkey", nation.filter(F.col("n_nationkey") < 5))
    oplog.replay(spark, log, oplog.Warehouse(spark, str(tmp_path / "wh")))
    try:
        assert spark.table("nation_rw_keys_v").count() == 20
    finally:
        spark.catalog.dropTempView("nation_rw_keys_v")
        spark.catalog.dropTempView("nation_rw")


def test_warehouse_reads_with_the_schema_it_wrote(spark, tmp_path, reader_jobs):
    """A table this warehouse wrote reads without a schema job; drop
    forgets the schema, so a later append with another schema reads with
    the new one; a committed atomic replay replaces it too."""
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    wh.write("t", spark.createDataFrame([(1, "a")], "a long, b string"))
    _, reader = reader_jobs(lambda: wh.read("t").collect())
    assert reader == 0
    wh.drop("t")
    wh.append("t", spark.createDataFrame([(2.5,)], "x double"))
    assert wh.read("t").dtypes == [("x", "double")]
    assert [r.x for r in wh.read("t").collect()] == [2.5]
    wh.rewrite("t", spark.createDataFrame([("z", 3)], "y string, n int"))
    assert wh.read("t").dtypes == [("y", "string"), ("n", "int")]

    log = str(tmp_path / "log")
    with oplog.OperationLogWriter(log) as lg:
        lg.insert("t", spark.createDataFrame([(7,)], "k long"))
    oplog.replay_atomic(spark, log, wh)
    assert wh.read("t").dtypes == [("k", "bigint")]
    assert [r.k for r in wh.read("t").collect()] == [7]


def test_replay_reads_payloads_with_the_logged_schema(spark, sf_dir, tmp_path, reader_jobs):
    """Every data record carries its payload's schema, so replay starts no
    schema-inference job; a log without schemas (the older format) still
    replays, by inference, to the same table."""
    nation = load_table(spark, sf_dir, "nation")
    log = str(tmp_path / "log")
    with oplog.OperationLogWriter(log) as lg:
        lg.insert("nation", nation)
        lg.upsert(
            "nation",
            nation.filter(F.col("n_nationkey") < 10).withColumn("n_name", F.lit("x")),
            ["n_nationkey"],
        )
        lg.delete("nation", "n_nationkey", nation.filter(F.col("n_nationkey") < 3))
    assert all("schema" in r.params for r in oplog.read_manifest(log) if r.payload)

    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    _, reader = reader_jobs(lambda: oplog.replay(spark, log, wh))
    assert reader == 0
    got = wh.read("nation")
    assert got.count() == 22 and got.filter(F.col("n_name") == "x").count() == 7

    mpath = os.path.join(log, oplog.MANIFEST)
    lines = [json.loads(ln) for ln in open(mpath)]
    for d in lines:
        d["params"].pop("schema", None)
    with open(mpath, "w") as f:
        for d in lines:
            f.write(json.dumps(d, sort_keys=True) + "\n")
    wh_old = oplog.Warehouse(spark, str(tmp_path / "wh_old"))
    oplog.replay(spark, log, wh_old)
    old = wh_old.read("nation")
    assert old.schema == got.schema
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, got.collect()))


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _hashes(root: str, skip: str | None = None) -> dict[str, str]:
    """sha256 of every file under ``root`` by relative path, skipping the
    top-level entry ``skip``."""
    out = {}
    for d, dirs, files in os.walk(root):
        if d == root and skip in dirs:
            dirs.remove(skip)
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _cut_link(monkeypatch, k: int, exc: OSError) -> None:
    """``os.link`` raises ``exc`` on its k-th call (1-based)."""
    real_link, calls = os.link, []

    def link(src, dst, *a, **kw):
        calls.append(dst)
        if len(calls) == k:
            raise exc
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(os, "link", link)


def _orders_log(spark, sf_dir, log: str):
    """A log inserting orders (three payload files) and nation."""
    orders = load_table(spark, sf_dir, "orders").repartition(3)
    with oplog.OperationLogWriter(log) as lg:
        lg.insert("orders", orders)
        lg.insert("nation", load_table(spark, sf_dir, "nation"))
    return orders


def test_replay_adopts_insert_payloads_by_hard_link(spark, sf_dir, tmp_path, reader_jobs):
    """A warehouse replay of inserts starts no Spark job: every payload
    file and its .crc sidecar land in the table by hard link under the
    record's ``opNNNNN-`` name, and the table reads with the logged
    schema."""
    log = str(tmp_path / "log")
    orders = _orders_log(spark, sf_dir, log)
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    jobs, _ = reader_jobs(lambda: oplog.replay(spark, log, wh))
    assert jobs == 0
    for rec in oplog.read_manifest(log):
        payload = os.path.join(log, rec.payload)
        names = sorted(f for f in os.listdir(payload) if f.endswith(".parquet"))
        assert names and (rec.table != "orders" or len(names) == 3)
        d = os.path.join(wh.root, rec.table)
        tag = f"op{rec.seq:05d}"
        assert sorted(f for f in os.listdir(d) if f.endswith(".parquet")) == [
            f"{tag}-{n}" for n in names
        ]
        for n in names:
            assert os.path.samefile(os.path.join(payload, n), os.path.join(d, f"{tag}-{n}"))
            assert os.path.samefile(
                os.path.join(payload, f".{n}.crc"), os.path.join(d, f".{tag}-{n}.crc")
            )
    assert wh.tables_written == {"orders", "nation"}
    _, reader = reader_jobs(lambda: _rows(wh.read("orders")))
    assert reader == 0
    assert _rows(wh.read("orders")) == _rows(orders)


@pytest.mark.parametrize("k", [1, 4])
def test_adopt_falls_back_to_the_spark_write(spark, sf_dir, tmp_path, monkeypatch, k):
    """A link the filesystem refuses (EXDEV: the log on another
    filesystem) on the k-th file makes the replay write the rows with
    Spark instead; no ``op*-`` link is left behind."""
    log = str(tmp_path / "log")
    orders = _orders_log(spark, sf_dir, log)
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    _cut_link(monkeypatch, k, OSError(errno.EXDEV, "Invalid cross-device link"))
    oplog.replay(spark, log, wh)
    monkeypatch.undo()
    files = os.listdir(os.path.join(wh.root, "orders"))
    assert files and not [f for f in files if f.lstrip(".").startswith("op")]
    payload = os.path.join(log, next(oplog.read_manifest(log)).payload)
    assert all(os.stat(os.path.join(payload, f)).st_nlink == 1 for f in os.listdir(payload))
    assert _rows(wh.read("orders")) == _rows(orders)
    # nation came after the refused link and was adopted
    assert all(f.lstrip(".").startswith("op00001-")
               for f in os.listdir(os.path.join(wh.root, "nation")))


@pytest.mark.parametrize(
    "exc",
    [FileExistsError(errno.EEXIST, "File exists"), OSError(errno.EIO, "I/O error")],
    ids=["exists", "eio"],
)
def test_adopt_error_outside_the_fallback_set_propagates(spark, sf_dir, tmp_path, monkeypatch, exc):
    """Only the no-hard-link errnos fall back; any other link error
    propagates (after removing the call's links), never rewritten."""
    log = str(tmp_path / "log")
    _orders_log(spark, sf_dir, log)
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    _cut_link(monkeypatch, 3, exc)
    with pytest.raises(type(exc)) as raised:
        oplog.replay(spark, log, wh)
    assert raised.value is exc
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(wh.root, "orders"))


def test_adopted_tables_leave_the_log_intact(spark, sf_dir, tmp_path):
    """Upserting, deleting and dropping adopted tables never changes the
    payload files they share inodes with: the log hashes the same and
    replays again to the original rows."""
    log = str(tmp_path / "log")
    orders = _orders_log(spark, sf_dir, log)
    nation = load_table(spark, sf_dir, "nation")
    before = _hashes(log)
    target = oplog.WarehouseTarget(oplog.Warehouse(spark, str(tmp_path / "wh")))
    oplog.replay_into_target(spark, log, target)
    target.upsert(
        "orders",
        orders.filter(F.col("o_orderkey") % 10 == 0).withColumn("o_orderstatus", F.lit("X")),
        ["o_orderkey"],
    )
    target.delete("nation", "n_nationkey", nation.filter(F.col("n_nationkey") < 5))
    assert target.wh.read("orders").filter(F.col("o_orderstatus") == "X").count() > 0
    assert target.wh.read("nation").count() == 20
    assert _hashes(log) == before

    oplog.replay_into_target(spark, log, target)
    assert _rows(target.wh.read("orders")) == _rows(orders)
    assert _rows(target.wh.read("nation")) == _rows(nation)
    target.wh.drop("orders")
    assert _hashes(log) == before
    payload = os.path.join(log, next(oplog.read_manifest(log)).payload)
    assert _rows(spark.read.parquet(payload)) == _rows(orders)


def test_atomic_import_cut_mid_adoption(spark, sf_dir, tmp_path, monkeypatch):
    """A link error inside replay_atomic leaves the warehouse
    byte-identical; the next replay_atomic commits and leaves no stage."""
    nation = load_table(spark, sf_dir, "nation")
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    wh.write("nation", nation.filter(F.col("n_nationkey") < 5))
    wh.write("orders", load_table(spark, sf_dir, "orders").limit(7))
    before = _hashes(wh.root, skip=oplog.STAGE_DIRNAME)
    log = str(tmp_path / "log")
    orders = _orders_log(spark, sf_dir, log)

    _cut_link(monkeypatch, 7, OSError(errno.EIO, "I/O error"))  # nation's parquet link
    with pytest.raises(OSError, match="I/O error"):
        oplog.replay_atomic(spark, log, wh)
    monkeypatch.undo()
    assert _hashes(wh.root, skip=oplog.STAGE_DIRNAME) == before
    assert not os.path.exists(os.path.join(wh.root, oplog.JOURNAL))

    oplog.replay_atomic(spark, log, wh)
    assert sorted(os.listdir(wh.root)) == ["nation", "orders"]
    assert _rows(wh.read("orders")) == _rows(orders)
    assert _rows(wh.read("nation")) == _rows(nation)


def _spark_written_orders(spark, sf_dir, src_dir: str) -> str:
    """Replace the copied orders file by a Spark-written directory of three
    part files (each with its .crc sidecar, plus _SUCCESS)."""
    path = os.path.join(src_dir, "orders.parquet")
    os.remove(path)
    load_table(spark, sf_dir, "orders").repartition(3).write.parquet(path)
    return path


def _inserts(log: str) -> dict[str, oplog.OpRecord]:
    return {r.table: r for r in oplog.read_manifest(log) if r.kind == "insert"}


def test_export_links_every_part_file_of_a_spark_written_source(spark, sf_dir, src_dir, tmp_path):
    """A flat source directory is linked file by file: every part file and
    its .crc sidecar share their inodes with the payload's, _SUCCESS is
    left out, and replay reads the exported rows."""
    src = _spark_written_orders(spark, sf_dir, src_dir)
    engine = Engine(spark, cat.tpch_catalog(src_dir))
    want = _rows(engine.table("orders"))
    log = str(tmp_path / "log")
    engine.export_schema(["orders"], log)
    rec = _inserts(log)["orders"]
    payload = os.path.join(log, rec.payload)
    parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(parts) == 3
    linked = sorted(parts + [f".{p}.crc" for p in parts])
    assert sorted(os.listdir(payload)) == sorted(rec.params["linked"]) == linked
    assert all(os.path.samefile(os.path.join(src, f), os.path.join(payload, f)) for f in linked)
    wh = engine.import_schema(log, str(tmp_path / "wh"))
    assert _rows(wh.read("orders")) == want


def test_export_of_a_partitioned_source_is_written(spark, sf_dir, src_dir, tmp_path):
    """A source directory with subdirectories (hive partitions) keeps the
    Spark write: a link cannot keep the partition columns."""
    path = os.path.join(src_dir, "nation.parquet")
    os.remove(path)
    load_table(spark, sf_dir, "nation").write.partitionBy("n_regionkey").parquet(path)
    engine = Engine(spark, cat.tpch_catalog(src_dir))
    want = _rows(engine.table("nation"))
    log = str(tmp_path / "log")
    engine.export_schema(["nation"], log)
    assert "linked" not in _inserts(log)["nation"].params
    wh = engine.import_schema(log, str(tmp_path / "wh"))
    assert _rows(wh.read("nation")) == want


def test_export_falls_back_to_the_spark_write(spark, sf_dir, src_dir, tmp_path, monkeypatch):
    """A link refused with EXDEV half-way through a table's files makes the
    export write that table with Spark: identical rows, no link left on any
    source file; the table after it is still linked."""
    src = _spark_written_orders(spark, sf_dir, src_dir)
    engine = Engine(spark, cat.tpch_catalog(src_dir))
    tables = ["nation", "orders"]
    want = {t: _rows(engine.table(t)) for t in tables}
    log = str(tmp_path / "log")
    _cut_link(monkeypatch, 3, OSError(errno.EXDEV, "Invalid cross-device link"))  # orders' 2nd file
    engine.export_schema(tables, log)
    monkeypatch.undo()
    recs = _inserts(log)
    assert "linked" not in recs["orders"].params
    assert all(os.stat(os.path.join(src, f)).st_nlink == 1 for f in os.listdir(src))
    payload = os.path.join(log, recs["orders"].payload)
    assert all(os.stat(os.path.join(payload, f)).st_nlink == 1 for f in os.listdir(payload))
    assert list(recs["nation"].params["linked"]) == ["nation.parquet"]
    wh = engine.import_schema(log, str(tmp_path / "wh"))
    assert {t: _rows(wh.read(t)) for t in tables} == want


def test_linked_export_survives_a_spark_overwrite_of_its_source(spark, sf_dir, src_dir, tmp_path):
    """A Spark overwrite replaces the source by new files, so the exported
    log keeps the inodes it linked and replays the exported rows."""
    engine = Engine(spark, cat.tpch_catalog(src_dir))
    want = _rows(engine.table("nation"))
    log = str(tmp_path / "log")
    engine.export_schema(["nation"], log)
    src = os.path.join(src_dir, "nation.parquet")
    load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5).write.mode(
        "overwrite"
    ).parquet(src)
    assert spark.read.parquet(src).count() == 5
    wh = engine.import_schema(log, str(tmp_path / "wh"))
    assert _rows(wh.read("nation")) == want


def test_replay_refuses_a_linked_payload_written_in_place(spark, src_dir, tmp_path):
    """Writing the source file in place (pq.write_table over it) changes the
    inode the log shares: replay raises, naming the table and the file,
    before it reads or adopts that payload."""
    engine = Engine(spark, cat.tpch_catalog(src_dir))
    log = str(tmp_path / "log")
    engine.export_schema(["region", "nation"], log)
    src = os.path.join(src_dir, "nation.parquet")
    ino = os.stat(src).st_ino
    pq.write_table(pq.read_table(src).slice(0, 5), src)
    assert os.stat(src).st_ino == ino
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    payload_file = os.path.join(log, _inserts(log)["nation"].payload, "nation.parquet")
    with pytest.raises(ValueError, match=f"'nation'.*{re.escape(payload_file)}"):
        oplog.replay(spark, log, wh)
    assert not wh.exists("nation")
