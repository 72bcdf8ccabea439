"""CLI surface (SURVEY §2.4 E3/E5): execute-script and import commands,
properties-file connection factory, script bindings."""

from __future__ import annotations

import pytest

from oracle_schema_copy_spark.__main__ import (
    connection_factory,
    load_properties,
    main,
)


def test_load_properties(tmp_path):
    f = tmp_path / "props"
    f.write_text(
        "# comment\n"
        "dev.url=jdbc:h2:mem:dev\n"
        "dev.username = sa \n"
        "! also a comment\n"
        "prod.url=jdbc:oracle:thin:@prod-db:1521/X\n"
    )
    props = load_properties(str(f))
    assert props["dev.url"] == "jdbc:h2:mem:dev"
    assert props["dev.username"] == "sa"
    assert len(props) == 3


def test_connection_factory(tmp_path):
    props = {"dev.url": "jdbc:h2:mem:dev", "dev.username": "sa", "dev.password": "x"}
    conn = connection_factory(props)("dev")
    assert conn.url == "jdbc:h2:mem:dev" and conn.user == "sa" and conn.password == "x"
    with pytest.raises(KeyError, match="aliases configured"):
        connection_factory(props)("missing")


def test_execute_script_copy_tree(spark, sf_dir, tmp_path):
    """End-to-end: CLI `execute` runs a script that copy_trees into an
    operation log, then CLI `import` replays it atomically into a warehouse."""
    script = tmp_path / "job.py"
    log = tmp_path / "log"
    wh = tmp_path / "wh"
    script.write_text(
        "t = create_file_target(args[0])\n"
        "counts = copy_tree(t, ['CUSTOMER->ORDERS.O_CUSTKEY',"
        " 'ORDERS->LINEITEM.L_ORDERKEY'], [1, 2])\n"
        "t.close()\n"
        "assert counts['customer'] == 2, counts\n"
    )
    rc = main(
        ["--sf-dir", sf_dir, "--properties", str(tmp_path / "none"),
         "execute", str(script), str(log)]
    )
    assert rc == 0
    assert spark.sparkContext._jsc is not None  # session not stopped

    rc = main(["--sf-dir", sf_dir, "import", str(log), str(wh)])
    assert rc == 0
    from oracle_schema_copy_spark.plans.oplog import Warehouse

    assert Warehouse(spark, str(wh)).read("customer").count() == 2
    # the import is atomic and committed: no stage or commit marker left
    assert not (wh / ".replay_stage").exists()
    assert not (wh / ".replay_commit.json").exists()
