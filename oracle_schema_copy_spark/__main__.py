"""CLI entry point (SURVEY §2.4 E3): ``python -m oracle_schema_copy_spark``.

Re-expresses the reference's ``Main.main`` command surface
(``Main.java:61-94``): ``execute <script> [args…]`` runs a user script with
the engine verbs bound, ``import <file> <dest>`` replays an operation log
atomically (the reference imports in one transaction, ``Main.java:53``).
Connection aliases come from a Java-properties-style file (the
``~/.oracle-schema-copy`` analog, ``Main.java:96-104``): lines
``<alias>.url= <alias>.username= <alias>.password=``.

Scripts are plain Python (the reference's are Groovy). Bound names match
the reference's script bindings (``Main.java:106-211``):
``spark, engine, args, create_connection, create_db_target,
create_file_target, create_warehouse_target, execute_sql, copy_tree,
delete_tree, copy, update``.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

from oracle_schema_copy_spark.catalog import tpch_catalog
from oracle_schema_copy_spark.engine import Engine
from oracle_schema_copy_spark.session import get_spark
from oracle_schema_copy_spark.sources.jdbc import JdbcConnection

DEFAULT_PROPERTIES = "~/.oracle-schema-copy"


def load_properties(path: str) -> dict[str, str]:
    """Minimal java.util.Properties reader: ``k=v`` lines, ``#``/``!`` comments."""
    props: dict[str, str] = {}
    p = Path(os.path.expanduser(path))
    if not p.exists():
        return props
    for line in p.read_text().splitlines():
        line = line.strip()
        if not line or line[0] in "#!" or "=" not in line:
            continue
        k, _, v = line.partition("=")
        props[k.strip()] = v.strip()
    return props


def connection_factory(props: dict[str, str]):
    """alias -> JdbcConnection from properties (E5, ``Main.java:46-58``)."""

    def create_connection(alias: str) -> JdbcConnection:
        try:
            url = props[f"{alias}.url"]
        except KeyError:
            raise KeyError(
                f"no '{alias}.url' in properties; aliases configured: "
                f"{sorted({k.split('.')[0] for k in props})}"
            ) from None
        return JdbcConnection(
            url=url,
            user=props.get(f"{alias}.username", ""),
            password=props.get(f"{alias}.password", ""),
            driver=props.get(f"{alias}.driver") or None,
        )

    return create_connection


def script_bindings(engine: Engine, props: dict[str, str], args: list[str]) -> dict:
    return {
        "spark": engine.spark,
        "engine": engine,
        "args": args,
        "create_connection": connection_factory(props),
        "create_db_target": engine.create_db_target,
        "create_file_target": engine.create_file_target,
        "create_warehouse_target": engine.create_warehouse_target,
        "execute_sql": engine.execute_sql,
        "copy_tree": engine.copy_tree,
        "delete_tree": engine.delete_tree,
        "copy": engine.copy,
        "update": engine.update,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m oracle_schema_copy_spark",
        description="PySpark-native schema-subgraph copy engine",
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="parquet table directory backing the source catalog",
    )
    ap.add_argument(
        "--properties",
        default=DEFAULT_PROPERTIES,
        help="connection-alias properties file (reference: ~/.oracle-schema-copy)",
    )
    ap.add_argument("--cpus", type=int, default=None, help="local[] parallelism")
    sub = ap.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("execute", help="run a Python script with engine verbs bound")
    ex.add_argument("script")
    ex.add_argument("script_args", nargs="*")

    im = sub.add_parser("import", help="replay an operation log into a warehouse")
    im.add_argument("log_path")
    im.add_argument("warehouse_root")

    ns = ap.parse_args(argv)
    props = load_properties(ns.properties)
    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("oscs-cli", cpus=ns.cpus)
    try:
        engine = Engine(spark, tpch_catalog(ns.sf_dir))
        if ns.cmd == "execute":
            src = Path(ns.script).read_text()
            glb = script_bindings(engine, props, list(ns.script_args))
            glb["__name__"] = "__oscs_script__"
            exec(compile(src, ns.script, "exec"), glb)  # noqa: S102 — the verb IS running user scripts
        elif ns.cmd == "import":
            engine.import_schema(ns.log_path, ns.warehouse_root, atomic=True)
    finally:
        if not preexisting:  # in-process callers (tests) keep their session
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
