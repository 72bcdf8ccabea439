"""The benchmark's span tracer (perfbench/tracing.py) wraps engine entry
points by name. A renamed or removed hook must fail here, not only as a
crashed traced benchmark run."""

from __future__ import annotations

import inspect

from perfbench.tracing import Tracer


def test_tracer_hooks_resolve_and_restore(spark):
    from oracle_schema_copy_spark import engine
    from oracle_schema_copy_spark.plans import oplog

    tracer = Tracer(spark)
    try:
        tracer.install()  # raises if any wrapped name no longer resolves
        patched = list(tracer._patched)  # noqa: SLF001
        assert patched
        for owner, attr, orig in patched:
            assert vars(owner)[attr] is not orig, f"{owner.__name__}.{attr} not wrapped"
        wrapped = {(owner.__name__, attr) for owner, attr, _ in patched}
        for cls in ("FileTarget", "WarehouseTarget", "DerbyTarget"):
            for verb in ("insert", "delete", "upsert"):
                assert (cls, verb) in wrapped
        for fn in ("replay", "replay_atomic", "replay_into_target", "_apply_commit"):
            assert (oplog.__name__, fn) in wrapped
        assert {("Warehouse", "write"), ("Warehouse", "rewrite"),
                ("Engine", "import_schema")} <= wrapped
    finally:
        tracer.uninstall()
    for owner, attr, orig in patched:
        assert vars(owner)[attr] is orig, f"{owner.__name__}.{attr} not restored"
    assert "wh" in engine.WarehouseTarget.__dataclass_fields__
    assert "atomic" in inspect.signature(engine.Engine.import_schema).parameters
