"""Standalone driver-mimic: runs entry() + every queries() entry vs its
DuckDB oracle at a given SF (default sf0.01, the driver's t2 scale).

Usage: python tools/driver_mimic.py [sf_dir] [only_query1,only_query2]
Compares under ``tests/oracle_check.mismatch``, the rule tier-1 uses too.
Set SPARK_GRAFT_MIMIC_JSON=<path> to also write a JSON artifact
(per-query status + row counts — the committed sf0.1 evidence file).
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_check import mismatch  # noqa: E402  (the one comparison rule)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from oracle_schema_copy_spark.session import get_spark
    import __spark_entry__ as m

    qs, osql = m.queries(), m.oracle_sql()
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    if only:
        # Same honesty policy as queries._check_order: a typo'd name must
        # fail loudly, not silently shrink the run (r4 VERDICT "what's
        # wrong" #1 — a misnamed filter printed "FAILURES: none" having
        # run 8 of 15 requested queries).  Checked BEFORE any Spark work
        # so the failure is immediate.
        unknown = sorted(set(only) - set(qs))
        if unknown:
            print(f"unknown query names in only-filter: {unknown}")
            return 2

    spark = get_spark("driver-mimic", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 8)))
    spark.sparkContext.setLogLevel("ERROR")

    n = m.entry(spark).count()
    print(f"t1 entry rows: {n}")
    assert n > 0

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # big-fixture oracles (sf1/sf10) can exceed RAM shared with the Spark
    # JVM; a bounded memory limit plus a temp directory lets DuckDB spill
    # instead of aborting the whole run with an allocator OOM (r12: the
    # cleaning-capstone oracle at 500k docs killed a 19-name batch).
    # r12 ADVICE: derive the limit from MemAvailable (half of it, capped at
    # 40GB) so it still engages on a smaller host / next to a 48g JVM, and
    # make the spill dir per-process so concurrent mimics don't collide.
    try:
        with open("/proc/meminfo") as f:
            avail_kb = next(
                int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:")
            )
        limit_gb = max(2, min(40, avail_kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError, IndexError):
        limit_gb = 40
    con.execute(f"SET memory_limit='{limit_gb}GB'")
    spill = os.path.join("/tmp", f"duckdb_mimic_spill_{os.getpid()}")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    fails: list[str] = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            s = fn(spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            results[name] = {"status": "ERROR", "why": f"{type(e).__name__}: {e}"}
            fails.append(name)
            _write_artifact(sf, results, fails)
            continue
        if name not in osql:
            print(f"{name}: rows-only ({len(s)} rows)")
            results[name] = {"status": "rows_only", "rows": len(s)}
            _write_artifact(sf, results, fails)
            continue
        try:
            d = con.sql(osql[name]).df()
        except Exception as e:  # noqa: BLE001 — a dying oracle (DuckDB OOM)
            # must cost one name, not the rest of the batch
            print(f"{name}: ORACLE_ERROR {type(e).__name__}: {e}")
            results[name] = {
                "status": "ORACLE_ERROR", "why": f"{type(e).__name__}: {e}"
            }
            fails.append(name)
            _write_artifact(sf, results, fails)
            continue
        why = mismatch(s, d)
        ok = why is None
        print(f"{name}: {'MATCH' if ok else 'MISMATCH ' + why} ({len(s)} rows)")
        results[name] = {"status": "MATCH" if ok else "MISMATCH", "rows": len(s)}
        if not ok:
            results[name]["why"] = why
            fails.append(name)
        # incremental artifact write: a later query's stall/timeout must
        # not lose the completed rows (r9 lesson — a 45-min Derby MERGE
        # killed a 16-name batch's artifact twice)
        _write_artifact(sf, results, fails)
    print("FAILURES:", fails or "none")
    _write_artifact(sf, results, fails)
    spark.stop()
    return 1 if fails else 0


def _write_artifact(sf: str, results: dict, fails: list) -> None:
    out = os.environ.get("SPARK_GRAFT_MIMIC_JSON")
    if out:
        with open(out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf,
                    "n_queries": len(results),
                    "n_fail": len(fails),
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )


if __name__ == "__main__":
    raise SystemExit(main())
