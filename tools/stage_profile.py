"""Per-stage resource profile of one registered query at a fixture scale
— the one status-store reader (OPTIMIZATION_r13.md §6, OPTIMIZATION_r14.md,
the SCALE_*.md resource rows). For each stage the query ran: tasks,
executor run, CPU and JVM GC time, input, shuffle and spill bytes, and
peak execution memory; ``totals`` sums them (peak memory is the max).

Usage: python tools/stage_profile.py <sf_dir> <query> [query2 ...]
Prints one JSON line per query: {"query", "wall_sec", "totals": {...},
"stages": [...]} — compare GC share (gc_ms / run_ms) across A/B arms in
the SAME host window only (sf10 walls vary 4x cross-window).
``tools/ab.py stage`` alternates this between two checkouts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stages(spark) -> list:
    """Every stage in the status store (Spark 4.1
    ``AppStatusStore.stageList(statuses, details, withSummaries,
    unsortedQuantiles, taskStatus)``)."""
    sc = spark.sparkContext
    seq = sc._jsc.sc().statusStore().stageList(
        sc._jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(sc._jvm.double, 0),
        sc._jvm.java.util.ArrayList(),
    )
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def profile_query(spark, sf_dir: str, qname: str) -> dict:
    import __spark_entry__ as m

    seen = {s.stageId() for s in _stages(spark)}
    spark.sparkContext.setJobDescription(f"stage_profile:{qname}")
    t0 = time.perf_counter()
    df = m.queries()[qname](spark, sf_dir)
    # noop write, not count(): count() lets Catalyst ELIMINATE a
    # unique-key left join whose right side feeds no surviving column
    # (the rewrite-family queries end in documents LEFT JOIN rewritten)
    # and answer from parquet row-group stats — the r10 sf10 audit
    # recorded 0 stages / 0 bytes for text_exactsubstr_removal that way.
    # The noop sink materializes every output row JVM-side.
    df.write.format("noop").mode("overwrite").save()
    wall = round(time.perf_counter() - t0, 2)
    stages = [
        {
            "stage": s.stageId(),
            "tasks": s.numTasks(),
            "run_ms": s.executorRunTime(),
            # CPU time is robust to co-tenant contention (run time
            # inflates under steal; cpu time does not), but it excludes
            # GC pauses — read it beside gc_ms
            "cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "input_bytes": s.inputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "memory_bytes_spilled": s.memoryBytesSpilled(),
            "disk_bytes_spilled": s.diskBytesSpilled(),
            "peak_execution_memory": s.peakExecutionMemory(),
        }
        for s in _stages(spark)
        if s.stageId() not in seen
    ]
    tot = {
        k: sum(r[k] for r in stages)
        for k in (
            "tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes",
            "memory_bytes_spilled", "disk_bytes_spilled",
        )
    }
    tot["n_stages"] = len(stages)
    tot["peak_execution_memory"] = max((r["peak_execution_memory"] for r in stages), default=0)
    # sum raw nanoseconds, divide once: a per-stage floor-divide loses up
    # to ~1 ms per stage across many-stage queries
    for r in (*stages, tot):
        r["cpu_ms"] = r.pop("cpu_ns") // 1_000_000
    tot["gc_share"] = round(tot["gc_ms"] / tot["run_ms"], 3) if tot["run_ms"] else 0.0
    stages.sort(key=lambda r: -r["run_ms"])
    return {"query": qname, "wall_sec": wall, "totals": tot, "stages": stages}


def main() -> int:
    sf_dir = sys.argv[1]
    from oracle_schema_copy_spark.session import get_spark

    spark = get_spark(
        "stage-profile", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    )
    spark.sparkContext.setLogLevel("ERROR")
    for q in sys.argv[2:]:
        print(json.dumps(profile_query(spark, sf_dir, q)), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
