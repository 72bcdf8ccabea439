"""Per-layer metrics of a traced run, computed from the spans of the
timed region and the Spark stage metrics attributed to them.

Times and counts are per timed cycle, so runs that complete a different
number of cycles stay comparable; ratios and end-of-run gauges are not.
"""

from __future__ import annotations

from statistics import median

from tracing import cached_blocks

# every per-layer metric: name -> unit (the list BENCHMARK.json carries)
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "walk.build_s": "s",
    "walk.check_s": "s",
    "walk.spark_jobs_per_verb": "count",
    "walk.selectivity": "ratio",
    "walk.cached_blocks_end": "count",
    "target.warehouse.insert_s": "s",
    "target.warehouse.delete_s": "s",
    "target.warehouse.upsert_s": "s",
    "target.file.insert_s": "s",
    "target.derby.insert_s": "s",
    "target.derby.upsert_s": "s",
    "target.derby.delete_s": "s",
    "oplog.write_s": "s",
    "oplog.ops": "count",
    "oplog.bytes_written": "bytes",
    "oplog.replay_s": "s",
    "oplog.commit_s": "s",
    "ddl.export_s": "s",
    "mutate.rewrite_s": "s",
    "mutate.rows_rewritten_per_row_changed": "ratio",
    "jdbc.write_s": "s",
    "jdbc.rows_written": "rows",
    "jdbc.staging_write_s": "s",
    "jdbc.statements": "count",
    "jdbc.statement_s": "s",
    "dedup.build_s": "s",
    "dedup.exec_s": "s",
    "similarity.build_s": "s",
    "similarity.exec_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.idle_core_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.starved_stages": "count",
    "trace.cycle_s": "s",
    "trace.root_coverage": "ratio",
}


def layer_metrics(ctx, tracer, timed_ops, cycles, region_wall, jobs, cores,
                  session_start_s, warmup_s):
    spans = tracer.spans
    timed_roots = {o.span for o in timed_ops if o.span is not None}

    def root_of(s):
        while s.parent is not None:
            s = spans[s.parent]
        return s.idx

    timed = [s for s in spans if root_of(s) in timed_roots]
    timed_idx = {s.idx for s in timed}
    n = max(1, len(cycles))

    def under(s, names) -> bool:
        """``s`` or one of its ancestors has a name in ``names``."""
        while True:
            if s.name in names:
                return True
            if s.parent is None:
                return False
            s = spans[s.parent]

    def wall(pred) -> float:
        return sum(s.wall for s in tracer.outermost(pred, timed)) / n

    def count(pred) -> int:
        return sum(1 for s in timed if pred(s.name))

    stages = [st for st in tracer.spark_stages(jobs) if st["span"] in timed_idx]

    def stages_under(names):
        return [st for st in stages if under(spans[st["span"]], names)]

    m: dict[str, float] = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        "walk.build_s": wall(lambda x: x == "walk.walk_linked"),
        "walk.check_s": wall(lambda x: x == "walk.copy_selections"),
    }
    verbs = [s for s in timed if s.name in ("engine.copy_tree", "engine.delete_tree")]
    walk_jobs = {st["job"] for st in stages_under({"engine.copy_tree", "engine.delete_tree"})}
    m["walk.spark_jobs_per_verb"] = len(walk_jobs) / len(verbs) if verbs else 0.0
    scanned = sum(o.scanned for o in timed_ops)
    m["walk.selectivity"] = (
        sum(o.rows for o in timed_ops if o.scanned) / scanned if scanned else 0.0)
    m["walk.cached_blocks_end"] = cached_blocks(ctx.spark)
    for kind in ("warehouse", "file", "derby"):
        for verb in ("insert", "delete", "upsert"):
            name = f"target.{kind}.{verb}"
            if f"{name}_s" in PER_LAYER:
                m[f"{name}_s"] = wall(lambda x, name=name: x == name)
    writer_ops = ("oplog.writer.insert", "oplog.writer.upsert", "oplog.writer.delete")
    m["oplog.write_s"] = wall(lambda x: x in writer_ops)
    m["oplog.ops"] = count(lambda x: x in writer_ops) / n
    m["oplog.bytes_written"] = sum(
        s.attrs.get("bytes", 0) for s in timed if s.name == "oplog.writer.close") / n
    m["oplog.replay_s"] = wall(
        lambda x: x in ("oplog.replay", "oplog.replay_atomic", "oplog.replay_into_target"))
    m["oplog.commit_s"] = wall(lambda x: x == "oplog.apply_commit")
    m["ddl.export_s"] = wall(lambda x: x == "ddl.export_schema_ddl")
    m["mutate.rewrite_s"] = wall(lambda x: x == "mutate.rewrite")
    changed = sum(o.changed for o in timed_ops)
    rewritten = sum(s.attrs.get("rows", 0) for s in timed if s.name == "mutate.rewrite")
    m["mutate.rows_rewritten_per_row_changed"] = rewritten / changed if changed else 0.0
    m["jdbc.write_s"] = wall(lambda x: x == "jdbc.write_table")
    m["jdbc.rows_written"] = sum(
        st["output_records"] for st in stages_under({"jdbc.write_table"})) / n
    staging = [s for s in tracer.outermost(lambda x: x == "jdbc.write_table", timed)
               if s.parent is not None and under(spans[s.parent], {"jdbc.upsert", "jdbc.delete"})]
    m["jdbc.staging_write_s"] = sum(s.wall for s in staging) / n
    m["jdbc.statements"] = sum(
        s.attrs.get("n", 0) for s in timed if s.name == "jdbc.statements") / n
    m["jdbc.statement_s"] = wall(lambda x: x == "jdbc.statements")
    for layer in ("dedup", "similarity"):
        m[f"{layer}.build_s"] = wall(
            lambda x, layer=layer: x.startswith(f"{layer}.") and x != f"{layer}.exec")
        m[f"{layer}.exec_s"] = wall(lambda x, layer=layer: x == f"{layer}.exec")
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = sum(
            o.planning_ms.get(phase, 0.0) for o in timed_ops) / n
    run_s = sum(st["run_s"] for st in stages)
    roots_wall = sum(spans[i].wall for i in timed_roots)
    m.update({
        "spark.jobs": len({st["job"] for st in stages}) / n,
        "spark.tasks": sum(st["tasks"] for st in stages) / n,
        "spark.task_run_s": run_s / n,
        "spark.task_cpu_s": sum(st["cpu_s"] for st in stages) / n,
        "spark.gc_s": sum(st["gc_s"] for st in stages) / n,
        "spark.idle_core_s": (roots_wall * cores - run_s) / n,
        "spark.shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in stages) / n,
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages) / n,
        "spark.spill_bytes": sum(st["spill_bytes"] for st in stages) / n,
        "spark.input_bytes": sum(st["input_bytes"] for st in stages) / n,
        "spark.starved_stages": sum(
            1 for st in stages if st["tasks"] < max(2, cores / 4) and st["cpu_s"] > 0.2) / n,
        "trace.cycle_s": median(cycles) if cycles else 0.0,
        "trace.root_coverage": roots_wall / region_wall if region_wall else 0.0,
    })
    per_layer = {k: (float(m[k]), PER_LAYER[k]) for k in PER_LAYER}

    spans_by_layer: dict[str, int] = {}
    for s in timed:
        spans_by_layer[s.layer] = spans_by_layer.get(s.layer, 0) + 1
    spark_by_span: dict[str, dict] = {}
    for st in stages:
        d = spark_by_span.setdefault(spans[st["span"]].name, {"jobs": set(), "run_s": 0.0,
                                                              "cpu_s": 0.0, "tasks": 0})
        d["jobs"].add(st["job"])
        d["run_s"] += st["run_s"]
        d["cpu_s"] += st["cpu_s"]
        d["tasks"] += st["tasks"]
    for d in spark_by_span.values():
        d["jobs"] = len(d["jobs"])
    span_wall = {}
    kids = tracer.children()
    for s in timed:
        span_wall.setdefault(s.name, [0, 0.0, 0.0])
        span_wall[s.name][0] += 1
        span_wall[s.name][1] += s.wall
        span_wall[s.name][2] += tracer.self_time(s, kids)
    for name, (cnt, w, self_s) in span_wall.items():
        d = spark_by_span.setdefault(name, {})
        d.update({"count": cnt, "wall_s": w, "self_s": self_s})
    return per_layer, spans_by_layer, spark_by_span
