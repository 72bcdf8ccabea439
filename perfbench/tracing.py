"""Span tracing around the engine's layer boundaries, from outside the
package.

``Tracer.install`` replaces the public entry points of each layer with
wrappers that record a span (name, layer, start, end, parent, request id)
and tag every Spark job started inside it with the span's id as its job
group, so stage metrics from Spark's status store can be attributed to
the innermost span. ``Tracer.uninstall`` restores the originals. Spans
stay in memory until the run ends; nothing is traced unless installed.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    idx: int
    name: str
    layer: str
    start: float
    parent: int | None
    req: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from file footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(root, f)).num_rows
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.req: int | None = None  # id of the op (closed-loop request) running

    # -- spans ----------------------------------------------------------------

    def _tag_jobs(self, idx: int | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None if idx is None else f"pb{idx}")
        self.sc.setJobDescription(None if idx is None else self.spans[idx].name)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, time.perf_counter(), parent, self.req, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.idx)
        self._tag_jobs(s.idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag_jobs(parent)

    # -- wrapping -------------------------------------------------------------

    def _wrapper(self, fn, name: str, layer: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer) as s:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s, args, kwargs, out)
                return out

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_function(self, module, attr: str, name: str, layer: str, after=None) -> None:
        """Wrap a module-level function in its own module and in every
        loaded engine module that imported it by name."""
        orig = getattr(module, attr)
        new = self._wrapper(orig, name, layer, after)
        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("oracle_schema_copy_spark")
                and getattr(mod, attr, None) is orig
            ):
                self._patch(mod, attr, new)

    def wrap_method(self, cls, attr: str, name: str, layer: str, after=None) -> None:
        self._patch(cls, attr, self._wrapper(cls.__dict__[attr], name, layer, after))

    def install(self) -> None:
        from oracle_schema_copy_spark import engine
        from oracle_schema_copy_spark.operators import dedup, similarity, walk
        from oracle_schema_copy_spark.plans import ddl, oplog
        from oracle_schema_copy_spark.sources import derby, jdbc, jdbc_mutations

        for verb in ("copy_tree", "delete_tree", "copy", "update", "export_schema",
                     "import_schema", "execute_sql"):
            self.wrap_method(engine.Engine, verb, f"engine.{verb}", "engine")
        self.wrap_function(walk, "walk_linked", "walk.walk_linked", "walk")
        self.wrap_function(walk, "copy_selections", "walk.copy_selections", "walk")
        for kind, cls in (("file", engine.FileTarget), ("warehouse", engine.WarehouseTarget),
                          ("derby", derby.DerbyTarget)):
            for verb in ("insert", "delete", "upsert"):
                self.wrap_method(cls, verb, f"target.{kind}.{verb}", "target")

        def payload_bytes(s, args, kwargs, out):
            log = args[0]
            s.attrs["bytes"] = dir_bytes(os.path.join(log.path, "payloads"))

        for verb in ("insert", "upsert", "delete"):
            self.wrap_method(oplog.OperationLogWriter, verb, f"oplog.writer.{verb}", "oplog")
        self.wrap_method(oplog.OperationLogWriter, "close", "oplog.writer.close", "oplog",
                         after=payload_bytes)
        for fn in ("replay", "replay_atomic", "replay_into_target", "_apply_commit"):
            self.wrap_function(oplog, fn, f"oplog.{fn.lstrip('_')}", "oplog")
        self.wrap_function(ddl, "export_schema_ddl", "ddl.export_schema_ddl", "ddl")

        def rewritten_rows(s, args, kwargs, out):
            wh, table = args[0], args[1]
            s.attrs["rows"] = parquet_rows(wh._dir(table))  # noqa: SLF001

        self.wrap_method(oplog.Warehouse, "write", "warehouse.write", "warehouse")
        self.wrap_method(oplog.Warehouse, "rewrite", "mutate.rewrite", "mutate",
                         after=rewritten_rows)

        self.wrap_function(jdbc, "write_table", "jdbc.write_table", "jdbc")
        self.wrap_function(jdbc_mutations, "jdbc_upsert", "jdbc.upsert", "jdbc")
        self.wrap_function(jdbc_mutations, "jdbc_delete", "jdbc.delete", "jdbc")
        tracer = self
        make_executor = jdbc_mutations.jvm_statement_executor

        @functools.wraps(make_executor)
        def traced_executor(*args, **kwargs):
            run = make_executor(*args, **kwargs)

            def execute(statements):
                with tracer.span("jdbc.statements", "jdbc", n=len(statements)):
                    return run(statements)

            return execute

        for mod in (jdbc_mutations, jdbc):
            if getattr(mod, "jvm_statement_executor", None) is make_executor:
                self._patch(mod, "jvm_statement_executor", traced_executor)

        for fn in ("minhash_lsh_pairs", "normalized_dedup"):
            self.wrap_function(dedup, fn, f"dedup.{fn}", "dedup")
        self.wrap_function(similarity, "lsh_banded_topk", "similarity.lsh_banded_topk",
                           "similarity")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self._tag_jobs(None)

    # -- analysis -------------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        covered, last = 0.0, s.start
        for c in sorted(kids.get(s.idx, ()), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return s.wall - covered

    def outermost(self, names, spans=None) -> list[Span]:
        """Spans whose name matches ``names`` (a predicate) and that have
        no ancestor that also matches — nested re-entries counted once."""
        by_idx = self.spans
        out = []
        for s in spans if spans is not None else self.spans:
            if not names(s.name):
                continue
            p = s.parent
            while p is not None and not names(by_idx[p].name):
                p = by_idx[p].parent
            if p is None:
                out.append(s)
        return out

    def spark_stages(self, jobs: list[dict]) -> list[dict]:
        """The stages of ``jobs`` (from a ``JobLedger``), each tagged with
        the span that started its job."""
        out = []
        for j in jobs:
            g = j["group"] or ""
            span = int(g[2:]) if g.startswith("pb") else None
            out.extend({**st, "job": j["job"], "span": span} for st in j["stages"])
        return out


class JobLedger:
    """Spark jobs started since ``mark()``, with their stage metrics, read
    from the status store. ``collect()`` is called after every timed cycle,
    well before the store's retention limit evicts anything."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
        self.jobs: list[dict] = []
        self.since = -1

    def _all(self):
        jobs = self.store.jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    def mark(self) -> None:
        self.since = max((j.jobId() for j in self._all()), default=-1)

    def collect(self) -> None:
        new = sorted((j for j in self._all() if j.jobId() > self.since),
                     key=lambda j: j.jobId())
        for j in new:
            g = j.jobGroup()
            self.jobs.append({
                "job": j.jobId(),
                "group": g.get() if g.isDefined() else None,
                "stages": [s for s in map(self._stage, self._ids(j.stageIds())) if s],
            })
        if new:
            self.since = new[-1].jobId()

    @staticmethod
    def _ids(seq) -> list[int]:
        return [seq.apply(k) for k in range(seq.size())]

    def _stage(self, sid: int) -> dict | None:
        try:
            st = self.store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — stage never ran or was evicted
            return None
        if str(st.status()) == "SKIPPED":
            return None
        return {
            "stage": sid,
            "tasks": st.numTasks(),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "input_bytes": st.inputBytes(),
            "output_bytes": st.outputBytes(),
            "output_records": st.outputRecords(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }

    def op_jobs(self) -> list[dict]:
        """Jobs started inside a timed op (untimed checks are excluded)."""
        return [j for j in self.jobs if (j["group"] or "").startswith(("pb", OP_GROUP))]


OP_GROUP = "op"


def cached_blocks(spark) -> int:
    """Cached RDD partitions currently held by the block manager."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(r.numCachedPartitions() for r in infos)


def planning_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own query execution (forces its
    physical plan)."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        out[k] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out
