"""One workload run in its own process: generate the seeded inputs, start
the Spark session, warm up, run the closed loop for the requested seconds,
check every output, and write the result record as JSON.

Started by run.py; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field
from statistics import median

import numpy as np

from tracing import OP_GROUP, JobLedger

# Warm-up is one full cycle: in a fresh JVM the first call of each op
# pays class loading, code generation and Python worker start-up (up to 3.3x
# its later time); the second cycle is within ~10 % of later ones, less
# than the host's run-to-run noise (curve in README.md).
WARMUP_CYCLES = 1
MAX_CYCLE_ERRORS = 3


@dataclass
class OpRecord:
    name: str
    phase: str
    cycle: int
    seconds: float
    rows: int
    ok: bool
    error: str | None = None
    scanned: int = 0
    changed: int = 0
    span: int | None = None
    planning_ms: dict = field(default_factory=dict)


class Ctx:
    """What a workload sees: the session, the engine, its inputs and the
    op/untimed helpers that keep checks out of the timed region."""

    def __init__(self, spark, engine, data_dir, root, seed, table_rows, tracer):
        self.spark, self.engine, self.data_dir, self.root = spark, engine, data_dir, root
        self.seed, self.table_rows, self.tracer = seed, table_rows, tracer
        self.rng = np.random.default_rng(seed)
        self.ops: list[OpRecord] = []
        self.phase, self.cycle_no = "warmup", 0
        self.untimed_s = 0.0

    def untimed(self, fn):
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.untimed_s += time.perf_counter() - t

    def op(self, name, fn, *, rows=0, check=None, scanned=0, changed=0, frame=None):
        rec = OpRecord(name, self.phase, self.cycle_no, 0.0, rows, True,
                       scanned=scanned, changed=changed)
        self.ops.append(rec)
        t = time.perf_counter()
        if self.tracer is not None:
            self.tracer.req = len(self.ops)
            with self.tracer.span(f"op.{name}", "op") as s:
                out = fn()
            rec.span = s.idx
        else:
            # tag the op's Spark jobs so checks' jobs are not counted
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", OP_GROUP)
            try:
                out = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec.seconds = time.perf_counter() - t
        # outputs of timed ops are checked; warm-up runs the same verbs
        if check is not None and self.phase == "timed":
            try:
                self.untimed(lambda: check(out))
            except Exception as e:  # a failing check is a failed op, not a crash
                rec.ok, rec.error = False, f"{type(e).__name__}: {e}"
                print(f"check failed: {name}: {rec.error}", file=sys.stderr)
        if self.tracer is not None and frame and self.phase == "timed":
            from tracing import planning_ms

            rec.planning_ms = self.untimed(lambda: planning_ms(frame["df"]))
        return out

    def execute(self, op_name: str, df) -> None:
        """Materialise ``df`` with a noop write (``count()`` may drop joins)."""
        w = df.write.format("noop").mode("overwrite")
        if self.tracer is None:
            w.save()
            return
        layer = {"minhash_lsh_pairs": "dedup",
                 "lsh_banded_topk": "similarity"}.get(op_name, "curation")
        with self.tracer.span(f"{layer}.exec", layer):
            w.save()


def run_cycles(ctx, wl, phase: str, keep_going, after=None) -> list[float]:
    """Run cycles while ``keep_going(durations)``, calling ``after`` untimed
    after each; returns the timed wall time of each completed cycle
    (untimed work subtracted)."""
    ctx.phase = phase
    durations: list[float] = []
    errors = 0
    while keep_going(durations):
        ctx.cycle_no += 1
        t, u = time.perf_counter(), ctx.untimed_s
        try:
            wl.cycle(ctx, ctx.cycle_no)
        except Exception as e:
            errors += 1
            ctx.ops.append(OpRecord("cycle_error", phase, ctx.cycle_no, 0.0, 0, False,
                                    error=f"{type(e).__name__}: {e}"))
            traceback.print_exc()
            if errors >= MAX_CYCLE_ERRORS:
                break
            continue
        durations.append(time.perf_counter() - t - (ctx.untimed_s - u))
        if after is not None:
            ctx.untimed(after)
    return durations


def _timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def main() -> int:
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--root", "--out", "--profile", "--heap"):
        ap.add_argument(a, required=True)
    for a in ("--seed", "--trace", "--cpus"):
        ap.add_argument(a, type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--spawned", type=float, required=True)
    args = ap.parse_args()

    from machine import RssSampler

    rss = RssSampler().start()
    import gen
    from workloads import WORKLOADS

    data_dir = os.path.join(args.root, "data")
    t = time.perf_counter()
    table_rows = gen.generate(data_dir, args.seed, args.profile)
    gen_s = time.perf_counter() - t

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.heap
    from oracle_schema_copy_spark import queries
    from oracle_schema_copy_spark.catalog import tpch_catalog
    from oracle_schema_copy_spark.engine import Engine
    from oracle_schema_copy_spark.session import get_spark

    queries._load_all()  # noqa: SLF001 — import the registry before the expect thread
    ctx = Ctx(None, None, data_dir, args.root, args.seed, table_rows, None)
    wl = WORKLOADS[args.workload]()
    # DuckDB expectations overlap the JVM start; both count in setup_s
    with ThreadPoolExecutor(1) as pool:
        expected = pool.submit(lambda: _timed(wl.expect, ctx))
        t = time.perf_counter()
        spark = get_spark(app="perfbench", cpus=args.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t
        expect_s = expected.result()

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    ctx.spark, ctx.engine, ctx.tracer = spark, Engine(spark, tpch_catalog(data_dir)), tracer
    prepare_s = _timed(wl.prepare, ctx)

    t = time.perf_counter()
    warm = run_cycles(ctx, wl, "warmup", lambda d: len(d) < WARMUP_CYCLES)
    warmup_s = time.perf_counter() - t
    ledger = JobLedger(spark)
    ledger.mark()

    region_start = time.perf_counter()
    setup_s = time.time() - args.spawned
    untimed0 = ctx.untimed_s
    cycles = run_cycles(
        ctx, wl, "timed",
        lambda d: not d or (time.perf_counter() - region_start
                            - (ctx.untimed_s - untimed0)) < args.seconds,
        after=ledger.collect,
    )
    region_wall = time.perf_counter() - region_start - (ctx.untimed_s - untimed0)
    peak_rss_mb = rss.stop()

    timed = [o for o in ctx.ops if o.phase == "timed"]
    n = max(1, len(cycles))
    op_jobs = ledger.op_jobs()
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "profile": args.profile,
        "trace": args.trace,
        "gen_s": gen_s,
        "session_start_s": session_start_s,
        "expect_s": expect_s,
        "prepare_s": prepare_s,
        "warmup_s": warmup_s,
        "warmup_cycles_s": warm,
        "cycles_s": cycles,
        "attempted": len(timed),
        "failed": sum(not o.ok for o in timed),
        "errors": [f"{o.phase} {o.name}: {o.error}" for o in ctx.ops if not o.ok][:20],
        "e2e": {
            "setup_s": (setup_s, "s", 1),
            "peak_rss_mb": (peak_rss_mb, "MB", 1),
            "spark_jobs_per_cycle": (len(op_jobs) / n, "count", len(cycles)),
            "write_bytes_per_cycle": (sum(st["output_bytes"] for j in op_jobs
                                          for st in j["stages"]) / n, "bytes", len(cycles)),
            "cycle_s": (median(cycles) if cycles else None, "s", len(cycles)),
        },
        "workload_metrics": wl.metrics(timed),
        "ops": [asdict(o) for o in ctx.ops],
    }
    result["workload_metrics"]["failed_ops_frac"] = (
        result["failed"] / max(1, result["attempted"]), "ratio", result["attempted"])
    if tracer is not None:
        from layers import layer_metrics

        result["per_layer"], result["spans_by_layer"], result["spark_by_span"] = (
            layer_metrics(ctx, tracer, timed, cycles, region_wall, op_jobs, args.cpus,
                          session_start_s, warmup_s))
        tracer.uninstall()
    wl.close(ctx)
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
