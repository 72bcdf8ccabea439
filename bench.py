"""Benchmark harness: runs a query set (``SPARK_GRAFT_BENCH_SET``:
``headline`` default — what the round driver records — or ``tpch`` for
the complete TPC-H shape surface, recorded as BENCH_r*_tpch.json) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``

Measurement protocol (v2 — the v1 median-of-3-in-one-JVM protocol produced
per-query spreads exceeding the medians; a single GC/JIT cliff landed in
the median and round-over-round comparisons became undecidable):

- **Per-query process isolation** (default): each query gets a FRESH JVM in
  a subprocess, so query N's GC debris, JIT state, and leftover broadcast
  blocks can't contaminate query N+1. Disable with
  ``SPARK_GRAFT_BENCH_ISOLATE=0`` for quick same-JVM iteration.
- **Warmup inside each JVM**: generic shuffle/broadcast/Arrow warmup plus
  ONE untimed execution of the query itself (codegen compile + JIT), so
  timed samples measure the steady-state plan, not first-touch costs.
- **7 timed runs per query** (``SPARK_GRAFT_BENCH_RUNS``), reported as a
  one-sided trimmed median (worst third dropped — contention noise is
  one-sided, see ``_trimmed_median``), plus min, max-min spread, and the
  full sample list so outliers are visible in the record. Each sample's
  driver build seconds (building the frame, before ``.count()``) sit
  beside it in ``BENCH_FULL.json``.
- **One failed query never loses the run**: a query whose subprocess
  fails or times out gets an ``error`` / ``timeout`` entry, the other
  queries still run, and the process exits non-zero at the end.
- Machine state (cpu count, 1-min loadavg before/after, fixed CPU-speed
  probe + steal) is recorded so an overloaded-sandbox run is
  distinguishable from a plan regression.
- **Launch gate + probe normalization (v3)**: the run WAITS (bounded by
  ``SPARK_GRAFT_BENCH_GATE_WAIT``, default 240 s) for probe_sec ≤ 0.25 and
  loadavg ≤ 1 before starting, records whether the gate passed, and emits
  ``min_probe_normalized`` — per-query minima rescaled to the reference
  host speed (``PROBE_REF_SEC``) so cross-round deltas survive the host's
  silent CPU-speed changes (r8 finding: probe 0.186–0.63 s at ~0 load).

The headline ``value`` is the sum of per-query medians; ``value_min`` sums
the per-query minima (the contention-free floor).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _warmup(spark) -> None:
    """Steady-state JVM warmup: codegen, shuffle machinery, broadcast path,
    and the Arrow python-worker pool all have multi-second first-use costs."""
    from pyspark.sql import functions as F

    r = spark.range(100_000)
    r.groupBy((F.col("id") % 7).alias("k")).count().join(
        F.broadcast(spark.range(7).toDF("k")), "k"
    ).count()
    spark.range(1000).toPandas()


def _time_query(spark, fn, sf_dir: str, runs: int) -> dict:
    """Untimed warmup executions, then up to ``runs`` timed samples.

    Two warmup passes, not one: measured single-warmup runs still carried
    5× first-sample JIT residue (C2 compiles the hot loops during/after
    the first full execution). ``build`` holds, per sample, the seconds
    spent building the frame (py4j + analysis + any eager checkpoint job
    inside the builder) — the part of the sample before ``.count()``.

    The timed phase is bounded by ``SPARK_GRAFT_BENCH_QUERY_BUDGET``
    seconds (default 60, min 3 samples always taken): under co-tenant
    contention a single sample can take 30s+, and an unbounded 7-sample
    protocol across 15 queries must not blow whatever timeout the
    calling driver enforces — a completed 3-sample record beats a killed
    7-sample one."""
    t0 = time.perf_counter()
    assert fn(spark, sf_dir).count() >= 0
    assert fn(spark, sf_dir).count() >= 0
    warm = time.perf_counter() - t0
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_QUERY_BUDGET", "60"))
    samples, build = [], []
    t_start = time.perf_counter()
    for i in range(runs):
        if i >= 3 and time.perf_counter() - t_start > budget:
            break
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        assert df.count() >= 0
        samples.append(round(time.perf_counter() - t0, 3))
        build.append(round(t1 - t0, 3))
    return {"samples": samples, "build": build, "warmup": round(warm, 3)}



# TPC-H shape set: the five shapes living in relational.py under their
# registry names plus the 16 tpch_* completions — 21 timed entries for
# the 22 canonical queries (Q20 has no partsupp analog; documented skip).
_TPCH_EXTRAS = [
    "agg_pricing_summary",            # Q1
    "agg_late_orders_by_priority_q4", # Q4
    "agg_forecast_revenue_q6",        # Q6
    "join_promo_revenue_share_q14",   # Q14
    "join_top_supplier_revenue_q15",  # Q15
]


def _query_set():
    """Query set selected by ``SPARK_GRAFT_BENCH_SET``: ``headline``
    (default — what the round driver records) or ``tpch`` (the complete
    TPC-H shape surface as a secondary relational benchmark)."""
    from oracle_schema_copy_spark import queries

    sel = os.environ.get("SPARK_GRAFT_BENCH_SET", "headline")
    if sel == "headline":
        name, fns = "headline", queries.headline_queries()
    elif sel == "tpch":
        qs = queries.queries()
        names = [n for n in qs if n.startswith("tpch_")] + _TPCH_EXTRAS
        name, fns = "tpch", {n: qs[n] for n in names}
    elif sel == "registry":
        # any registered query by name — for subset records at scale
        # fixtures (r12 VERDICT #2: the sf10 bench wants the heavy TPC-H
        # joins plus a couple of headline shapes, not a fixed set)
        name, fns = "registry", dict(queries.queries())
    else:
        raise SystemExit(f"unknown SPARK_GRAFT_BENCH_SET {sel!r}")
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        want = only.split(",")
        unknown = sorted(set(want) - set(fns))
        if unknown:  # loud, never silently shrink (queries._check_order policy)
            raise SystemExit(f"unknown names in SPARK_GRAFT_BENCH_ONLY: {unknown}")
        fns = {n: fns[n] for n in want}
    return name, fns


def _run_one(name: str, sf_dir: str, cpus: int, runs: int) -> None:
    """Subprocess entry: fresh JVM, warmup, time one query, print JSON.
    ``name`` is looked up in the whole registry, whatever the bench set;
    an unknown name exits before the JVM starts."""
    from oracle_schema_copy_spark import queries
    from oracle_schema_copy_spark.session import get_spark

    fns = queries.queries()
    if name not in fns:
        raise SystemExit(f"unknown query {name!r}")
    spark = get_spark(f"oscs-bench-{name}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark)
    res = _time_query(spark, fns[name], sf_dir, runs)
    print("BENCH_ONE " + json.dumps({"name": name, **res}), flush=True)
    spark.stop()


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _trimmed_median(xs: list[float]) -> float:
    """Median after dropping the worst third of samples. The sandbox's
    noise is one-sided (co-tenant CPU contention ADDS seconds — observed
    31.8s samples on a 2.9s-min query; nothing ever makes a run faster
    than the plan), so the top samples carry no information about plan
    cost; a proportional one-sided trim keeps a burst of spikes from
    shifting the median. ``min`` (also reported) is the contention-free
    floor."""
    s = sorted(xs)
    drop = max(1, len(s) // 3) if len(s) > 2 else 0
    return _median(s[: len(s) - drop])


def _probe_sec() -> float:
    """Seconds for a fixed single-thread Python workload — the host-speed
    probe every gate and A/B arm records."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i
    return round(time.perf_counter() - t0, 4)


def _cpu_probe() -> dict:
    """Machine-speed calibration recorded alongside the timings:
    :func:`_probe_sec` plus the /proc/stat steal share over a 2 s window.
    Loadavg alone cannot distinguish "this round's sandbox is simply
    slower / more stolen-from" from a plan regression — r8 measured a
    quiet-loadavg machine running the identical committed queries ~1.5×
    slower than r6 with ~6% steal at idle. Cross-round comparisons should
    normalize by probe_sec (same fixed work every round)."""
    probe = _probe_sec()
    steal = None
    try:
        def snap():
            with open("/proc/stat") as f:
                return list(map(int, f.readline().split()[1:]))
        a = snap()
        time.sleep(2)
        b = snap()
        d = [y - x for x, y in zip(a, b)]
        tot = sum(d)
        if tot > 0 and len(d) >= 8:
            steal = round(100.0 * d[7] / tot, 2)
    except (OSError, ValueError, IndexError):
        pass  # advisory telemetry only — a malformed /proc/stat must not
        # abort the benchmark (ADVICE r8: short first line raised ValueError)
    return {"probe_sec": probe, "steal_pct": steal}


def _bw_probe() -> float | None:
    """Aggregate all-core memory bandwidth in GB/s: concurrent numpy
    block copies on min(8, cpus) threads (numpy releases the GIL on
    large copies), buffers far past LLC. Advisory in the bench record;
    ``tools/ab.py`` can gate launches on it. Exists because the
    single-thread probe is provably blind to all-core degradation: r14
    session 4 recorded the fastest probe ever (0.131 s) on a host whose
    32-core bench ran ~9 % SLOWER than a 0.179 s-probe window and whose
    sf10 Σcpu on identical code swung 1.6–2.5× (BENCH_r14_c4 vs c2,
    AB_SF10_r14_quiet.jsonl)."""
    try:
        import threading

        import numpy as np

        threads = min(8, os.cpu_count() or 1)
        # 8 MiB of float64 per buffer: aggregate working set 128 MiB
        # (past any LLC) while keeping the one-time page-fault cost low —
        # this host faults anonymous memory at ~55 MB/s in degraded
        # windows, so big buffers made the probe itself cost ~10 s
        words = 1024 * 1024
        reps = 16
        bufs = [
            (np.ones(words), np.empty(words)) for _ in range(threads)
        ]
        for src, dst in bufs:  # fault every page in before timing
            np.copyto(dst, src)

        def trial() -> float | None:
            barrier = threading.Barrier(threads + 1)

            def work(i: int) -> None:
                src, dst = bufs[i]
                barrier.wait()
                for _ in range(reps):
                    np.copyto(dst, src)

            ts = [
                threading.Thread(target=work, args=(i,)) for i in range(threads)
            ]
            for t in ts:
                t.start()
            barrier.wait()
            t0 = time.perf_counter()
            for t in ts:
                t.join()
            dt = time.perf_counter() - t0
            if dt <= 0:
                return None
            # each rep reads + writes the buffer once
            return threads * reps * 2 * words * 8 / 1e9 / dt
        # best-of-3: contention noise is one-sided (same rule as timings —
        # trust the min time / max speed)
        best = max(filter(None, (trial() for _ in range(3))), default=None)
        return round(best, 2) if best else None
    except Exception:
        return None  # numpy missing / thread limits — telemetry only


# Quiet-window reference probe time (r8 analysis, BENCH_NOTES_r08.md):
# the fixed _cpu_probe workload takes ~0.19-0.21 s when the host is at
# full speed. probe-normalized timings divide out host CPU-speed drift.
PROBE_REF_SEC = 0.20
# Launch gate (VERDICT r8 #3): headline records taken on a slowed or
# loaded host are not cross-round comparable. Hold the start until the
# machine is quiet, up to a bounded wait; past it, proceed but mark the
# record as gate-failed so readers know to distrust the absolute numbers.
GATE_PROBE_MAX = 0.25
GATE_LOAD_MAX = 1.0
# Wall-clock cap on one fresh-process measurement (a bench query or an
# A/B arm); past it the child is killed and recorded as a ``timeout``.
CHILD_TIMEOUT_SEC = 1800


def _run_child(cmd: list[str], prefix: str, *, cwd: str | None = None) -> dict:
    """Run one fresh-process measurement; its record is the JSON object on
    the first stdout line starting with ``prefix``. A failed or timed-out
    child returns an ``error`` / ``timeout`` entry instead of raising, so
    one bad query never loses the other queries' samples."""
    try:
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=CHILD_TIMEOUT_SEC, cwd=cwd
        )
    except subprocess.TimeoutExpired:
        return {"timeout": CHILD_TIMEOUT_SEC}
    line = next((ln for ln in proc.stdout.splitlines() if ln.startswith(prefix)), None)
    if proc.returncode != 0 or line is None:
        return {"error": f"rc={proc.returncode}: {proc.stderr[-800:]}"}
    return json.loads(line[line.index("{"):])


def _machine_gate() -> dict:
    """Wait (bounded) for a quiet machine; always returns the launch
    measurement plus whether the gate passed. ``SPARK_GRAFT_BENCH_GATE_WAIT``
    caps the wait in seconds (default 240; 0 disables waiting)."""
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_WAIT", "240"))
    waited = 0.0
    while True:
        load = os.getloadavg()[0]
        probe = _cpu_probe()
        ok = probe["probe_sec"] <= GATE_PROBE_MAX and load <= GATE_LOAD_MAX
        if ok or waited >= max_wait:
            return {
                **probe,
                "loadavg_1m": round(load, 2),
                "gate_ok": ok,
                "gate_waited_sec": round(waited, 1),
                "gate_limits": {"probe_sec": GATE_PROBE_MAX, "loadavg": GATE_LOAD_MAX},
            }
        t0 = time.perf_counter()
        time.sleep(20)
        waited += time.perf_counter() - t0 + 2  # + the probe's steal window


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "7"))
    isolate = os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0"

    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        _run_one(sys.argv[2], sf_dir, cpus, runs)
        return

    set_name, fns = _query_set()
    names = list(fns)
    probe0 = _machine_gate()
    probe0["bw_gbps"] = _bw_probe()
    load0 = probe0["loadavg_1m"]
    per_query: dict[str, dict] = {}

    # per-query launch gate (bounded): the r9 whole-run gate passed and a
    # co-tenant burst STILL landed mid-run, inflating two queries 2-4x.
    # Waiting for quiet before each fresh-JVM query bounds the damage to
    # the one query a burst overlaps. Probe only (no 2s steal window).
    per_q_wait = float(os.environ.get("SPARK_GRAFT_BENCH_QUERY_GATE_WAIT", "90"))

    def _query_gate() -> dict:
        waited = 0.0
        while True:
            load = os.getloadavg()[0]
            probe = _probe_sec()
            ok = probe <= GATE_PROBE_MAX and load <= GATE_LOAD_MAX
            if ok or waited >= per_q_wait:
                return {"probe_sec": probe, "loadavg_1m": round(load, 2), "gate_ok": ok}
            time.sleep(15)
            waited += 15 + probe

    query_gates: dict[str, dict] = {}
    gate_retries: dict[str, dict] = {}
    if isolate:
        def _run_isolated(name: str) -> dict:
            res = _run_child(
                [sys.executable, os.path.abspath(__file__), "--one", name], "BENCH_ONE "
            )
            if "samples" not in res:
                sys.stderr.write(f"bench subprocess for {name} failed: {res}\n")
            return res

        for name in names:
            query_gates[name] = _query_gate()
            per_query[name] = _run_isolated(name)
        # r12 VERDICT #1: don't commit a record with gate_ok:false rows
        # without a retry. Re-gate each failed query once at the END of the
        # run (the co-tenant burst that failed its launch gate has usually
        # passed by then); when the retry's gate passes, its fresh-JVM
        # sample set replaces the contaminated one. A retry whose gate ALSO
        # fails keeps the original rows — still loud in the record.
        for name in [n for n, g in query_gates.items() if not g["gate_ok"]]:
            gate = _query_gate()
            kept = "original"
            if gate["gate_ok"]:
                res = _run_isolated(name)
                # a failed retry never replaces a completed sample set
                if "samples" in res or "samples" not in per_query[name]:
                    query_gates[name], per_query[name], kept = gate, res, "retry"
            gate_retries[name] = {"gate": gate, "kept": kept}
    else:
        from oracle_schema_copy_spark.session import get_spark

        spark = get_spark("oscs-bench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        _warmup(spark)
        for name in names:
            per_query[name] = {"name": name, **_time_query(spark, fns[name], sf_dir, runs)}
        spark.stop()

    failed = {n: r for n, r in per_query.items() if "samples" not in r}
    per_query = {n: r for n, r in per_query.items() if n not in failed}
    timings = {n: round(_trimmed_median(r["samples"]), 3) for n, r in per_query.items()}
    mins = {n: min(r["samples"]) for n, r in per_query.items()}
    spreads = {n: round(max(r["samples"]) - min(r["samples"]), 3) for n, r in per_query.items()}
    total = round(sum(timings.values()), 3)
    probe1 = _cpu_probe()
    probe1["bw_gbps"] = _bw_probe()
    # run-wide floor: the FASTEST probe observed anywhere around the run —
    # probes share the queries' one-sided contention, so the min is the
    # best estimate of the host's top speed during the run
    probe_best = min(
        [probe0["probe_sec"], probe1["probe_sec"]]
        + [g["probe_sec"] for g in query_gates.values()]
    )
    norm = PROBE_REF_SEC / probe_best if probe_best > 0 else 1.0
    # per-query: normalize each min by the probe taken at ITS OWN launch
    # gate (the most local host-speed estimate — a mid-run speed change,
    # the r8 failure mode, otherwise skews every query after it); fall
    # back to the run-wide floor when un-isolated runs have no gate
    mins_norm = {}
    for n, v in mins.items():
        q_probe = query_gates.get(n, {}).get("probe_sec") or probe_best
        q_norm = PROBE_REF_SEC / q_probe if q_probe > 0 else 1.0
        mins_norm[n] = round(v * q_norm, 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # Output contract (r10 VERDICT #1): the driver tail-captures stdout,
    # and the r9/r10 full records (~7 KB once samples + per-query gates
    # are inlined) got truncated mid-JSON ("parsed": null). So: write the
    # FULL record to a known file first, then print ONE COMPACT line —
    # the driver contract fields plus the per-query minima — last and
    # alone on stdout (< ~2 KB, safely inside any tail window).
    full_record = {
        "metric": f"{set_name}_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "value_min": round(sum(mins.values()), 3),
        "min": mins,
        "value_min_probe_normalized": round(sum(mins_norm.values()), 3),
        "min_probe_normalized": mins_norm,
        "probe_norm_factor": round(norm, 4),
        "probe_ref_sec": PROBE_REF_SEC,
        "spread": spreads,
        "samples": {n: r["samples"] for n, r in per_query.items()},
        "build": {n: r["build"] for n, r in per_query.items()},
        "warmup": {n: r["warmup"] for n, r in per_query.items()},
        "runs_per_query": runs,
        "isolated": isolate,
        "cpus": cpus,
        "loadavg": [round(load0, 2), round(os.getloadavg()[0], 2)],
        "machine": {
            "before": probe0,
            "after": probe1,
            "per_query_gate": query_gates,
            "gate_retries": gate_retries,
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if failed:
        full_record["failed"] = failed
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
    )
    try:
        with open(out_path, "w") as f:
            json.dump(full_record, f, indent=1)
            f.write("\n")
    except OSError as e:
        sys.stderr.write(f"bench: could not write full record to {out_path}: {e}\n")
        out_path = None
    compact = {
        k: full_record[k]
        for k in (
            "metric", "value", "unit", "queries", "value_min", "min",
            "value_min_probe_normalized", "probe_norm_factor",
            "runs_per_query", "isolated", "cpus", "loadavg", "sf",
        )
    }
    compact["gate_ok"] = probe0.get("gate_ok")
    compact["probe_best_sec"] = round(probe_best, 4)
    compact["full_record"] = out_path
    if failed:
        compact["failed"] = sorted(failed)
    # <2KB stdout contract (CLAUDE.md): the two per-query maps grow
    # linearly with the headline set — shed them largest-first before the
    # serialized line can exceed the tail window (r11 ADVICE). The full
    # maps always live in full_record.
    for shed in ("queries", "min"):
        if len(json.dumps(compact).encode()) <= 2000:
            break
        compact.pop(shed, None)
        compact["compact_shed"] = compact.get("compact_shed", []) + [shed]
    # Still oversized after shedding both maps (r12 ADVICE: the shed loop
    # had no final check and counted chars, not bytes): fall back to a
    # minimal record — everything lives in BENCH_FULL.json anyway.
    if len(json.dumps(compact).encode()) > 2000:
        compact = {
            "metric": compact["metric"],
            "value": compact["value"],
            "unit": compact["unit"],
            "value_min": compact["value_min"],
            "sf": compact["sf"],
            "compact_shed": ["minimal"],
            "full_record": out_path,
        }
    sys.stderr.flush()
    print(json.dumps(compact), flush=True)
    if failed:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
