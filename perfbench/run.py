#!/usr/bin/env python3
"""Workflow benchmark for the engine: one workload per invocation.

    python3 perfbench/run.py --workload subgraph_extract --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload runs in a child process with a
hard timeout, under a scratch root inside the checkout that is deleted
afterwards. Stdout gets two JSON lines: a detail record (every metric of
the workload with its unit, the machine record, errors), then the result
line ``{"correct", "attempted", "failed", "metrics"}`` — end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. Exits
non-zero if the program is missing, the run crashed or timed out, or any
output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import machine  # noqa: E402

WORKLOADS = ("subgraph_extract", "migrate_curate")
E2E = ("setup_s", "spark_jobs_per_cycle", "write_bytes_per_cycle")
HEAP = "3g"
TIMEOUT_S = 170


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (Python, the JVM, UDF
    workers) and wait until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()  # reap the leader: a zombie still counts as a group member
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        else:
            continue
        break
    proc.wait()


def run_worker(args, scratch: str, cpus: int) -> tuple[dict | None, str | None]:
    os.makedirs(os.path.join(scratch, "tmp"))
    out = os.path.join(scratch, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": os.path.join(scratch, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(scratch, "scratch"),
        "SPARK_GRAFT_EXTRA_JAVA": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", scratch, "--out", out, "--profile", args.profile,
           "--heap", HEAP, "--cpus", str(cpus), "--spawned", repr(time.time())]
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None, f"timeout after {TIMEOUT_S}s"
    finally:
        _kill_group(proc)  # also reaps a JVM that outlived a crashed worker
    if code != 0:
        return None, f"worker exited with code {code}"
    with open(out) as f:
        return json.load(f), None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", default="bench", choices=("bench", "tiny"),
                    help="input size; 'tiny' is for the self-test")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "oracle_schema_copy_spark", "engine.py")):
        print(f"error: the engine package is not in {ROOT}", file=sys.stderr)
        return 2

    # a terminated benchmark still stops its worker and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = os.cpu_count() or 1
    record = machine.record(args.seed, cpus, HEAP)
    base = os.path.join(ROOT, ".perfbench_run")
    scratch = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, error = run_worker(args, scratch, cpus)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    record["loadavg_after"] = machine.loadavg()
    if result is None:
        print(json.dumps({"error": error, "workload": args.workload, "seed": args.seed,
                          "machine": record}), file=sys.stderr)
        return 1

    metrics = {k: {"value": v, "unit": u, "n": n}
               for k, (v, u, n) in {**result["e2e"], **result["workload_metrics"]}.items()}
    detail = {"workload": args.workload, "trace": args.trace, "metrics": metrics,
              "machine": record, "errors": result["errors"],
              "setup": {k: result[k] for k in ("gen_s", "session_start_s", "expect_s", "prepare_s",
                                               "warmup_s", "warmup_cycles_s")},
              "cycles_s": result["cycles_s"],
              "ops": [(o["phase"], o["cycle"], o["name"], round(o["seconds"], 3))
                      for o in result["ops"]]}
    if args.trace:
        detail["per_layer"] = {k: {"value": v, "unit": u}
                               for k, (v, u) in result["per_layer"].items()}
        detail["spans_by_layer"] = result["spans_by_layer"]
        detail["spark_by_span"] = result["spark_by_span"]
    print(json.dumps(detail))

    if args.trace:
        out = {k: {"value": v, "unit": u} for k, (v, u) in result["per_layer"].items()}
    else:
        out = {k: {"value": result["e2e"][k][0], "unit": result["e2e"][k][1]} for k in E2E}
    ok = result["failed"] == 0 and not result["errors"]
    print(json.dumps({"correct": ok, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": out}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
