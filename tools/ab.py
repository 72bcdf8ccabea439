"""Alternating A/B between two checkouts: the one A/B driver.

Each (round, query, arm) is a fresh process — and so a fresh JVM — of
either instrument in that arm's checkout:

- ``bench``: ``bench.py --one <query>`` (timed samples + build seconds
  of any registered query; fixture, cores and runs come from the usual
  ``SPARK_GRAFT_SF_DIR`` / ``SPARK_GRAFT_CPUS`` /
  ``SPARK_GRAFT_BENCH_RUNS``);
- ``stage``: ``tools/stage_profile.py <sf_dir> <query>`` (per-stage run,
  CPU, GC, shuffle, spill);
- ``perfbench``: ``perfbench/run.py --workload <w> --seed <pair> --trace 0``
  for the seconds ``BENCHMARK.json`` gives; pair ``i`` runs both arms on
  seed ``i``, A first on odd pairs and B first on even ones. After the
  rows it prints one ``summary`` line: per end-to-end metric, each arm's
  median and quartiles and the pairs where B beat A.

Arms alternate A, B, A, B … so both see the same host windows. Every row
records ``bench``'s single-thread probe just before and after the run and
its all-core bandwidth probe (``bw_gbps``) likewise — compare arms only
at matched probes (CLAUDE.md sf10 rules). With ``SPARK_GRAFT_AB_BW_GATE``
set (GB/s), each launch first waits up to ``SPARK_GRAFT_AB_BW_WAIT``
seconds (default 300) for the bandwidth to reach it; an unavailable
probe launches at once. A failed or timed-out arm is recorded as an
``error`` / ``timeout`` row and the loop goes on; the exit status is
non-zero when any row failed.

Usage:
    python tools/ab.py bench <treeA> <treeB> <query[,query...]> <rounds>
    python tools/ab.py stage <treeA> <treeB> <query[,query...]> <rounds> <sf_dir>
    python tools/ab.py perfbench <treeA> <treeB> <workload> <pairs>
Prints one JSON line per (round, query, arm).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _bw_gate() -> float | None:
    """Bandwidth just before a launch, after waiting (bounded) for the
    optional gate; returns the last reading."""
    gate = float(os.environ.get("SPARK_GRAFT_AB_BW_GATE", "0"))
    deadline = time.monotonic() + float(os.environ.get("SPARK_GRAFT_AB_BW_WAIT", "300"))
    bw = bench._bw_probe()
    while gate and bw is not None and bw < gate and time.monotonic() < deadline:
        time.sleep(15)
        bw = bench._bw_probe()
    return bw


def _command(mode: str, tree: str, query: str, sf_dir: str | None) -> tuple[list[str], str]:
    """The child command for one arm and the stdout prefix of its record."""
    if mode == "bench":
        return [sys.executable, os.path.join(tree, "bench.py"), "--one", query], "BENCH_ONE "
    script = os.path.join(tree, "tools", "stage_profile.py")
    return [sys.executable, script, sf_dir, query], "{"


def _perfbench_run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py --trace 0`` run: its result line (the last
    stdout line), or an ``error`` entry."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=tree,
                              timeout=bench.CHILD_TIMEOUT_SEC)
    except subprocess.TimeoutExpired:
        return {"error": f"timeout after {bench.CHILD_TIMEOUT_SEC}s"}
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"error": f"rc={proc.returncode}: {proc.stderr[-800:]}"}


def _quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3


def perfbench_ab(trees: list[str], workload: str, pairs: int) -> int:
    """Alternating perfbench A/B; returns the number of failed runs."""
    with open(os.path.join(os.path.dirname(bench.__file__), "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    values: dict[str, dict[str, dict[int, float]]] = {"A": {}, "B": {}}
    failed = 0
    for pair in range(1, pairs + 1):
        order = "AB" if pair % 2 else "BA"
        for label in order:
            tree = trees["AB".index(label)]
            res = _perfbench_run(tree, workload, pair, spec["run_seconds"])
            if "error" in res or not res.get("correct") or res.get("failed"):
                failed += 1
            for k, m in res.get("metrics", {}).items():
                values[label].setdefault(k, {})[pair] = m["value"]
            print(json.dumps({"mode": "perfbench", "pair": pair, "arm": label, "tree": tree,
                              "workload": workload, "seed": pair, **res}), flush=True)
    summary = {}
    for k in sorted(set(values["A"]) & set(values["B"])):
        both = sorted(set(values["A"][k]) & set(values["B"][k]))
        a, b = ([values[arm][k][p] for p in both] for arm in "AB")
        lower = better.get(k, "lower") == "lower"
        summary[k] = {
            "better": "lower" if lower else "higher",
            "A": {"median": statistics.median(a), "quartiles": _quartiles(a)},
            "B": {"median": statistics.median(b), "quartiles": _quartiles(b)},
            "b_wins": sum((y < x) if lower else (y > x) for x, y in zip(a, b)),
            "pairs": len(both),
        }
    print(json.dumps({"mode": "perfbench", "summary": summary, "failed_runs": failed}))
    return failed


def main(argv: list[str]) -> int:
    if len(argv) != {"bench": 5, "stage": 6, "perfbench": 5}.get(argv[0] if argv else None):
        raise SystemExit(__doc__)
    if argv[0] == "perfbench":
        trees = [os.path.abspath(t) for t in argv[1:3]]
        return 1 if perfbench_ab(trees, argv[3], int(argv[4])) else 0
    mode, trees, queries, rounds = argv[0], argv[1:3], argv[3].split(","), int(argv[4])
    sf_dir = argv[5] if mode == "stage" else None
    trees = [os.path.abspath(t) for t in trees]
    failed = 0
    for rnd in range(1, rounds + 1):
        for q in queries:
            for label, tree in zip("AB", trees):
                bw0 = _bw_gate()
                p0 = bench._probe_sec()
                cmd, prefix = _command(mode, tree, q, sf_dir)
                rec = bench._run_child(cmd, prefix, cwd=tree)
                row = {
                    "mode": mode,
                    "round": rnd,
                    "arm": label,
                    "tree": tree,
                    "query": q,
                    "probe_before": p0,
                    "probe_after": bench._probe_sec(),
                    "bw_before": bw0,
                    "bw_after": bench._bw_probe(),
                    "loadavg": round(os.getloadavg()[0], 2),
                }
                if "error" in rec or "timeout" in rec:
                    failed += 1
                    row.update(rec)
                else:
                    row["rec"] = rec
                print(json.dumps(row), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
