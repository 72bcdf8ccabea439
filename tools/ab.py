"""Alternating A/B between two checkouts: the one A/B driver.

Each (round, query, arm) is a fresh process — and so a fresh JVM — of
either instrument in that arm's checkout:

- ``bench``: ``bench.py --one <query>`` (timed samples + build seconds
  of any registered query; fixture, cores and runs come from the usual
  ``SPARK_GRAFT_SF_DIR`` / ``SPARK_GRAFT_CPUS`` /
  ``SPARK_GRAFT_BENCH_RUNS``);
- ``stage``: ``tools/stage_profile.py <sf_dir> <query>`` (per-stage run,
  CPU, GC, shuffle, spill).

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
Prints one JSON line per (round, query, arm).
"""

from __future__ import annotations

import json
import os
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


def main(argv: list[str]) -> int:
    if len(argv) != {"bench": 5, "stage": 6}.get(argv[0] if argv else None):
        raise SystemExit(__doc__)
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
