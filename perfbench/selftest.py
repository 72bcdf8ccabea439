#!/usr/bin/env python3
"""Fast self-test of the benchmark (about three minutes on 4 cores).

    python3 perfbench/selftest.py

Runs every workload for one measured cycle on the 'tiny' input profile
with tracing on, and one workload untraced. Asserts that every metric
named in BENCHMARK.json is printed with its unit, that each workload's
own end-to-end metrics are in its detail line, that the traced run has
spans for every layer the workload exercises, and that the benchmark
refuses to run in a directory holding only itself.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# span layers each workload must exercise (perfbench/tracing.py names)
LAYERS = {
    "subgraph_extract": {"engine", "walk", "target", "oplog", "warehouse", "mutate"},
    "migrate_curate": {"engine", "target", "oplog", "ddl", "warehouse", "mutate", "jdbc",
                       "dedup", "similarity"},
}
WORKLOAD_METRICS = {
    "subgraph_extract": ("copy_tree_p50_s", "delete_tree_p50_s", "subgraph_verbs_per_s"),
    "migrate_curate": ("export_rows_per_s", "import_rows_per_s", "upsert_p50_s",
                       "db_load_rows_per_s", "db_merge_p50_s", "db_delete_p50_s",
                       "oplog_bytes_per_src_byte", "dedup_p50_s", "ann_topk_p50_s",
                       "curation_docs_per_s"),
}
COMMON = ("setup_s", "failed_ops_frac", "peak_rss_mb", "cycle_s")


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cmd = json.load(f)["command"]
    p = subprocess.run(
        cmd + ["--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--profile", "tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=180)
    return p.returncode, p.stdout.strip().splitlines()


def check_metrics(printed: dict, spec: list[dict], what: str) -> None:
    for m in spec:
        got = printed.get(m["name"])
        assert got is not None, f"{what}: {m['name']} not printed"
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{what}: {m['name']} is not a number"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    assert set(names) == set(LAYERS), f"workloads {names} != {sorted(LAYERS)}"

    for w in names:
        code, lines = run(ROOT, w, 1)
        assert code == 0, f"{w} traced: exit {code}"
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, result
        check_metrics(result["metrics"], bench["per_layer"], f"{w} traced")
        for k in COMMON + WORKLOAD_METRICS[w]:
            v = detail["metrics"].get(k)
            assert v is not None and v["unit"] and v["value"] is not None, f"{w}: {k} missing"
        missing = LAYERS[w] - {k for k, n in detail["spans_by_layer"].items() if n > 0}
        assert not missing, f"{w}: no spans for layers {sorted(missing)}"
        assert result["metrics"]["spark.jobs"]["value"] > 0, f"{w}: no Spark jobs attributed"
        print(f"ok  {w} traced: {detail['spans_by_layer']}")

    code, lines = run(ROOT, names[0], 0)
    assert code == 0, f"{names[0]} untraced: exit {code}"
    result = json.loads(lines[-1])
    check_metrics(result["metrics"], bench["end_to_end"], f"{names[0]} untraced")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    print(f"ok  {names[0]} untraced: {sorted(result['metrics'])}")

    bare = tempfile.mkdtemp(prefix=".perfbench-bare-", dir=ROOT)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(bare, names[0], 0)
        assert code != 0 and not lines, f"bare directory: exit {code}, output {lines}"
    finally:
        shutil.rmtree(bare)
    print("ok  refuses to run without the engine")
    return 0


if __name__ == "__main__":
    sys.exit(main())
