"""The measurement path: bench.py's per-query failure handling, the
tools/ab.py A/B driver, the plan audit, and an import check over every
measurement script. Child processes are faked through
``subprocess.run``; only the plan audit's execution reader uses the
session's Spark."""

from __future__ import annotations

import importlib
import json
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402
from tools import ab  # noqa: E402

COMPACT_KEYS = {
    "metric", "value", "unit", "queries", "value_min", "min",
    "value_min_probe_normalized", "probe_norm_factor", "runs_per_query",
    "isolated", "cpus", "loadavg", "sf", "gate_ok", "probe_best_sec",
    "full_record",
}


@pytest.fixture
def quiet_host(monkeypatch):
    """Instant probes on a quiet host; any sleep is a test failure."""
    monkeypatch.setattr(bench, "_probe_sec", lambda: 0.1)
    monkeypatch.setattr(bench, "_cpu_probe", lambda: {"probe_sec": 0.1, "steal_pct": 0.0})
    monkeypatch.setattr(bench, "_bw_probe", lambda: 50.0)
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.1, 0.1, 0.1))

    def no_sleep(s):
        raise AssertionError(f"unexpected sleep({s})")

    monkeypatch.setattr(bench.time, "sleep", no_sleep)


def _fake_run(outcomes: dict[str, object], calls: list):
    """``subprocess.run`` stand-in: the outcome is chosen by the first
    key that is an argument of the command, or a prefix of one."""

    def run(cmd, **kw):
        calls.append((cmd, kw))
        key = next(k for k in outcomes if any(c.startswith(k) for c in cmd))
        out = outcomes[key]
        if out == "timeout":
            raise subprocess.TimeoutExpired(cmd, kw.get("timeout"))
        if out == "error":
            return subprocess.CompletedProcess(cmd, 1, "", "boom: the child died")
        return subprocess.CompletedProcess(cmd, 0, out, "")

    return run


def _bench_one(name: str) -> str:
    rec = {"name": name, "samples": [1.0, 1.2, 1.1], "build": [0.1, 0.1, 0.2], "warmup": 3.0}
    return "spark noise\nBENCH_ONE " + json.dumps(rec) + "\n"


def test_bench_records_failed_and_timed_out_queries(monkeypatch, tmp_path, capsys, quiet_host):
    names = list(bench._query_set()[1])[:3]
    ok, dies, hangs = names
    out = tmp_path / "full.json"
    for k, v in {
        "SPARK_GRAFT_BENCH_ONLY": ",".join(names),
        "SPARK_GRAFT_BENCH_OUT": str(out),
        "SPARK_GRAFT_BENCH_GATE_WAIT": "0",
        "SPARK_GRAFT_BENCH_QUERY_GATE_WAIT": "0",
        "SPARK_GRAFT_BENCH_ISOLATE": "1",
    }.items():
        monkeypatch.setenv(k, v)
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    calls: list = []
    monkeypatch.setattr(
        subprocess, "run", _fake_run({ok: _bench_one(ok), dies: "error", hangs: "timeout"}, calls)
    )
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code == 1
    assert len(calls) == 3  # every query ran despite the failures
    compact = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert COMPACT_KEYS <= set(compact)
    assert compact["failed"] == sorted([dies, hangs])
    assert compact["value"] == 1.05  # trimmed median of the one good query
    full = json.loads(out.read_text())
    assert full["samples"] == {ok: [1.0, 1.2, 1.1]}
    assert full["build"] == {ok: [0.1, 0.1, 0.2]}
    assert "error" in full["failed"][dies]
    assert full["failed"][hangs] == {"timeout": bench.CHILD_TIMEOUT_SEC}


def _stage_rec(q: str) -> str:
    return json.dumps({"query": q, "wall_sec": 1.0, "totals": {}, "stages": []}) + "\n"


def _ab_rows(capsys) -> list[dict]:
    return [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]


def test_ab_resolves_relative_trees(monkeypatch, tmp_path, capsys, quiet_host):
    monkeypatch.chdir(tmp_path)
    calls: list = []
    monkeypatch.setattr(subprocess, "run", _fake_run({"q1": _bench_one("q1")}, calls))
    assert ab.main(["bench", "a", "./b", "q1", "1"]) == 0
    for (cmd, kw), tree in zip(calls, ("a", "b")):
        assert cmd[1] == str(tmp_path / tree / "bench.py")
        assert kw["cwd"] == str(tmp_path / tree)
    rows = _ab_rows(capsys)
    assert [r["arm"] for r in rows] == ["A", "B"]
    assert rows[0]["rec"]["samples"] == [1.0, 1.2, 1.1]


def test_ab_failed_and_timed_out_arms_keep_the_loop_going(
    monkeypatch, tmp_path, capsys, quiet_host
):
    calls: list = []
    monkeypatch.setattr(
        subprocess,
        "run",
        _fake_run(
            {
                str(tmp_path / "a" / "tools"): "error",
                str(tmp_path / "b" / "tools"): "timeout",
            },
            calls,
        ),
    )
    rc = ab.main(["stage", str(tmp_path / "a"), str(tmp_path / "b"), "q1,q2", "2", "/fixture"])
    assert rc == 1
    rows = _ab_rows(capsys)
    assert len(rows) == len(calls) == 8  # 2 rounds x 2 queries x 2 arms
    assert all(cmd[2:] == ["/fixture", r["query"]] for (cmd, _), r in zip(calls, rows))
    assert all("error" in r and "rec" not in r for r in rows if r["arm"] == "A")
    assert all(r["timeout"] == bench.CHILD_TIMEOUT_SEC for r in rows if r["arm"] == "B")


def test_ab_exits_zero_only_when_every_arm_succeeds(monkeypatch, tmp_path, capsys, quiet_host):
    calls: list = []
    monkeypatch.setattr(subprocess, "run", _fake_run({"q1": _stage_rec("q1")}, calls))
    assert ab.main(["stage", "a", "b", "q1", "1", "/fixture"]) == 0
    assert all(r["rec"]["query"] == "q1" for r in _ab_rows(capsys))


def test_ab_unavailable_bandwidth_probe_does_not_wait(monkeypatch, tmp_path, capsys, quiet_host):
    monkeypatch.setenv("SPARK_GRAFT_AB_BW_GATE", "100")
    monkeypatch.setattr(bench, "_bw_probe", lambda: None)
    calls: list = []
    monkeypatch.setattr(subprocess, "run", _fake_run({"q1": _bench_one("q1")}, calls))
    assert ab.main(["bench", "a", "b", "q1", "1"]) == 0  # quiet_host fails any sleep
    assert [r["bw_before"] for r in _ab_rows(capsys)] == [None, None]


def test_bench_one_looks_names_up_in_the_whole_registry(monkeypatch):
    """``bench.py --one`` (what ``tools/ab.py bench`` runs) finds a name
    outside the default bench set, and an unknown name exits loudly —
    both before a session starts."""
    from oracle_schema_copy_spark import queries, session

    class Started(Exception):
        pass

    def no_session(*args, **kwargs):
        raise Started

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SET", raising=False)
    name = next(n for n in queries.queries() if n not in bench._query_set()[1])
    with pytest.raises(Started):
        bench._run_one(name, "/fixture", 1, 1)
    with pytest.raises(SystemExit, match="unknown query 'no_such_query'"):
        bench._run_one("no_such_query", "/fixture", 1, 1)


def test_plan_audit_flags_unlisted_crosses_and_stale_allowlist_entries():
    """The audit fails an unlisted cross join and an allowlisted name
    whose plan no longer crosses anything; a listed cross and an
    unlisted plain plan pass."""
    from tools import plan_audit

    def plan(bnlj=0, cartesian=0):
        return {"bhj": 1, "smj": 0, "bnlj": bnlj, "cartesian": cartesian,
                "codegen": 3, "pushed": [], "schemas": []}

    listed = "similarity_topk_bruteforce"
    assert listed in plan_audit.INTENTIONAL_CROSS
    assert "tpch_q1" not in plan_audit.INTENTIONAL_CROSS
    assert plan_audit.verdict(listed, plan(bnlj=1)) is None
    assert plan_audit.verdict(listed, plan()) == "stale"
    assert plan_audit.verdict("tpch_q1", plan()) is None
    assert plan_audit.verdict("tpch_q1", plan(bnlj=1)) == "cross"
    assert plan_audit.verdict("tpch_q1", plan(cartesian=2)) == "cross"


def test_plan_audit_flags_a_cross_join_inside_a_checkpointed_round(spark):
    """A cross join that only a localCheckpoint round runs is invisible in
    the final frame's plan, and flagged by the audit of every execution."""
    from tools import plan_audit

    def build():
        points = spark.range(30).withColumnRenamed("id", "p")
        centers = spark.range(3).withColumnRenamed("id", "c")
        scored = points.crossJoin(centers).withColumn("d", (F.col("p") - F.col("c")) ** 2)
        return scored.localCheckpoint().groupBy("p").agg(F.min("d").alias("d"))

    plans = plan_audit.executed_plans(spark, build)
    assert len(plans) == 2  # the checkpointed round, then the noop write
    assert plan_audit.verdict("tpch_q1", plan_audit.audit(plans[-1])) is None
    assert plan_audit.verdict("tpch_q1", plan_audit.audit("\n".join(plans))) == "cross"
    assert "kmeans_two_iterations" in plan_audit.INTENTIONAL_CROSS


def test_ab_perfbench_alternates_arms_and_summarizes(monkeypatch, tmp_path, capsys):
    """``ab.py perfbench`` runs ``perfbench/run.py --trace 0`` in each
    arm's checkout on the pair's seed, A first on odd pairs, prints each
    run's result line and ends with medians, quartiles and B's wins."""
    calls: list = []

    def fake(cmd, **kw):
        calls.append((cmd, kw))
        jobs = 74 if kw["cwd"].endswith("a") else 54
        out = json.dumps({"correct": True, "attempted": 4, "failed": 0,
                          "metrics": {"spark_jobs_per_cycle": {"value": jobs, "unit": "count"}}})
        return subprocess.CompletedProcess(cmd, 0, stdout="{}\n" + out + "\n", stderr="")

    monkeypatch.setattr(subprocess, "run", fake)
    assert ab.main(["perfbench", str(tmp_path / "a"), str(tmp_path / "b"), "subgraph_extract", "3"]) == 0
    assert [Path(kw["cwd"]).name for _, kw in calls] == ["a", "b", "b", "a", "a", "b"]
    assert all(cmd[1:] == ["perfbench/run.py", "--workload", "subgraph_extract", "--seed",
                           cmd[5], "--seconds", cmd[7], "--trace", "0"] for cmd, _ in calls)
    assert [cmd[5] for cmd, _ in calls] == ["1", "1", "2", "2", "3", "3"]
    *rows, last = _ab_rows(capsys)
    assert [r["arm"] for r in rows] == ["A", "B", "B", "A", "A", "B"]
    jobs = last["summary"]["spark_jobs_per_cycle"]
    assert jobs["A"]["median"] == 74 and jobs["B"]["quartiles"] == [54, 54, 54]
    assert jobs["b_wins"] == jobs["pairs"] == 3 and last["failed_runs"] == 0


def test_ab_rejects_bad_arguments():
    with pytest.raises(SystemExit):
        ab.main(["stage", "a", "b", "q1", "1"])  # stage needs a fixture


@pytest.mark.parametrize(
    "module", ["bench"] + [f"tools.{p.stem}" for p in sorted((ROOT / "tools").glob("*.py"))]
)
def test_measurement_script_imports(module):
    """Every measurement script imports cleanly (no JVM starts at import),
    so a tool still importing a deleted helper fails here."""
    importlib.import_module(module)
