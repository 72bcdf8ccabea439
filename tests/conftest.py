from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from oracle_schema_copy_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # The fixtures are sf0.001/sf0.01. Under the production default (48g)
    # ParallelGC grows the one long-lived driver JVM to 12-14 GB RSS over a
    # full run, which a 15 GB host can kill mid-suite; a bounded heap keeps
    # the suite's footprint independent of the production sizing.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark("oscs-tests", cpus=8)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    # a self-join written with Column references must fail here, not
    # resolve by Spark's auto-resolution (the engine joins by name)
    s.conf.set("spark.sql.selfJoinAutoResolveAmbiguity", "false")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _link_counts() -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_nlink
        for root in (SF_DIR, SF_DIR_MED)
        for d, _, files in os.walk(root)
        for f in files
    }


@pytest.fixture(scope="session", autouse=True)
def fixture_links_unchanged():
    """The read-only fixture gains no hard link: an export links its
    source files into the log (``oplog.link_parquet``), so a test that
    exported straight from the fixture would leave links to it behind.
    Export from ``src_dir`` instead."""
    before = _link_counts()
    yield
    after = _link_counts()
    changed = {p: (before.get(p), n) for p, n in after.items() if before.get(p) != n}
    assert not changed, f"fixture link counts changed (before, after): {changed}"


@pytest.fixture
def src_dir(tmp_path) -> str:
    """A writable copy of the sf0.001 fixture, for tests that export
    catalog tables (the log links their files) or rewrite a source."""
    d = tmp_path / "src"
    d.mkdir()
    for f in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, f), d / f)
    return str(d)


@pytest.fixture
def reader_jobs(spark):
    """``reader_jobs(fn)`` runs ``fn`` and returns ``(jobs, reader_jobs)``:
    the Spark jobs it started, and how many of those were submitted by
    ``DataFrameReader.parquet`` — schema inference (or file listing),
    which a read with a known schema never starts. Read from the status
    store. The jobs are found by a job tag, which a streaming query's
    micro-batch thread inherits from the thread that starts it (a job
    group does not survive there: the query sets its own). A stream's jobs
    all carry the query's call site, so a reader job is also known by its
    RDD chain: Spark's parallel schema merge and file listing are one
    ``parallelize`` → ``mapPartitions`` stage."""
    import uuid

    sc = spark.sparkContext

    def run(fn) -> tuple[int, int]:
        tag = f"reader-probe-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            fn()
        finally:
            sc.removeJobTag(tag)
        jsc = sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = list(jsc.statusTracker().getJobIdsForTag(tag))

        def parquet_reader(stage: int) -> bool:
            try:
                if "DataFrameReader.parquet" in store.lastStageAttempt(stage).details():
                    return True
                scopes = store.operationGraphForStage(stage).rootCluster().childClusters()
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                return False
            return [scopes.apply(i).name() for i in range(scopes.size())] == [
                "parallelize",
                "mapPartitions",
            ]

        reader = sum(
            1 for j in jobs if any(parquet_reader(s) for s in tracker.getJobInfo(j).stageIds)
        )
        return len(jobs), reader

    return run
