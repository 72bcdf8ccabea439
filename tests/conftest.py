from __future__ import annotations

import os
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
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def reader_jobs(spark):
    """``reader_jobs(fn)`` runs ``fn`` and returns ``(jobs, reader_jobs)``:
    the Spark jobs it started, and how many of those were submitted by
    ``DataFrameReader.parquet`` — schema inference (or file listing),
    which a read with a known schema never starts. Read from the status
    store."""
    import uuid

    sc = spark.sparkContext

    def run(fn) -> tuple[int, int]:
        group = f"reader-probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "reader probe")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jsc = sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)

        def details(stage: int) -> str:
            try:
                return store.lastStageAttempt(stage).details()
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                return ""

        reader = sum(
            1
            for j in jobs
            if any("DataFrameReader.parquet" in details(s) for s in tracker.getJobInfo(j).stageIds)
        )
        return len(jobs), reader

    return run
