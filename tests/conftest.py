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
