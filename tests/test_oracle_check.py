"""The one oracle comparison rule (tests/oracle_check.mismatch), shared by
tier-1 and tools/driver_mimic.py: it must be as strict as the external
verifier's stringified-cell hash, which a float tolerance or a dtype-blind
compare would hide."""

from __future__ import annotations

import pandas as pd

from tests.oracle_check import mismatch


def test_floats_must_be_equal_and_numeric_families_match():
    base = pd.DataFrame({"k": [1, 2], "x": [0.1, 0.2]})
    assert mismatch(base, base.copy()) is None
    nudged = base.assign(x=[0.1, 0.2 + 1e-12])
    assert "col x row 1" in mismatch(base, nudged)
    as_double = base.assign(k=base["k"].astype(float))
    assert "col k dtype" in mismatch(base, as_double)


def test_array_cells_and_time_zones_normalise():
    spark = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-03-01 12:00"]), "a": [[1, 2]]}
    )
    duck = pd.DataFrame(
        {"a": [pd.Series([1, 2]).to_numpy()],
         "ts": pd.to_datetime(["2024-03-01 12:00"]).tz_localize("UTC")}
    )
    assert mismatch(spark, duck) is None
