"""Driver-window pre-flight: every key in the ACTIVE 50-slot sweep
window, and in the NEXT_HEAD staged for the next one, must match its
oracle at sf0.01 — the driver's scale — not just the sf0.001 smoke
scale the registry-wide test uses.

Round 4 taught why: ``sql_pricing_summary`` was green at sf0.001 and
red in the driver, because the data volume at sf0.01 is what surfaces
rounding ties (and, generally, skew/overflow/empty-group behavior).
Float columns compare with a tight 1e-12 RELATIVE tolerance — stricter
than the registry test's 1e-9, loose enough to admit last-ulp libm
differences between the JVM and DuckDB on transcendental outputs
(log-prob keys), which the driver's value hash has empirically
accepted in rounds 1-4.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

import __spark_entry__ as E
from quickbooks_aws_etl_pipeline_spark.plans import ORACLE, QUERIES

from .oracle_util import _canon, duckdb_run

_REL = 1e-12
ACTIVE, _ = E.window()


def _assert_driver_grade(spark_df, sql: str, sf_dir: str, name: str):
    got = _canon(spark_df.toPandas())
    want = _canon(duckdb_run(sql, sf_dir))
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), (
        f"[{name}] rows: spark={len(got)} oracle={len(want)}")
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]) or pd.api.types.is_float_dtype(want[c]):
            gv = pd.to_numeric(got[c], errors="coerce").to_numpy(dtype=float)
            wv = pd.to_numeric(want[c], errors="coerce").to_numpy(dtype=float)
            for i, (a, b) in enumerate(zip(gv, wv)):
                if math.isnan(a) and math.isnan(b):
                    continue
                assert math.isclose(a, b, rel_tol=_REL, abs_tol=1e-300), (
                    f"[{name}] {c} row{i}: {a!r} != {b!r} (diff {a - b!r})")
        else:
            bad = got[c] != want[c]
            assert not bad.any(), (
                f"[{name}] {c} row{int(bad.idxmax())}: "
                f"{got[c][int(bad.idxmax())]!r} != {want[c][int(bad.idxmax())]!r}")


@pytest.mark.parametrize(
    "name", ACTIVE + [k for k in E.NEXT_HEAD if k not in ACTIVE])
def test_window_key_matches_oracle_at_driver_scale(spark, sf_oracle, name):
    if name not in ORACLE:
        df = QUERIES[name](spark, sf_oracle)
        assert df.count() >= 0
        return
    df = QUERIES[name](spark, sf_oracle)
    _assert_driver_grade(df, ORACLE[name], sf_oracle, name)
