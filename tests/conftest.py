from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quickbooks_aws_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# Fast/slow tiers (r14 verdict item 2). The full suite takes 22-33
# minutes — past the driver's verify budget, so VERIFY_r14 truncated
# mid-suite and reported tests_ok: false with zero failures. The
# DEFAULT run is the fast tier and must finish well inside the
# budget; `SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/` runs
# everything (the pre-round gate used by the builder).
#
# The fast tier keeps, unconditionally: every test not explicitly
# marked slow, including the sf0.01 driver-window preflight and the
# sf0.001 registry-oracle and rows-only batteries over EVERY registry
# key. Only the two plan-level key batteries (the static plan-shape
# audit and the sf0.01 money ties) are cut down to the keys the
# driver can actually turn red this round or recently could:
#   * the ACTIVE sweep window (includes every key touched this round),
#   * the bench HEADLINE set (every key the driver times),
#   * the next-round rotation head (keys added/changed mid-round).
# (ACTIVE and NEXT_HEAD come from __spark_entry__.py.)
# Everything else in those two batteries is deselected by default;
# the tests themselves are unchanged, so the full tier runs the exact
# same assertions.
# ---------------------------------------------------------------------------

_KEY_BATTERIES = {"test_registry_wide_no_scale_killers",
                  "test_money_key_bit_identical_at_sf001"}


def _fast_keys() -> set[str]:
    import __spark_entry__ as E
    import bench
    active, _previous = E.window()
    return set(active) | set(E.NEXT_HEAD) | set(bench.HEADLINE)


_FAST_TIER_DROPPED = pytest.StashKey[tuple[int, int]]()


def pytest_terminal_summary(terminalreporter, config):
    dropped = config.stash.get(_FAST_TIER_DROPPED, None)
    if dropped:
        terminalreporter.write_line(
            f"fast tier: {dropped[0]}/{dropped[1]} deselected — set "
            "SPARK_GRAFT_FULL_TESTS=1 for the full suite")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: full-tier only (set SPARK_GRAFT_FULL_TESTS=1 to run)")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    fast = _fast_keys()
    kept, dropped = [], []
    for item in items:
        if item.get_closest_marker("slow"):
            dropped.append(item)
            continue
        base = item.name.split("[", 1)[0]
        if base in _KEY_BATTERIES:
            params = getattr(item, "callspec", None)
            key = params.params.get("name") if params else None
            if key is not None and key not in fast:
                dropped.append(item)
                continue
        kept.append(item)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = kept
        config.stash[_FAST_TIER_DROPPED] = (len(dropped),
                                            len(kept) + len(dropped))
    # run the driver-critical batteries FIRST (stable sort keeps the
    # original order within each band): if the driver's verify budget
    # ever truncates the run again, the tail it loses is operator
    # property tests, not the oracle/window gates
    _BAND = {"test_window_preflight.py": 0, "test_registry_oracle.py": 1,
             "test_window_derivation.py": 2, "test_bench_contract.py": 2,
             "test_graph_encoding.py": 2, "test_plan_audit.py": 3}
    items.sort(key=lambda it: _BAND.get(it.fspath.basename, 4))


@pytest.fixture(scope="session")
def spark():
    # local[12] (was 8): same deterministic plans (shuffle.partitions
    # and file-split sizes are pinned), more concurrent tasks for the
    # sf0.01 preflight heavies — measured minutes off the fast tier
    spark = get_spark("qbo-spark-tests", master="local[12]",
                      extra_conf={"spark.sql.shuffle.partitions": "8",
                                  "spark.ui.enabled": "false",
                                  "spark.driver.memory": "4g"})
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
