"""The driver's sweep window is DERIVED, not typed: rotation head
(keys added/implementation-changed since the last cut) + the stalest
other keys by (latest CORRECTNESS_r*.json round, key name), cut at
50. These tests pin the rule on synthetic artifacts (Spark-free) and
check the derived ACTIVE/PREVIOUS windows against the artifacts on
disk.
"""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as E
from quickbooks_aws_etl_pipeline_spark.plans import QUERIES

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# synthetic registry: k00..k09, swept three times in windows of four
_KEYS = [f"k{i:02d}" for i in range(10)]
_RECORDS = [
    (1, ["k09", "k08", "k07", "k06"]),
    (2, ["k05", "k04", "k03", "k02"]),
    (3, ["k01", "k00", "k09", "k08"]),
]


def _derive(head, records=_RECORDS, keys=_KEYS):
    return E.derive_window(head, records, keys, size=4)


def test_head_comes_first_in_its_own_order():
    active, _ = _derive(["k08", "k01"])
    assert active[:2] == ["k08", "k01"]
    assert len(active) == 4 and len(set(active)) == 4


def test_stale_fill_ranks_by_round_then_key():
    # latest rounds: k06/k07 -> 1, k02..k05 -> 2, k00/k01/k08/k09 -> 3;
    # round 1 first, then the round-2 keys alphabetically
    active, previous = _derive(["k00"])
    assert active == ["k00", "k06", "k07", "k02"]
    assert previous == {"k01", "k00", "k09", "k08"}


def test_never_swept_key_ranks_stalest():
    active, _ = _derive(["k00"], keys=_KEYS + ["new"])
    assert active == ["k00", "new", "k06", "k07"]


def test_latest_record_of_this_window_is_left_out():
    head = ["k00"]
    active, previous = _derive(head)
    swept = _RECORDS + [(4, active)]
    assert _derive(head, swept) == (active, previous)
    # a record that does not open with the head is a different window
    other = _RECORDS + [(4, ["k06", "k00", "k07", "k02"])]
    assert _derive(head, other)[1] == {"k06", "k00", "k07", "k02"}


def test_flip_cuts_a_fresh_window_over_all_records():
    head, next_head = ["k00"], ["k05"]
    active, _ = _derive(head)
    swept = _RECORDS + [(4, active)]
    flipped, previous = _derive(head + next_head, swept)
    # k06/k07/k02 were just swept in round 4; k03/k04 are now stalest
    assert flipped == ["k00", "k05", "k03", "k04"]
    assert previous == set(active)


def test_head_naming_an_unknown_key_fails_loudly():
    with pytest.raises(ValueError, match="gone"):
        _derive(["gone"])


def test_active_window_shape():
    active, _ = E.window()
    assert len(active) == E.WINDOW_SIZE == 50
    assert len(set(active)) == 50
    assert not [k for k in active if k not in QUERIES]
    assert active[:len(E.ROTATION_HEAD)] == E.ROTATION_HEAD
    assert not set(E.NEXT_HEAD) & set(E.ROTATION_HEAD)


def _own_and_previous() -> tuple[list[str] | None, int]:
    """(key order of ACTIVE's own sweep record or None, round of the
    record PREVIOUS must equal)."""
    records = E.sweep_records()
    if not records:
        pytest.skip("no CORRECTNESS artifacts on disk")
    rnd, keys = records[-1]
    if keys[:len(E.ROTATION_HEAD)] != E.ROTATION_HEAD:
        return None, rnd
    if len(records) < 2:
        pytest.skip("no sweep record before the active window's own")
    return keys, records[-2][0]


def test_active_window_reproduces_its_sweep_record():
    own, _ = _own_and_previous()
    if own is None:
        pytest.skip("the active window has not been swept yet")
    assert list(E.queries())[:50] == own


def test_previous_window_landed_green_and_set_equal():
    _, rnd = _own_and_previous()
    with open(os.path.join(_REPO, f"CORRECTNESS_r{rnd:02d}.json")) as f:
        rows = json.load(f)
    assert set(rows) == E.window()[1]
    for key, v in rows.items():
        assert v["rows_match"] and v["schema_match"] and not v["err"], key
        assert v.get("hash_match") in (True, None), key
