"""The benchmark's own tests.

Run from the root of a checkout with ``python3 -m pytest perfbench -q``.
The smoke tests start Spark once per workload and mode.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import datagen, run
from perfbench.check import mismatch
from perfbench.spark_status import parse_metric
from perfbench.workloads import WORKLOADS, Workload

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_spec_names_match_the_program():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS


def test_names_and_units_use_allowed_characters():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        names += [m["name"] for m in spec[group]]
        for m in spec[group]:
            assert UNIT.match(m["unit"]), m
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name


def test_every_key_is_registered_with_an_oracle():
    from quickbooks_aws_etl_pipeline_spark.plans import ORACLE, QUERIES
    for wl in WORKLOADS.values():
        assert len(set(wl.keys)) == len(wl.keys), wl.name
        for key in wl.keys:
            assert key in QUERIES, key
            assert key in ORACLE, key


def test_inputs_follow_the_seed(tmp_path):
    a = datagen.build_tables(0.001, seed=5)
    assert all(a[t].equals(b) for t, b in datagen.build_tables(0.001, seed=5).items())
    assert not a["lineitem"].equals(datagen.build_tables(0.001, seed=6)["lineitem"])
    counts = datagen.generate(str(tmp_path), 0.001, 5, shuffle=("orders",))
    from quickbooks_aws_etl_pipeline_spark.io import TABLES
    assert sorted(counts) == sorted(TABLES)
    for t in TABLES:
        assert (tmp_path / f"{t}.parquet").is_file()


# Column names and Arrow types of the generated tables. Timestamps are
# microseconds without UTC adjustment, the encoding of the current
# reference files (earlier generations used nanoseconds for events.ts
# and milliseconds for the two dates; ``io.read_table`` reads both).
SCHEMA = {
    "region": "r_regionkey int32, r_name string",
    "nation": "n_nationkey int32, n_name string, n_regionkey int32",
    "customer": "c_custkey int64, c_name string, c_nationkey int32, c_acctbal double, "
                "c_mktsegment string",
    "supplier": "s_suppkey int64, s_name string, s_nationkey int32, s_acctbal double",
    "part": "p_partkey int64, p_name string, p_brand string, p_type string, p_size int32, "
            "p_retailprice double",
    "orders": "o_orderkey int64, o_custkey int64, o_orderstatus string, o_totalprice double, "
              "o_orderdate timestamp[us], o_orderpriority string",
    "lineitem": "l_orderkey int64, l_partkey int64, l_suppkey int64, l_linenumber int32, "
                "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag string, l_linestatus string, l_shipdate timestamp[us]",
    "events": "event_id int64, ts timestamp[us], user_id int64, event_type string, "
              "value double, props string",
    "documents": "doc_id int64, text string, lang string, source string, n_chars int64",
    "embeddings": "vec_id int64, embedding list<element: float>, label int32",
}


def test_generated_schema(tmp_path):
    import pyarrow.parquet as pq
    datagen.generate(str(tmp_path), 0.001, 5)
    for table, want in SCHEMA.items():
        schema = pq.read_schema(tmp_path / f"{table}.parquet")
        assert ", ".join(f"{f.name} {f.type}" for f in schema) == want, table


def test_mismatch_compares_order_insensitively_with_tolerance():
    want = pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    assert mismatch(want.iloc[::-1], want) is None
    assert mismatch(want.assign(v=[1.0, 2.0 + 1e-12]), want) is None
    assert "rows" in mismatch(want.iloc[:1], want)
    assert "columns" in mismatch(want.rename(columns={"v": "w"}), want)
    assert "column v" in mismatch(want.assign(v=[1.0, 2.5]), want)


class _Writer:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


class _Frame:
    write = _Writer()

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


class _Context:
    def setJobGroup(self, *_):
        pass


def test_a_corrupted_result_is_counted_as_failed(tmp_path):
    wl = Workload(name="selftest", sf=0.001, keys=("good", "corrupt"), why="-")
    r = run.Run(wl, seed=0, traced=False)
    r.sc, r.spark, r.data_dir, r.tables = _Context(), None, str(tmp_path), []
    right = pd.DataFrame({"x": [1, 2]})
    r.queries = {"good": lambda *_: _Frame(right),
                 "corrupt": lambda *_: _Frame(right.assign(x=[1, 3]))}
    r.oracle = {k: "SELECT * FROM (VALUES (1), (2)) t(x)" for k in wl.keys}
    r.warm_and_check()
    assert r.attempted == 2
    assert list(r.failures) == ["corrupt"]
    assert "output check" in r.failures["corrupt"][0]


def test_parse_metric():
    assert parse_metric("8.3 KiB") == pytest.approx(8.3 * 1024)
    assert parse_metric("1,234") == 1234
    assert parse_metric("3.4 s") == 3.4
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 3))") == 2 * 2**20
    assert parse_metric(None) == 0.0


def test_union_of_intervals():
    assert run._union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert run._union_s([]) == 0


@pytest.fixture(scope="module")
def smoke(tmp_path_factory):
    """Result of a shortest run at sf0.001, per (workload, trace)."""
    results: dict[tuple[str, int], dict] = {}

    def get(workload: str, trace: int) -> dict:
        if (workload, trace) not in results:
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
                 "--results", str(tmp_path_factory.mktemp("results"))],
                cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
            results[workload, trace] = json.loads(out.stdout.strip().splitlines()[-1])
        return results[workload, trace]
    return get


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_prints_every_metric_with_its_unit(smoke, workload, trace):
    result = smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_smoke_every_operator_module_is_called_on_some_workload(smoke):
    for m in run.OPERATOR_LAYERS:
        name = f"operators.{m}.self_s"
        assert any(smoke(w, 1)["metrics"][name]["value"] > 0 for w in WORKLOADS), name
