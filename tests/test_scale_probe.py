"""scale_probe.py: its probe table names registry keys on the ladder,
and its replica recipe multiplies the facts without joining across
replicas."""

from __future__ import annotations

import os

import pytest

from quickbooks_aws_etl_pipeline_spark.io import read_table

FACT_IDS = {"lineitem": None, "orders": "o_orderkey", "documents": "doc_id",
            "embeddings": "vec_id", "events": "event_id"}
DIMS = ["region", "nation", "customer", "supplier", "part"]


def test_scale_probe_keys_all_registered():
    import scale_probe
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    missing = [k for k in scale_probe.PROBES if k not in QUERIES]
    assert not missing, f"scale_probe PROBES names unknown keys: {missing}"
    off = {k: n for k, n in scale_probe.PROBES.items()
           if n not in scale_probe.LADDER}
    assert not off, f"caps not on the ladder {scale_probe.LADDER}: {off}"


@pytest.fixture(scope="module")
def replicas2(spark, sf_smoke, tmp_path_factory) -> str:
    import scale_probe
    out = str(tmp_path_factory.mktemp("scale") / "sf0.001_x2")
    scale_probe.generate(spark, sf_smoke, 2, out)
    return out


def test_replica_recipe_doubles_facts_with_unique_ids(spark, sf_smoke,
                                                      replicas2):
    for table, id_col in FACT_IDS.items():
        base = read_table(spark, sf_smoke, table).count()
        rep = read_table(spark, replicas2, table)
        assert rep.count() == 2 * base, table
        if id_col:
            assert rep.select(id_col).distinct().count() == 2 * base, id_col
    for dim in DIMS:
        assert os.path.islink(os.path.join(replicas2, f"{dim}.parquet")), dim


def test_replica_joins_stay_within_a_replica(spark, sf_smoke, replicas2):
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    flagship = QUERIES["flagship_revenue_by_month_segment"]

    def by_group(sf_dir):
        return {(r.order_month, r.mktsegment): (r.n_items, r.revenue)
                for r in flagship(spark, sf_dir).collect()}

    base, rep = by_group(sf_smoke), by_group(replicas2)
    assert base and rep.keys() == base.keys()
    # exact_sum is a decimal sum cast to double, and doubling a double
    # is exact, so the revenue check is ==, not approximate
    assert rep == {g: (2 * n, 2 * rev) for g, (n, rev) in base.items()}
