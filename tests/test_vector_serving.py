"""Pins for the shared vector-serving helpers in operators/similarity:
the driver-side IVF probe ranking (``probe_cells``) and the recall
receipt that makes approximate top-k keys oracle-checkable."""

from __future__ import annotations

from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
    probe_cells, recall_receipt)


def test_probe_cells_ties_go_to_lower_index():
    cents = [[0.0, 1.0], [1.0, 0.0], [1.0, 0.0], [0.5, 0.5]]
    assert probe_cells([1.0, 0.0], cents, 2) == [1, 2]
    assert probe_cells([1.0, 0.0], cents, 1) == [1]


def test_probe_cells_zero_query_does_not_divide_by_zero():
    cents = [[0.0, 1.0], [1.0, 0.0], [-1.0, 0.0]]
    # every similarity is 0.0, so the order is the index order
    assert probe_cells([0.0, 0.0], cents, 2) == [0, 1]


def test_probe_cells_nprobe_at_or_above_k_returns_every_cell():
    cents = [[0.0, 1.0], [1.0, 0.0], [-1.0, 0.0]]
    assert probe_cells([1.0, 0.2], cents, 3) == [1, 0, 2]
    assert probe_cells([1.0, 0.2], cents, 10) == [1, 0, 2]


def test_probe_cells_matches_normalized_dot_ranking():
    q = [0.3, -1.7, 2.2]
    cents = [[0.1, 0.2, 0.3], [-0.4, 0.9, 0.1], [0.7, -0.6, 0.5]]
    qn = sum(x * x for x in q) ** 0.5
    sims = [sum((a / qn) * b for a, b in zip(q, c)) for c in cents]
    want = sorted(range(3), key=lambda i: (-sims[i], i))
    assert probe_cells(q, cents, 3) == want


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "vec_id bigint")


def test_recall_receipt_fewer_than_k_approx_rows(spark):
    exact = _ids(spark, range(10))
    approx = _ids(spark, [0, 1, 2, 3, 4, 99])
    row = recall_receipt(approx, exact, "vec_id", k=10, min_hits=5).collect()
    assert [tuple(r) for r in row] == [(10, 6, True)]
    short = _ids(spark, [0, 1, 2, 98, 99])
    row = recall_receipt(short, exact, "vec_id", k=10, min_hits=5).collect()
    assert [tuple(r) for r in row] == [(10, 5, False)]


def test_recall_receipt_hits_exactly_at_the_bound(spark):
    exact = _ids(spark, range(10))
    at = _ids(spark, [0, 1, 2, 3, 4, 5, 90, 91, 92, 93])
    below = _ids(spark, [0, 1, 2, 3, 4, 90, 91, 92, 93, 94])
    assert recall_receipt(at, exact, "vec_id", k=10,
                          min_hits=6).first()["recall_ok"] is True
    assert recall_receipt(below, exact, "vec_id", k=10,
                          min_hits=6).first()["recall_ok"] is False


def test_recall_receipt_empty_approx(spark):
    exact = _ids(spark, range(10))
    row = recall_receipt(_ids(spark, []), exact, "vec_id", k=10,
                         min_hits=1).first()
    assert tuple(row) == (10, 0, False)


def test_quantizer_fit_jobs_carry_the_callers_job_group(spark, sf_smoke):
    """The query-vector fetch that ``_fit_quantizer`` overlaps with the
    k-means fit runs on a pool thread; it must inherit the caller's
    job group, so group-scoped job counts and ``cancelJobGroup`` see
    every job the build starts."""
    import time

    from perfbench.spark_status import SparkStatus
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES

    status = SparkStatus(spark)
    sc = spark.sparkContext
    status.drain()
    since = int(time.time() * 1000)
    sc.setJobGroup("t_ivf_build", "sim_topk_cosine_ivf_trainsampled build")
    try:
        QUERIES["sim_topk_cosine_ivf_trainsampled"](spark, sf_smoke)
    finally:
        sc.setJobGroup("t_ivf_other", "after the build")
    status.drain()
    groups = [j.get("jobGroup") for j in status.jobs(since)]
    assert groups, "the build started no job"
    assert set(groups) == {"t_ivf_build"}, groups
