"""operators.windows.bucketed_cumsum, the one distributed-histogram
cumulative: checked against a pure-Python running sum on a synthetic
frame, and pinned as the only place the package builds an offsets
table."""

from __future__ import annotations

import ast
import pathlib
from itertools import groupby

from pyspark.sql import functions as F

import quickbooks_aws_etl_pipeline_spark as pkg
from quickbooks_aws_etl_pipeline_spark.operators.windows import (
    bucketed_cumsum)

# (id, part, o, x, y): NULL and string partitions, tied order values
ROWS = [(i, (None, "p", "q")[i % 3], (i * 7) % 23, i % 5, (i * 3) % 4)
        for i in range(60)]
SCHEMA = "id int, part string, o int, x long, y long"


# negative, sparse and large bucket ids, monotone in o
BUCKET_SQL = "cast(o div 4 as int) * 400000000 - 1000000000"


def _bucket(o: int) -> int:
    return (o // 4) * 400_000_000 - 1_000_000_000


def _python(rows, stop_at=None):
    """Per kept row id: (cum_rows, cum_x, cum_y), rows ordered by
    (o, id) inside each partition, whole buckets pruned once the x
    offset reaches ``stop_at``."""
    out = {}
    parts = {r[1] for r in rows}
    for part in parts:
        mine = sorted((r for r in rows if r[1] == part),
                      key=lambda r: (r[2], r[0]))
        n = sx = sy = 0
        for _b, group in groupby(mine, key=lambda r: _bucket(r[2])):
            if stop_at is not None and sx >= stop_at:
                break
            for r in group:
                n, sx, sy = n + 1, sx + r[3], sy + r[4]
                out[r[0]] = (n, sx, sy)
    return out


def _run(spark, order, rows=ROWS, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    out, totals = bucketed_cumsum(df, F.expr(BUCKET_SQL), order,
                                  values=["x", "y"], partition_by=["part"],
                                  **kw)
    got = out.select("id", "part", "o", "cum_rows", "cum_x", "cum_y").collect()
    ids = [r["id"] for r in got]
    assert len(ids) == len(set(ids)), "a row appears more than once"
    return got, totals


def test_running_sums_match_python(spark):
    got, totals = _run(spark, ["o", "id"])
    assert totals == (sum(r[3] for r in ROWS), sum(r[4] for r in ROWS),
                      len(ROWS))
    assert {r["id"]: (r["cum_rows"], r["cum_x"], r["cum_y"])
            for r in got} == _python(ROWS)


def test_tied_order_values_keep_every_row(spark):
    """Ordered by ``o`` alone, ties rank in any order, but each tie
    run holds the positions and ends at the total through its value."""
    got, _ = _run(spark, ["o"])
    assert sorted(r["id"] for r in got) == [r[0] for r in ROWS]
    want = _python(ROWS)
    tie = lambda r: (r["part"] or "", r["o"])  # noqa: E731
    for _tie, group in groupby(sorted(got, key=tie), key=tie):
        group = list(group)
        last = max(want[r["id"]] for r in group)
        assert max(r["cum_x"] for r in group) == last[1]
        assert max(r["cum_y"] for r in group) == last[2]
        assert sorted(r["cum_rows"] for r in group) == list(
            range(last[0] - len(group) + 1, last[0] + 1))


def test_stop_at_prunes_whole_buckets(spark):
    want = _python(ROWS, stop_at=20)
    assert 0 < len(want) < len(ROWS)
    got, totals = _run(spark, ["o", "id"], stop_at=lambda _t: 20)
    assert {r["id"]: (r["cum_rows"], r["cum_x"], r["cum_y"])
            for r in got} == want
    assert totals[2] == len(ROWS)  # totals count pruned buckets too
    # a cut taken from the totals: 20 == sum(x) // 6
    got, _ = _run(spark, ["o", "id"], stop_at=lambda t: t[0] // 6)
    assert {r["id"] for r in got} == set(want)


def test_empty_frame(spark):
    got, totals = _run(spark, ["o", "id"], rows=[])
    assert got == [] and totals == (0, 0, 0)


def test_row_count_only(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out, totals = bucketed_cumsum(df, -F.col("o"), [F.desc("o"), "id"])
    assert totals == (len(ROWS),)
    got = sorted((r["cum_rows"], r["id"]) for r in out.collect())
    assert got == list(enumerate(
        (r[0] for r in sorted(ROWS, key=lambda r: (-r[2], r[0]))), 1))


PKG = pathlib.Path(pkg.__file__).parent
CALLERS = {
    "operators/evaluation.py": {"auc_rank_ppm", "auc_bootstrap_ci",
                                "conformal_threshold", "spearman_rho",
                                "auc_rank_ppm_sliced"},
    "operators/sampling.py": {"deterministic_global_shuffle",
                              "token_budget_selection",
                              "perplexity_buckets"},
    "operators/text.py": {"zipf_head"},
    "operators/curation.py": {"domain_mix_report"},
    "plans/mining_queries.py": {"ks_from_value_hist", "w1_from_value_hist"},
}


def test_only_windows_builds_bucket_offsets():
    """Spark-free code shape: outside operators/windows.py no module
    names an offset column or builds a per-bucket table, and each
    running-total site goes through bucketed_cumsum."""
    primitive = PKG / "operators" / "windows.py"
    for path in sorted(PKG.rglob("*.py")):
        if path == primitive:
            continue
        src = path.read_text()
        for name in ("__offset", "off_ref", "off_cur"):
            assert name not in src, (path, name)
        for node in ast.walk(ast.parse(src)):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                call = ast.get_source_segment(src, node)
                assert "bucket" not in call and "__bin" not in call, \
                    (path, node.lineno)
    for rel, names in CALLERS.items():
        calls = {fn.name: {getattr(c.func, "id", None) for c in ast.walk(fn)
                           if isinstance(c, ast.Call)}
                 for fn in ast.walk(ast.parse((PKG / rel).read_text()))
                 if isinstance(fn, ast.FunctionDef)}
        # directly or through a helper of the same module
        reach = {"bucketed_cumsum"}
        while more := {f for f, c in calls.items() if c & reach} - reach:
            reach |= more
        assert names <= reach, (rel, names - reach)
