"""Pins for the r14 graph-perf rewrites: the order-preserving integer
node encoding (operators/graph.lex_embed / cs_node_encode) that lets
graph keys shuffle longs instead of "C../S.." strings, and the packed
single-long argmin/argmax orderings that keep min_by/max_by in
HashAggregate (struct orderings fall back to SortAggregate); plus the
checkpoint policy of the fixed-round helper unrolled_rounds."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from quickbooks_aws_etl_pipeline_spark.operators.graph import (
    LEX_SPAN, cs_node_decode, cs_node_encode, label_propagation_fixed,
    lex_decode, lex_embed, unrolled_rounds)

KEY_SAMPLE = (list(range(0, 130)) + [999, 1000, 1001, 9999, 10000,
                                     123456, 10**9, 10**10 - 1])


def test_lex_embed_roundtrip_and_order(spark):
    df = spark.createDataFrame([(k,) for k in KEY_SAMPLE], "n long")
    enc = df.select("n", lex_embed("n").alias("m"),
                    F.col("n").cast("string").alias("s"))
    rows = enc.withColumn("s2", lex_decode("m")).collect()
    for r in rows:
        assert r["s2"] == r["s"], f"decode({r['n']}) = {r['s2']}"
        assert 0 <= r["m"] < LEX_SPAN
        # digit d -> base-11 digit d+1, left-aligned in 10 slots
        assert r["m"] == sum((int(d) + 1) * 11 ** (9 - i)
                             for i, d in enumerate(r["s"]))
    by_m = [r["s"] for r in sorted(rows, key=lambda r: r["m"])]
    by_s = [r["s"] for r in sorted(rows, key=lambda r: r["s"])]
    assert by_m == by_s  # numeric order == string order
    assert len({r["m"] for r in rows}) == len(rows)  # injective


@pytest.mark.parametrize("bad", [10**10, 10**10 + 1, -1, -(10**10)])
def test_lex_embed_out_of_range_raises(spark, bad):
    # r14 verdict item 5: an 11-digit key used to read past the
    # 11-slot literal arrays -> NULL under ansi=false, silently
    # dropping the node from every join. Must now fail loudly.
    df = spark.createDataFrame([(bad,)], "n long")
    with pytest.raises(Exception, match="lex_embed"):
        df.select(lex_embed("n")).collect()


def test_lex_embed_in_range_boundary_still_encodes(spark):
    # the guard must not clip the legal boundary: 1e10 - 1 encodes,
    # roundtrips, and stays inside [11**9, LEX_SPAN)
    df = spark.createDataFrame([(10**10 - 1,), (0,)], "n long")
    rows = (df.select("n", lex_embed("n").alias("m"))
            .withColumn("s2", lex_decode("m")).collect())
    for r in rows:
        assert r["s2"] == str(r["n"])
        assert 11**9 <= r["m"] < LEX_SPAN


def test_cs_node_encode_matches_string_order(spark):
    df = spark.createDataFrame(
        [(k, p) for k in [0, 1, 2, 9, 10, 11, 100, 9999]
         for p in ("C", "S")], "k long, p string")
    enc = df.select(
        F.concat("p", F.col("k").cast("string")).alias("s"),
        F.when(F.col("p") == "C", cs_node_encode("C", "k"))
        .otherwise(cs_node_encode("S", "k")).alias("m"))
    rows = enc.withColumn("s2", cs_node_decode("m")).collect()
    assert all(r["s2"] == r["s"] for r in rows)
    by_m = [r["s"] for r in sorted(rows, key=lambda r: r["m"])]
    assert by_m == sorted(r["s"] for r in rows)


def _lpa_reference(edges: list[tuple[int, int]], iterations: int) -> dict:
    """Brute-force synchronous LPA: most-frequent neighbor label,
    smallest label on ties — the operator's documented semantics."""
    nodes = {d for _, d in edges}
    lab = {n: n for n in nodes}
    for _ in range(iterations):
        nxt = {}
        for n in nodes:
            c = Counter(lab[s] for s, d in edges if d == n)
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            # ties at equal count: smallest label wins
            top = min(l for l, k in c.items() if k == best[1])
            nxt[n] = top
        lab = nxt
    return lab


@pytest.mark.parametrize("iterations", [1, 2, 3])
def test_label_propagation_packed_matches_reference(spark, iterations):
    # Two cliques bridged by one edge plus a tie-heavy star: node 0's
    # neighborhood {1, 2, 3} is an exact 3-way tie every round, so the
    # smallest-label decision is exercised, and labels > 2^32 check
    # the pack headroom.
    und = [(0, 1), (0, 2), (0, 3), (1, 2), (4, 5), (4, 6), (5, 6),
           (3, 4), (7, 0), (2 ** 35, 7), (2 ** 35, 1)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["lbl"]
           for r in label_propagation_fixed(df, iterations).collect()}
    assert got == _lpa_reference(edges, iterations)


def test_label_propagation_argmin_hash_aggregates(spark):
    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    plan = label_propagation_fixed(df, 3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "min_by" in plan


def test_packed_hard_negative_ordering_equals_struct_order():
    # (sim_e6 DESC, vec_id ASC) via the single-long pack used by
    # pairs_hard_negatives / sim_range_search: argmax over the pack
    # must equal argmax over the struct ordering for every pair.
    import itertools
    cases = [(s, i) for s in (-1_000_000, -1, 0, 5, 999_999, 1_000_000)
             for i in (0, 1, 17, 2 ** 39, 2 ** 40 - 1)]
    for a, b in itertools.combinations(cases, 2):
        pack = lambda t: t[0] * (1 << 40) - t[1]
        struct_order = lambda t: (t[0], -t[1])
        assert (pack(a) > pack(b)) == (struct_order(a) > struct_order(b))
        assert abs(pack(a)) < 2 ** 63


def _physical_lines(df) -> list[str]:
    return (df._jdf.queryExecution().executedPlan().toString()
            .strip().splitlines())


def test_unrolled_rounds_checkpoints_all_but_the_last_state(spark):
    seen = []

    def step(states):
        seen.append(len(states))
        return states[-1].select((F.col("x") + 1).alias("x"))

    start = spark.range(2).select((F.col("id") * 10).alias("x"))
    states = unrolled_rounds(start, step, 3)
    assert seen == [1, 2, 3] and len(states) == 4 and states[0] is start
    for mid in states[1:3]:
        lines = _physical_lines(mid)
        assert len(lines) == 1 and "Scan ExistingRDD" in lines[0], lines
    assert len(_physical_lines(states[3])) > 1  # last round stays inline
    assert sorted(r.x for r in states[3].collect()) == [3, 13]

    assert unrolled_rounds(start, step, 0) == [start]
    (_, only) = unrolled_rounds(start, step, 1)
    assert "ExistingRDD" not in "\n".join(_physical_lines(only))


def test_node_codec_is_one_py4j_expression(spark, monkeypatch):
    # each codec call parses one SQL string: F.expr's class lookup,
    # member lookup and call
    import gc

    from py4j.clientserver import ClientServerConnection
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        # "m\nd" commands release proxies of earlier, collected objects
        if not command.startswith("m\nd"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    for build in (lambda: cs_node_encode("S", "k"),
                  lambda: cs_node_decode("m")):
        gc.collect()
        sent.clear()
        build()
        assert len(sent) <= 3, sent
