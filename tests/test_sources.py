"""Unit tests for the QBO ingest path (SURVEY.md §5.4): pagination
semantics, tree walker, explode_outer fidelity."""

from __future__ import annotations

from pyspark.sql import functions as F

from quickbooks_aws_etl_pipeline_spark.sources.fixtures import (
    BILL_PAGES, JOURNAL_PAGES, PNL_REPORT)
from quickbooks_aws_etl_pipeline_spark.sources.qbo import (
    entity_rows, fetch_pages, page_is_last, pages_to_df)
from quickbooks_aws_etl_pipeline_spark.sources.reports import (
    flatten_report_tree)


def test_page_termination_predicates():
    # canonical maxResults check (qb_billpayments.py:79)
    assert not page_is_last(BILL_PAGES[0], "Bill")
    assert page_is_last(BILL_PAGES[1], "Bill")
    # row-count fallback (qb_purchases.py:77)
    page = {"QueryResponse": {"Purchase": [{}] * 100}}
    assert not page_is_last(page, "Purchase")
    assert page_is_last({"QueryResponse": {"Purchase": [{}] * 7}}, "Purchase")


def test_fetch_pages_stub_stops_at_last():
    pages = fetch_pages("Bill", payloads=BILL_PAGES + BILL_PAGES)
    assert len(pages) == 2  # stops at the first short page


def test_pages_union_row_count(spark):
    df = pages_to_df(spark, BILL_PAGES, "Bill")
    assert df.count() == sum(len(entity_rows(p, "Bill")) for p in BILL_PAGES)
    # sparse column from page 2 is NULL-filled, not dropped
    assert "LinkedTxn" in df.columns


def test_tree_walker_emits_all_row_types():
    rows = flatten_report_tree(PNL_REPORT)
    kinds = {r[3] for r in rows}
    assert kinds == {"header", "detail", "summary"}
    # path accumulator concatenates with ' -> ' (qb_profit&loss.py:85)
    paths = [r[0] for r in rows]
    assert "Income -> Services -> Consulting" in paths
    # ''-amount headers coerce to NULL, non-numeric totals too
    by_path = {r[0]: r for r in rows}
    assert by_path["Income"][2] is None
    assert by_path["Income -> Services -> Training"][2] is None


def test_explode_outer_keeps_lineless_entries(spark):
    """pandas explode keeps empty-list rows as NaN => explode_outer is
    the faithful mapping (SURVEY.md §2.9 U1)."""
    df = pages_to_df(spark, JOURNAL_PAGES, "JournalEntry")
    exploded = df.select("Id", F.explode_outer("Line").alias("line"))
    assert exploded.count() == 3  # 2 lines + 1 line-less entry
    lineless = exploded.filter(F.col("line").isNull())
    assert [r.Id for r in lineless.collect()] == ["202"]
    # plain explode would drop it
    dropped = df.select("Id", F.explode("Line").alias("line"))
    assert dropped.count() == 2


def test_compact_parquet_reduces_files(spark, sf_smoke, tmp_path):
    from pyspark.sql import functions as F
    from quickbooks_aws_etl_pipeline_spark.sinks import compact_parquet
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    frag = str(tmp_path / "frag")
    docs.repartition(64).write.parquet(frag)
    import os
    n_before = sum(f.endswith(".parquet") for f in os.listdir(frag))
    out = str(tmp_path / "compact")
    compact_parquet(spark, frag, out)
    n_after = sum(f.endswith(".parquet") for f in os.listdir(out))
    assert n_before == 64 and n_after < 8
    a = sorted(r.doc_id for r in spark.read.parquet(frag).select("doc_id").collect())
    b = sorted(r.doc_id for r in spark.read.parquet(out).select("doc_id").collect())
    assert a == b


def test_write_sorted_by_layout(spark, sf_smoke, tmp_path):
    from pyspark.sql import functions as F
    from quickbooks_aws_etl_pipeline_spark.sinks import write_sorted_by
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    path = write_sorted_by(orders, str(tmp_path / "sorted"), ["o_orderdate"], 4)
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # verify within-file ordering: first file's dates are sorted
    one = back.limit(0)  # schema only
    import os
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert 1 <= len(files) <= 8
    pf = spark.read.parquet(os.path.join(path, files[0]))
    dates = [r.o_orderdate for r in pf.select("o_orderdate").collect()]
    assert dates == sorted(dates)


def test_read_table_infers_schema_once_per_file_stamp(spark, sf_smoke,
                                                      tmp_path):
    """A second read of an unchanged table launches no Spark job (the
    schema comes from the memo), and a rewrite with an extra column
    is seen by the next read."""
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickbooks_aws_etl_pipeline_spark.io import read_table, table_path

    sf = str(tmp_path)
    path = table_path(sf, "nation")
    shutil.copy(table_path(sf_smoke, "nation"), path)
    sc = spark.sparkContext

    def jobs_of(read):
        group = f"memo-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "schema memo test")
        try:
            df = read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return df, sc.statusTracker().getJobIdsForGroup(group)

    first, cold_jobs = jobs_of(lambda: read_table(spark, sf, "nation"))
    second, warm_jobs = jobs_of(lambda: read_table(spark, sf, "nation"))
    assert cold_jobs, "schema inference launched no job to memoize"
    assert warm_jobs == []
    assert second.schema == first.schema

    table = pq.read_table(path)
    pq.write_table(table.append_column(
        "n_extra", pa.array(range(table.num_rows), pa.int64())), path)
    third = read_table(spark, sf, "nation")
    assert third.columns == first.columns + ["n_extra"]
    assert [r.n_extra for r in third.orderBy("n_extra").collect()] == \
        list(range(table.num_rows))


def test_deposit_txn_ts_parses_under_ansi(spark, sf_smoke):
    """qbo_entity_deposit's two-format timestamp coalesce must not
    depend on ANSI-off NULLs: with spark.sql.ansi.enabled=true a
    date-only TxnDate still falls through to the date format (midnight)
    and the key matches its oracle. The setting is restored after."""
    from quickbooks_aws_etl_pipeline_spark.plans import ORACLE, QUERIES

    from .oracle_util import assert_matches_oracle
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = QUERIES["qbo_entity_deposit"](spark, sf_smoke)
        assert_matches_oracle(df, ORACLE["qbo_entity_deposit"], sf_smoke,
                              "qbo_entity_deposit")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
