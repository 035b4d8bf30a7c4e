"""Qkeys for the QBO ingest parity path (SURVEY.md §2.9 U4-U6, §3
EP1-EP3): entity pipelines over paginated envelope fixtures and the
three report parsers. Inputs are deterministic fixtures
(sources.fixtures), so the oracles are literal VALUES derived by hand
from the reference's transform semantics.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fixtures import (BILL_PAGES, JOURNAL_PAGES, PNL_REPORT,
                                TXN_BY_VENDOR_REPORT, TXN_LIST_REPORT)
from ..sources.qbo import pages_to_df
from ..sources.reports import (flatten_report_trees, parse_grouped_report,
                               parse_tabular_report)
from .queries import register


@register("qbo_entity_bills_pipeline")
def qbo_entity_bills_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 end-to-end (qb_bills.py:40-118): paginated envelope ->
    union of pages -> struct access -> project/rename/cast, nested
    arrays stringified to JSON (qb_bills.py:107)."""
    df = pages_to_df(spark, BILL_PAGES, "Bill")
    return df.select(
        F.col("DueDate").alias("due_date"),
        F.col("Balance").cast("double").alias("balance"),
        F.col("Id").cast("int").alias("id"),
        F.col("SyncToken").cast("int").alias("sync_token"),
        F.col("DocNumber").alias("doc_number"),
        F.col("TxnDate").alias("txn_date"),
        F.col("PrivateNote").alias("private_note"),
        F.to_json("Line").alias("line"),
        F.col("VendorRef.value").alias("vendor_ref_value"),
        F.col("VendorRef.name").alias("vendor_ref_name"),
        F.col("APAccountRef.value").alias("ap_account_ref_value"),
        F.col("APAccountRef.name").alias("ap_account_ref_name"),
        F.to_json("LinkedTxn").alias("linked_txn"),
    )


@register("qbo_entity_journal_explode")
def qbo_entity_journal_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 explode variant (qb_jounalentry.py:95-192): explode_outer
    keeps line-less entries (pandas explode keeps NaN rows, SURVEY.md
    §2.9 U1); line struct flattened to line_* columns with the
    reference's numeric casts."""
    df = pages_to_df(spark, JOURNAL_PAGES, "JournalEntry")
    exploded = df.select(
        F.col("Adjustment").alias("adjustment"),
        F.col("Id").cast("int").alias("id"),
        F.col("DocNumber").alias("doc_number"),
        F.col("TxnDate").alias("txn_date"),
        F.col("PrivateNote").alias("private_note"),
        F.explode_outer("Line").alias("line"),
    )
    d = "line.JournalEntryLineDetail"
    return exploded.select(
        "adjustment", "id", "doc_number", "txn_date", "private_note",
        F.col("line.Id").cast("int").alias("line_id"),
        F.col("line.Description").alias("line_description"),
        F.col("line.Amount").cast("double").alias("line_amount"),
        F.col(f"{d}.PostingType").alias("line_posting_type"),
        F.col(f"{d}.Entity.Type").alias("line_entity_type"),
        F.col(f"{d}.Entity.EntityRef.value").cast("double").alias("line_entity_value"),
        F.col(f"{d}.Entity.EntityRef.name").alias("line_entity_name"),
        F.col(f"{d}.AccountRef.value").cast("double").alias("line_account_value"),
        F.col(f"{d}.AccountRef.name").alias("line_account_name"),
    )


@register("flatten_report_tree")
def flatten_report_tree_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 (qb_profit&loss.py:73-103): recursive Header/Rows/ColData/
    Summary walk with path accumulator — run through the mapInPandas
    scale variant (one report doc per input row)."""
    src = spark.createDataFrame([(json.dumps(PNL_REPORT),)], ["report_json"])
    return flatten_report_trees(src, "report_json")


@register("parse_tabular_report")
def parse_tabular_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 (qb_transactionlist.py:67-137): tabular report -> typed
    detail rows with broadcast period columns and coerce-to-NULL
    amount cast."""
    raw = parse_tabular_report(spark, json.dumps(TXN_LIST_REPORT), 9)
    return raw.select(
        F.col("c0").alias("date"),
        F.col("c1").alias("transaction_type"),
        F.col("c2").alias("doc_num"),
        F.col("c3").alias("is_no_post"),
        F.col("c4").alias("name"),
        F.col("c5").alias("description"),
        F.col("c6").alias("account_name"),
        F.col("c7").alias("split"),
        F.col("c8").try_cast("double").alias("amount"),
        "start_period", "end_period",
    )


@register("parse_grouped_report")
def parse_grouped_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 (qb_transactionlistbyvendordetail.py:86-154, intended
    semantics): vendor sections -> detail rows tagged with the vendor
    group key; zero-transaction vendors retained."""
    raw = parse_grouped_report(spark, json.dumps(TXN_BY_VENDOR_REPORT), 7)
    return raw.select(
        "vendor_id", "vendor_name",
        F.col("c0").alias("date"),
        F.col("c1").alias("transaction_type"),
        F.col("c2").alias("doc_num"),
        F.col("c3").alias("posting"),
        F.col("c4").alias("description"),
        F.col("c5").alias("account"),
        F.col("c6").try_cast("double").alias("amount"),
        "start_period", "end_period",
    )


@register("source_qbo_datasource")
def source_qbo_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 as a real Spark 4 Python Data Source: staged page manifest ->
    one InputPartition per page -> parallel executor-side parse
    (sources/datasource.py). Replaces the reference's serial
    driver-side pagination loop (qb_billpayments.py:63-79)."""
    import os

    from ..sinks import scratch_path
    from ..sources.datasource import read_qbo_pages, stage_pages
    from ..sources.fixtures import BILL_PAGES
    path = stage_pages(scratch_path("qbo_pages", "bills"), BILL_PAGES)
    df = read_qbo_pages(spark, path, "Bill")
    return df.select("id", "doc_number", "due_date", "balance",
                     "vendor_ref_name", "page")


@register("qbo_entity_billpayment_sparse")
def qbo_entity_billpayment_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 sparse-struct variant (qb_billpayments.py:95-129): the two
    payment structs are mutually exclusive per row AND per page, so
    the page union exercises allowMissingColumns and the int casts
    reproduce fillna(0).astype('Int32') via coalesce."""
    from ..sources.fixtures import BILLPAYMENT_PAGES
    df = pages_to_df(spark, BILLPAYMENT_PAGES, "BillPayment")
    zero_int = lambda c: F.coalesce(c.cast("int"), F.lit(0))  # noqa: E731
    return df.select(
        F.col("PayType").alias("pay_type"),
        F.col("TotalAmt").cast("double").alias("total_amt"),
        F.col("Id").cast("int").alias("id"),
        F.col("TxnDate").alias("txn_date"),
        F.col("DocNumber").alias("doc_number"),
        zero_int(F.col("VendorRef.value")).alias("vendor_ref_value"),
        F.col("VendorRef.name").alias("vendor_ref_name"),
        zero_int(F.col("CheckPayment.BankAccountRef.value"))
        .alias("check_payment_bank_account_ref_value"),
        F.col("CheckPayment.BankAccountRef.name")
        .alias("check_payment_bank_account_ref_name"),
        zero_int(F.col("CreditCardPayment.CCAccountRef.value"))
        .alias("credit_card_payment_cc_account_ref_value"),
        F.col("CreditCardPayment.CCAccountRef.name")
        .alias("credit_card_payment_cc_account_ref_name"),
    )


@register("qbo_entity_deposit")
def qbo_entity_deposit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 deposit variant (qb_deposit.py:66-156): paginated envelope
    union, stringified Line array (qb_deposit.py:109), plain int cast
    on DepositToAccountRef.value (qb_deposit.py:110), and the
    TO_TIMESTAMP(txn_date,'YYYY-MM-DD HH24:MI:SS') load cast
    (qb_deposit.py:142) — Redshift parses date-only strings to
    midnight, mirrored here by a two-format coalesce. Each parse is a
    ``try_to_timestamp``, so a string the first format rejects yields
    NULL for the fallback under ANSI mode too (``to_timestamp`` raises
    CANNOT_PARSE_TIMESTAMP there). Page 2 carries a CashBack struct
    the reference never selects (qb_deposit.py:94-98); it must not
    break the page union."""
    from ..sources.fixtures import DEPOSIT_PAGES
    df = pages_to_df(spark, DEPOSIT_PAGES, "Deposit")
    return df.select(
        F.col("TotalAmt").cast("double").alias("total_amt"),
        F.col("Id").cast("int").alias("id"),
        F.col("TxnDate").alias("txn_date"),
        F.coalesce(
            F.try_to_timestamp("TxnDate", F.lit("yyyy-MM-dd HH:mm:ss")),
            F.try_to_timestamp("TxnDate", F.lit("yyyy-MM-dd")))
        .alias("txn_ts"),
        F.col("PrivateNote").alias("private_note"),
        F.to_json("Line").alias("line"),
        F.col("DepositToAccountRef.value").cast("int")
        .alias("deposit_to_account_ref_value"),
        F.col("DepositToAccountRef.name").alias("deposit_to_account_ref_name"),
        F.col("CurrencyRef.value").alias("currency_ref_value"),
        F.col("CurrencyRef.name").alias("currency_ref_name"),
        F.col("DocNumber").alias("doc_number"),
    )


@register("qbo_entity_purchases_explode")
def qbo_entity_purchases_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 purchases variant (qb_purchases.py:78-175): explode_outer
    keeps line-less purchases; the line account id runs the
    to_numeric(coerce).fillna(0).Int32 chain (qb_purchases.py:126-130)
    — try_cast turns 'n/a' into NULL, coalesce turns NULL (including
    missing AccountRef) into 0."""
    from ..sources.fixtures import PURCHASE_PAGES
    df = pages_to_df(spark, PURCHASE_PAGES, "Purchase")
    exploded = df.select(
        F.col("Id").cast("int").alias("id"),
        F.col("DocNumber").alias("doc_number"),
        F.col("TxnDate").alias("txn_date"),
        F.col("PaymentType").alias("payment_type"),
        F.col("TotalAmt").cast("double").alias("total_amt"),
        F.explode_outer("Line").alias("line"))
    return exploded.select(
        "id", "doc_number", "txn_date", "payment_type", "total_amt",
        F.col("line.Id").cast("int").alias("line_id"),
        F.col("line.Amount").cast("double").alias("line_amount"),
        F.coalesce(
            F.col("line.AccountBasedExpenseLineDetail.AccountRef.value")
            .try_cast("int"), F.lit(0)).alias("line_account_ref_value"),
        F.col("line.AccountBasedExpenseLineDetail.AccountRef.name")
        .alias("line_account_ref_name"))


@register("sql_recursive_subtree_totals")
def sql_recursive_subtree_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4/A1 via WITH RECURSIVE (Spark 4 recursive CTE): recompute
    the P&L report's server-side Summary totals from the flattened
    tree — every non-summary node's subtree is walked by a recursive
    descendant join (one level per step, terminating at the finite
    tree depth) and its amounts are decimal-summed. The fixture's own
    '(Summary)' rows are the ground truth the recursion must
    reproduce: Total Income = 2000.50, Total Services = 800.0.

    SURVEY §2.9 U4 called the recursive tree walk 'the one operator
    with no single built-in Spark primitive'; with recursive CTEs in
    Spark 4 the hierarchy walk is now expressible IN the engine's SQL
    surface too (the mapInPandas variant remains the scale path for
    parsing raw report JSON)."""
    src = spark.createDataFrame([(json.dumps(PNL_REPORT),)], ["report_json"])
    flatten_report_trees(src, "report_json") \
        .createOrReplaceTempView("pnl_tree")
    return spark.sql("""
        WITH RECURSIVE sub(root_path, node_path) AS (
            SELECT account_path, account_path
            FROM pnl_tree WHERE row_type <> 'summary'
            UNION ALL
            SELECT s.root_path, t.account_path
            FROM sub s JOIN pnl_tree t
              ON t.account_path LIKE s.node_path || ' -> %'
             AND t.account_path NOT LIKE s.node_path || ' -> % -> %'
             AND t.row_type <> 'summary'
        )
        SELECT s.root_path AS account_path,
               COUNT(*) AS n_nodes,
               CAST(SUM(CAST(COALESCE(t.amount, 0.0) AS DECIMAL(18,4)))
                    AS DOUBLE) AS subtree_total
        FROM sub s JOIN pnl_tree t ON t.account_path = s.node_path
        GROUP BY s.root_path
    """)


@register("source_qbo_stream_live")
def source_qbo_stream_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1's live-ingest form: the SAME Python Data Source consumed
    via readStream (offset = page ordinal, exactly-once via offset
    checkpointing — sources/datasource.py::QBOPagesStreamReader),
    availableNow trigger into a memory sink. The streamed rows equal
    the batch scan of the same manifest, so this true streaming run
    shares the batch key's VALUES oracle. Replaces the reference's
    serial re-poll loop (qb_billpayments.py:63-79) with resumable
    incremental ingest."""
    import os
    import shutil

    from ..sinks import scratch_path
    from ..sources.datasource import read_qbo_pages_stream, stage_pages
    from ..sources.fixtures import BILL_PAGES
    from ..streaming.windows import run_available_now
    path = stage_pages(scratch_path("qbo_pages", "bills_stream"),
                       BILL_PAGES)
    ckpt = scratch_path("checkpoints", "qbo_stream")
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(ckpt, exist_ok=True)
    name = "qbo_stream_sink"
    run_available_now(
        spark,
        read_qbo_pages_stream(spark, path, "Bill")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt),
        name, 120)
    return spark.table(name).select(
        "id", "doc_number", "due_date", "balance",
        "vendor_ref_name", "page")


@register("stream_source_incremental_restart")
def stream_source_incremental_restart(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Exactly-once INCREMENTAL ingest across restarts — the
    property that makes the streaming connector production-shaped:
    run 1 drains the first committed page; the fetcher then commits
    another page; run 2 restarts FROM THE SAME CHECKPOINT and
    processes only the new page (offset {page: 1} -> {page: 2}),
    never re-reading page 0. The union of both runs' sink tables,
    tagged by run, must equal the batch scan of all three pages with
    run attribution derived purely from the page ordinal — which is
    exactly what the oracle states. A failure of offset tracking
    (re-reads or skips) breaks the row counts or the attribution."""
    import os
    import shutil

    from ..sinks import scratch_path
    from ..sources.datasource import read_qbo_pages_stream, stage_pages
    from ..sources.fixtures import BILL_PAGES
    from ..streaming.windows import run_available_now
    path_dir = scratch_path("qbo_pages", "bills_incr")
    ckpt = scratch_path("checkpoints", "qbo_incr")
    out = scratch_path("qbo_pages", "bills_incr_out")
    for d in (ckpt, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)

    def run_once() -> None:
        # parquet sink: the fault-tolerant sink whose checkpoint
        # contract ALLOWS restart (memory sinks refuse recovery)
        run_available_now(
            spark,
            read_qbo_pages_stream(spark, path_dir, "Bill")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt),
            "qbo_incr", 120)

    stage_pages(path_dir, BILL_PAGES[:1])
    run_once()
    run1_ids = [r.id for r in
                spark.read.parquet(out).select("id").collect()]
    stage_pages(path_dir, BILL_PAGES)  # fetcher commits page 1
    run_once()  # restart from the SAME checkpoint
    total = spark.read.parquet(out)
    return total.select(
        "id", "doc_number", "balance", "page",
        F.when(F.col("id").isin(run1_ids), F.lit(1)).otherwise(F.lit(2))
        .alias("run"))


def _jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str,
                          live: bool) -> DataFrame:
    """A slice of orders (key, status, price in cents) through the
    Python Data Source JSON-lines sink — batch
    (sources/datasource.write_jsonl_datasource) or streaming
    (write_jsonl_stream_datasource) — read back from the committed
    parts only and rolled up per status. The round trip must be
    lossless, so both keys share one oracle."""
    from ..io import read_table
    from ..sinks import scratch_path, sf_tag
    from ..sources.datasource import (write_jsonl_datasource,
                                      write_jsonl_stream_datasource)
    tag = sf_tag(sf_dir)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("cents"))
    if live:
        back = write_jsonl_stream_datasource(
            spark, orders, scratch_path("pyds_stream_sink", tag),
            query_name=f"pydss_{tag}")
    else:
        back = write_jsonl_datasource(spark, orders,
                                      scratch_path("pyds_sink", tag))
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("cents").alias("cents_total")))


@register("sink_python_datasource")
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OUTBOUND half of the Python Data Source story (Spark 4
    DataSourceWriter): the orders slice streams task-parallel into
    JSON-lines part files with a commit-protocol manifest (parts
    named only after they are fully written; abort leaves no
    manifest), proving write/commit saw every row exactly once."""
    return _jsonl_sink_roundtrip(spark, sf_dir, live=False)


@register("sink_python_stream_datasource")
def sink_python_stream_datasource(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The STREAMING outbound half (Spark 4 DataSourceStreamWriter):
    the same orders slice streamed through three real micro-batches
    with a PER-EPOCH commit manifest (a redelivered epoch overwrites
    its own manifest — exactly-once for a manifest-trusting reader).
    Shares sink_python_datasource's oracle."""
    return _jsonl_sink_roundtrip(spark, sf_dir, live=True)
