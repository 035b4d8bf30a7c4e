"""Spark 4 Python Data Source for QBO page payloads (SURVEY.md §2.1
S1, §4 "custom DataSource for live QBO ingest").

The reference fetches pages in a driver-side while-loop
(qb_billpayments.py:63-79) — serial, single-process. This connector
inverts that: a page *manifest* (one JSON file per fetched page under
a directory) becomes one ``InputPartition`` per page, so executors
parse pages in parallel and the scan composes with the rest of the
plan (pruning/filters run after the typed rows are emitted).

At 100 TB the same structure holds with the manifest listing object
store keys; a live connector would put the HTTP fetch inside
``read`` (executor-side) with the driver only enumerating page
numbers. OAuth/token exchange (Quickbooks_API.py:15-36) stays a
connector-config concern, out of dataflow scope.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

try:  # Python Data Source API (Spark >= 4)
    from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                        InputPartition)
    HAS_PY_DATASOURCE = True
except ImportError:  # pragma: no cover - older Spark
    HAS_PY_DATASOURCE = False
    DataSource = DataSourceReader = object

    class InputPartition:  # type: ignore[no-redef]
        def __init__(self, value):
            self.value = value


# scalar projection of the Bill entity (qb_bills.py:72-118), plus the
# page ordinal for provenance
BILL_SCHEMA = ("id int, sync_token int, doc_number string, "
               "due_date string, txn_date string, balance double, "
               "private_note string, vendor_ref_value string, "
               "vendor_ref_name string, page int")


if HAS_PY_DATASOURCE:

    class QBOPagesDataSource(DataSource):
        """``spark.read.format("qbo_pages").option("path", dir)
        .option("entity", "Bill").load()``"""

        @classmethod
        def name(cls) -> str:
            return "qbo_pages"

        def schema(self) -> str:
            return BILL_SCHEMA

        def reader(self, schema) -> "QBOPagesReader":
            return QBOPagesReader(self.options)

    class QBOPagesReader(DataSourceReader):
        def __init__(self, options: dict):
            self.path = options["path"]
            self.entity = options.get("entity", "Bill")

        def partitions(self) -> Sequence[InputPartition]:
            # one partition per page file, enumerated from the
            # manifest the fetcher wrote: partition planning is one
            # O(pages) file read, never a directory listing (object
            # stores make LIST slow/paginated at millions of keys,
            # and listings race with concurrent writers; the manifest
            # is the fetcher's atomic commit of "these pages, this
            # order")
            with open(os.path.join(self.path, MANIFEST_NAME),
                      encoding="utf-8") as fh:
                files = json.load(fh)["pages"]
            return [InputPartition((i, os.path.join(self.path, f)))
                    for i, f in enumerate(files)]

        def read(self, partition: InputPartition) -> Iterator[tuple]:
            page_no, path = partition.value
            with open(path, encoding="utf-8") as fh:
                payload = json.load(fh)
            for e in payload.get("QueryResponse", {}).get(self.entity, []):
                vendor = e.get("VendorRef") or {}
                yield (int(e["Id"]), int(e.get("SyncToken", 0)),
                       e.get("DocNumber"), e.get("DueDate"),
                       e.get("TxnDate"),
                       float(e["Balance"]) if "Balance" in e else None,
                       e.get("PrivateNote"),
                       vendor.get("value"), vendor.get("name"),
                       page_no)


MANIFEST_NAME = "_MANIFEST.json"


def stage_pages(dir_path: str, pages: list[dict]) -> str:
    """Write page payloads as page-<n>.json plus the _MANIFEST.json
    the reader plans partitions from (written last: a reader never
    sees a manifest naming half-written pages)."""
    os.makedirs(dir_path, exist_ok=True)
    for f in os.listdir(dir_path):
        if f.endswith(".json"):
            os.remove(os.path.join(dir_path, f))
    names = []
    for i, page in enumerate(pages):
        name = f"page-{i}.json"
        with open(os.path.join(dir_path, name), "w",
                  encoding="utf-8") as fh:
            json.dump(page, fh)
        names.append(name)
    with open(os.path.join(dir_path, MANIFEST_NAME), "w",
              encoding="utf-8") as fh:
        json.dump({"pages": names}, fh)
    return dir_path


_REGISTERED: set[int] = set()


def read_qbo_pages(spark: SparkSession, path: str,
                   entity: str = "Bill") -> DataFrame:
    """Register (once per session) and scan the qbo_pages source."""
    if not HAS_PY_DATASOURCE:
        raise NotImplementedError(
            "Python Data Source API requires Spark >= 4")
    key = id(spark)
    if key not in _REGISTERED:
        spark.dataSource.register(QBOPagesDataSource)
        _REGISTERED.add(key)
    return (spark.read.format("qbo_pages")
            .option("path", path).option("entity", entity).load())


if HAS_PY_DATASOURCE:
    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    class QBOPagesStreamReader(SimpleDataSourceStreamReader):
        """Streaming form of the page source: the offset is the page
        ordinal, each micro-batch drains every page the manifest has
        committed beyond the last offset. This is the live-ingest
        shape — the fetcher appends pages + rewrites the manifest,
        the stream picks them up exactly once (offset tracking +
        checkpoint), and a replay from offset 0 reproduces the batch
        scan bit-for-bit."""

        def __init__(self, options: dict):
            self.path = options["path"]
            self.entity = options.get("entity", "Bill")

        def _pages(self) -> list[str]:
            with open(os.path.join(self.path, MANIFEST_NAME),
                      encoding="utf-8") as fh:
                return json.load(fh)["pages"]

        def initialOffset(self) -> dict:
            return {"page": 0}

        def read(self, start: dict) -> tuple:
            pages = self._pages()
            first = start["page"]
            rows = []
            for page_no in range(first, len(pages)):
                fpath = os.path.join(self.path, pages[page_no])
                with open(fpath, encoding="utf-8") as fh:
                    payload = json.load(fh)
                for e in payload.get("QueryResponse", {}).get(self.entity, []):
                    vendor = e.get("VendorRef") or {}
                    rows.append((int(e["Id"]), int(e.get("SyncToken", 0)),
                                 e.get("DocNumber"), e.get("DueDate"),
                                 e.get("TxnDate"),
                                 float(e["Balance"]) if "Balance" in e else None,
                                 e.get("PrivateNote"),
                                 vendor.get("value"), vendor.get("name"),
                                 page_no))
            return iter(rows), {"page": len(pages)}

        def readBetweenOffsets(self, start: dict, end: dict):
            pages = self._pages()
            rows = []
            for page_no in range(start["page"], end["page"]):
                fpath = os.path.join(self.path, pages[page_no])
                with open(fpath, encoding="utf-8") as fh:
                    payload = json.load(fh)
                for e in payload.get("QueryResponse", {}).get(self.entity, []):
                    vendor = e.get("VendorRef") or {}
                    rows.append((int(e["Id"]), int(e.get("SyncToken", 0)),
                                 e.get("DocNumber"), e.get("DueDate"),
                                 e.get("TxnDate"),
                                 float(e["Balance"]) if "Balance" in e else None,
                                 e.get("PrivateNote"),
                                 vendor.get("value"), vendor.get("name"),
                                 page_no))
            return iter(rows)

    # attach the stream reader to the registered source
    def _simple_stream_reader(self, schema):  # noqa: ANN001
        return QBOPagesStreamReader(self.options)

    QBOPagesDataSource.simpleStreamReader = _simple_stream_reader


def read_qbo_pages_stream(spark: SparkSession, path: str,
                          entity: str = "Bill") -> DataFrame:
    """readStream over the qbo_pages source (offset = page ordinal)."""
    if not HAS_PY_DATASOURCE:
        raise NotImplementedError(
            "Python Data Source API requires Spark >= 4")
    key = id(spark)
    if key not in _REGISTERED:
        spark.dataSource.register(QBOPagesDataSource)
        _REGISTERED.add(key)
    return (spark.readStream.format("qbo_pages")
            .option("path", path).option("entity", entity).load())


if HAS_PY_DATASOURCE:
    from pyspark.sql.datasource import (DataSourceStreamWriter,
                                        DataSourceWriter,
                                        WriterCommitMessage)

    class PartCommit(WriterCommitMessage):
        def __init__(self, path: str, n: int):
            self.path = path
            self.n = n

    class JsonlParts:
        """The part writer both JSON-lines sinks share: each task
        serializes its partition to one JSON-lines part file and
        returns a commit message with (path, row count); the commit
        writes a manifest naming exactly the committed parts (written
        LAST, so a concurrent reader never sees a manifest naming
        half-written files — the protocol stage_pages uses on the
        inbound side); abort deletes the parts and leaves no
        manifest. Rows stream through each task (no driver collect);
        the only driver-side state is the commit-message list, one
        tuple per task."""

        def __init__(self, options: dict, schema):
            self.dir = options["path"]
            self.cols = [f.name for f in schema.fields]

        def write(self, it) -> PartCommit:
            import uuid
            os.makedirs(self.dir, exist_ok=True)
            path = os.path.join(self.dir, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(path, "w", encoding="utf-8") as fh:
                for row in it:
                    fh.write(json.dumps(
                        {c: row[c] for c in self.cols}, default=str) + "\n")
                    n += 1
            return PartCommit(path, n)

        def write_manifest(self, messages, name: str) -> None:
            done = [m for m in messages if m is not None]
            with open(os.path.join(self.dir, name), "w",
                      encoding="utf-8") as fh:
                json.dump({"parts": sorted(os.path.basename(m.path)
                                           for m in done),
                           "rows": sum(m.n for m in done)}, fh)

        def abort(self, messages, *_batch_id) -> None:
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class JsonlWriter(JsonlParts, DataSourceWriter):
        def commit(self, messages) -> None:
            self.write_manifest(messages, MANIFEST_NAME)

    class JsonlStreamWriter(JsonlParts, DataSourceStreamWriter):
        def commit(self, messages, batchId) -> None:  # noqa: N803
            self.write_manifest(messages, f"manifest-{batchId}.json")

    class JsonlSink(DataSource):
        """``df.write`` / ``df.writeStream`` ``.format("qbo_jsonl_sink")
        .option("path", dir)``: batch writes commit ``_MANIFEST.json``,
        each streaming epoch ``manifest-<batchId>.json``."""

        @classmethod
        def name(cls) -> str:
            return "qbo_jsonl_sink"

        def writer(self, schema, overwrite: bool) -> JsonlWriter:
            return JsonlWriter(self.options, schema)

        def streamWriter(self, schema, overwrite) -> JsonlStreamWriter:  # noqa: N802
            return JsonlStreamWriter(self.options, schema)


def _fresh_dir(path: str) -> None:
    import shutil
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _committed_parts(spark: SparkSession, schema, out_dir: str,
                     manifests: str) -> DataFrame:
    """Read back exactly the parts the ``manifests`` glob names."""
    import glob
    parts: list[str] = []
    for mpath in sorted(glob.glob(os.path.join(out_dir, manifests))):
        with open(mpath, encoding="utf-8") as fh:
            parts += [os.path.join(out_dir, p) for p in json.load(fh)["parts"]]
    return spark.read.schema(schema).json(parts)


def write_jsonl_datasource(spark: SparkSession, df: DataFrame,
                           out_dir: str) -> DataFrame:
    """Python Data Source V2 WRITER, the outbound half of the
    qbo_pages source: ``df`` goes through :class:`JsonlWriter` into a
    fresh ``out_dir`` (part files plus ``_MANIFEST.json``). Returns the
    read-back of the parts the manifest names."""
    _fresh_dir(out_dir)
    spark.dataSource.register(JsonlSink)
    df.write.format("qbo_jsonl_sink").mode("append") \
        .option("path", out_dir).save()
    return _committed_parts(spark, df.schema, out_dir, MANIFEST_NAME)


def write_jsonl_stream_datasource(spark: SparkSession, df: DataFrame,
                                  out_dir: str, query_name: str) -> DataFrame:
    """Python Data Source V2 STREAMING writer (Spark 4
    ``DataSourceStreamWriter``) — the exactly-once outbound loop the
    batch writer cannot express: each micro-batch goes through
    :class:`JsonlStreamWriter`, whose commit names exactly that
    epoch's parts in ``manifest-<batchId>.json``. A redelivered epoch
    OVERWRITES its own manifest, so replays are idempotent and a
    reader that only trusts manifests sees every row exactly once.

    ``df`` is staged as three parquet files and streamed with
    maxFilesPerTrigger=1 (availableNow) into a fresh ``out_dir``, so
    the sink really runs multiple epochs. Returns the read-back of
    all manifest-listed parts."""
    from pyspark.sql import functions as F

    from ..streaming.windows import run_available_now
    src = f"{out_dir.rstrip('/')}_src"
    _fresh_dir(src)
    # first column hashed into thirds; the split only shapes epochs,
    # never the output
    key = df.columns[0]
    for c in range(3):
        (df.filter(F.pmod(F.abs(F.hash(F.col(key))), F.lit(3)) == c)
         .coalesce(1).write.mode("append").parquet(src))
    _fresh_dir(out_dir)
    spark.dataSource.register(JsonlSink)
    run_available_now(
        spark,
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.format("qbo_jsonl_sink").option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt")),
        query_name, 180)
    return _committed_parts(spark, df.schema, out_dir, "manifest-*.json")
