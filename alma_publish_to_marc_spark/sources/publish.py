"""Publish-file sources and sinks (SURVEY.md §2.1).

- SRC-1/2/3: MARC XML / tar.gz / binary MARC scan → nested-record
  DataFrame. `binaryFile` gives one row per file; an Arrow-batched
  mapInPandas stage untars/parses per file. File-level parallelism is
  Spark's split scheduling (the reference's ThreadPool, SRC-4/5's
  ordering via deterministic path sort).
- SRC-6: delete-manifest routing by filename (`'delete' in name`,
  alma_publish_parser.py:291-292) → (mms_id, holding_id) delete rows.
- SRC-8: JSONL sink with maxRecordsPerFile (split_jsonl.py's chunking).
- SRC-15/16: binary MARC / MARC XML serialization as columns.

Scale notes: parse is narrow (no shuffle); one task per file (or per
split for big .mrc). A 100 TB backlog parallelizes by file count —
the publish format ships thousands of ~GB tar.gz members, which is the
same unit the reference processes per thread. Serialized outputs are
columns, so sinks inherit partitioned parallel writes.
"""

from __future__ import annotations

import io
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                               StructField, StructType)

from ..functions.scalars import is_institution_holding_id_py
from ..schemas import PUBLISH_RECORD
from . import marclib

DELETE_ROW = StructType([
    StructField("mms_id", StringType()),
    StructField("holding_id", StringType()),
    StructField("source_file", StringType()),
])


def _extract_xml_payloads(path: str, content: bytes) -> list[bytes]:
    """tar.gz members (SRC-2) or the file itself (SRC-1)."""
    if path.endswith(".gz"):
        payloads = []
        with tarfile.open(fileobj=io.BytesIO(content), mode="r:gz") as tar:
            for member in tar.getmembers():
                f = tar.extractfile(member)
                if f is not None:
                    payloads.append(f.read())
        return payloads
    return [content]


def _file_records(path: str, content: bytes) -> Iterator[dict]:
    """One publish file → its nested records; the only place publish
    files are untarred and parsed."""
    for payload in _extract_xml_payloads(path, content):
        yield from marclib.from_marcxml(payload, source_file=path)


def read_publish_records(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """SRC-1/2: Alma publish XML (optionally inside .tar.gz) → nested
    records, upsert files only — delete files are routed separately
    (SRC-6); the `delete` filename test matches the reference's."""
    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                try:
                    rows.extend(_file_records(p, bytes(content)))
                except Exception:
                    # log-and-continue per file (parse_file's try/except,
                    # alma_publish_parser.py:197-238): a null-mms_id row
                    # routes to split_publish's error stream.
                    rows.append(marclib.new_record(source_file=p))
            yield pd.DataFrame(rows, columns=[f.name for f in PUBLISH_RECORD])

    return (spark.read.format("binaryFile").load(path)
            .select("path", "content")
            .where(~F.col("path").contains("delete"))
            .mapInPandas(parse, PUBLISH_RECORD))


def read_binary_marc(spark: SparkSession, path: str) -> DataFrame:
    """SRC-3: ISO 2709 .mrc files → nested records. (The reference's
    binary path is dead code due to an arity bug, parser :231; this is
    the working equivalent.)"""
    files = (spark.read.format("binaryFile").load(path)
             .select("path", "content"))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                for rec in marclib.iter_iso2709(bytes(content)):
                    rec["source_file"] = p
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in PUBLISH_RECORD])

    return files.mapInPandas(parse, PUBLISH_RECORD)


def read_delete_manifests(spark: SparkSession,
                          path: str | list[str]) -> DataFrame:
    """SRC-6 (process_delete_file, alma_publish_parser.py:341-380):
    files with 'delete' in the name; each record deletes its 001 bib and
    at most one 852$8 holding (the reference breaks after the first).
    A corrupt manifest fails the read rather than skipping deletes."""
    files = (spark.read.format("binaryFile").load(path)
             .select("path", "content")
             .where(F.col("path").contains("delete")))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                for rec in _file_records(p, bytes(content)):
                    holding_id = next(
                        (s["value"] for f in rec["fields"] if f["tag"] == "852"
                         for s in f["subfields"]
                         if s["code"] == "8"
                         and is_institution_holding_id_py(s["value"])), None)
                    rows.append({"mms_id": rec["mms_id"],
                                 "holding_id": holding_id,
                                 "source_file": p})
            yield pd.DataFrame(rows, columns=[f.name for f in DELETE_ROW])

    return files.mapInPandas(parse, DELETE_ROW)


# --- serialization columns (SRC-15/16) -------------------------------------
_RECORD_DICT_COLS = ("mms_id", "leader", "control_fields", "fields")


def _iter(v):
    """None-safe iteration over Arrow-materialized nested arrays (numpy
    ndarrays have ambiguous truthiness, so no `v or []`)."""
    return [] if v is None else v


def _row_to_dict(row: pd.Series) -> dict:
    return {
        "mms_id": row["mms_id"],
        "leader": row["leader"],
        "control_fields": [
            {"tag": c["tag"], "data": c["data"]}
            for c in _iter(row["control_fields"])],
        "fields": [
            {"tag": f["tag"], "ind1": f["ind1"], "ind2": f["ind2"],
             "subfields": [{"code": s["code"], "value": s["value"]}
                           for s in _iter(f["subfields"])]}
            for f in _iter(row["fields"])],
    }


def with_serialized_marc(records: DataFrame, xml: bool = True,
                         binary: bool = True) -> DataFrame:
    """Append `marc_xml` (string) / `raw_marc` (binary) columns — the
    bib_marc_xml / bib_marc satellite payloads (SRC-15/16). Arrow-batched;
    rows whose binary form exceeds 99,999 bytes get raw_marc=null after
    the reference's drop-and-retry guard is applied upstream (OP-P9)."""
    schema = StructType([*records.schema.fields])
    if xml:
        schema = schema.add("marc_xml", StringType())
    if binary:
        schema = schema.add("raw_marc", BinaryType())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [_row_to_dict(r) for _, r in pdf.iterrows()]
            if xml:
                pdf = pdf.assign(
                    marc_xml=[marclib.to_marcxml(r) for r in recs])
            if binary:
                raws = []
                for r in recs:
                    b = marclib.to_iso2709(r)
                    raws.append(b if len(b) <= marclib.MAX_RECORD_BYTES
                                else None)
                pdf = pdf.assign(raw_marc=raws)
            yield pdf

    return records.mapInPandas(run, schema)


SIZE_GUARD_SCHEMA = StructType([
    StructField("mms_id", StringType()),
    StructField("action", StringType()),   # kept | bib_dropped | skipped
    StructField("n_bytes", IntegerType()), # null when skipped
])


def apply_size_guard(records: DataFrame,
                     limit: int = marclib.MAX_RECORD_BYTES) -> DataFrame:
    """OP-P9 (`alma_publish_to_database.py:176-184`): serialize to
    ISO 2709; if over the cap, drop the BIB field and retry; still over
    → skip (null bytes). The reference's `==`-for-`=` typo meant its
    retry never took effect — this implements the evident intent
    (SURVEY.md §7 'bugs not to replicate')."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf.to_dict("records"):
                r = _row_to_dict(rec)
                blob = marclib.to_iso2709(r)
                if len(blob) <= limit:
                    out.append({"mms_id": r["mms_id"], "action": "kept",
                                "n_bytes": len(blob)})
                    continue
                r["fields"] = [f for f in r["fields"] if f["tag"] != "BIB"]
                blob = marclib.to_iso2709(r)
                if len(blob) <= limit:
                    out.append({"mms_id": r["mms_id"],
                                "action": "bib_dropped",
                                "n_bytes": len(blob)})
                else:
                    out.append({"mms_id": r["mms_id"], "action": "skipped",
                                "n_bytes": None})
            yield pd.DataFrame(out, columns=["mms_id", "action", "n_bytes"])

    return records.mapInPandas(run, SIZE_GUARD_SCHEMA)


def write_jsonl(df: DataFrame, path: str, max_records_per_file: int) -> None:
    """SRC-8: JSONL sink pre-chunked at write time (split_jsonl.py's
    post-hoc re-chunking becomes a writer option)."""
    (df.write.mode("overwrite")
       .option("maxRecordsPerFile", max_records_per_file)
       .json(path))
