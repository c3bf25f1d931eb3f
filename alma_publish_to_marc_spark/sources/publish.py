"""Publish-file sources and sinks (SURVEY.md §2.1).

- SRC-1/2/3: MARC XML / tar.gz / binary MARC scan → nested-record
  DataFrame. `binaryFile` gives one row per file; `map_files`, the one
  mapper behind every publish reader (and the sync's parse-and-split
  stage), runs a per-file function over them in a mapInPandas stage.
  File-level parallelism is Spark's split scheduling (the reference's
  ThreadPool, SRC-4/5's ordering via deterministic path sort).
- SRC-6: delete-manifest routing by file name (`'delete' in name`,
  alma_publish_parser.py:291-292; `publish_files`) → (mms_id,
  holding_id) delete rows.
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
from collections.abc import Callable, Iterable, Iterator

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


def _file_records(path: str, content: bytes) -> list[dict]:
    """One publish file → the nested records of each tar.gz member
    (SRC-2) or of the file itself (SRC-1); the only place publish files
    are untarred and parsed."""
    if not path.endswith(".gz"):
        return marclib.from_marcxml(content, source_file=path)
    with tarfile.open(fileobj=io.BytesIO(content), mode="r:gz") as tar:
        return [rec for member in tar.getmembers()
                if (f := tar.extractfile(member)) is not None
                for rec in marclib.from_marcxml(f.read(), source_file=path)]


def file_records_or_error(path: str, content: bytes) -> list[dict]:
    """An upsert file's records; log-and-continue per file (parse_file's
    try/except, alma_publish_parser.py:197-238): a corrupt file gives one
    null-mms_id record, which the split routes to its error stream."""
    try:
        return _file_records(path, content)
    except Exception:
        return [marclib.new_record(source_file=path)]


def publish_files(spark: SparkSession, path: str | list[str],
                  manifests: bool = False) -> DataFrame:
    """A drop's upsert files, or with `manifests` its delete manifests,
    as `binaryFile` rows. SRC-6 (alma_publish_parser.py:291-292): a file
    whose NAME contains "delete" is a manifest; the directories above it
    do not count. The manifest read filters with `pathGlobFilter`, which
    matches file names before any bytes are read."""
    files = spark.read.format("binaryFile")
    paths = _resolve_globs(spark, path)
    if manifests:
        return files.option("pathGlobFilter", "*delete*").load(paths)
    name = F.substring_index(F.col("path"), "/", -1)
    return files.load(paths).where(~name.contains("delete"))


def _resolve_globs(spark: SparkSession, path: str | list[str]) -> list[str]:
    """Expand glob paths through the Hadoop FileSystem, as Spark would,
    so no literal glob reaches the read: Spark probes a glob path for a
    streaming-sink metadata directory and logs a stack trace when it is
    missing. A glob that matches nothing is kept, so the read fails on
    it as before."""
    conf = spark._jsc.hadoopConfiguration()
    out = []
    for p in [path] if isinstance(path, str) else path:
        if not any(c in p for c in "{}[]*?\\"):   # Spark's isGlobPath
            out.append(p)
            continue
        jpath = spark._jvm.org.apache.hadoop.fs.Path(p)
        matches = jpath.getFileSystem(conf).globStatus(jpath) or []
        out += sorted(m.getPath().toString() for m in matches) or [p]
    return out


def map_files(files: DataFrame,
              per_file: Callable[[str, bytes], Iterable[dict]],
              schema: StructType) -> DataFrame:
    """`binaryFile` rows → the rows `per_file(path, content)` makes of
    each file, in one mapInPandas stage: each file is handled in the task
    that reads it."""
    cols = [f.name for f in schema]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [row for p, content in zip(pdf["path"], pdf["content"])
                    for row in per_file(p, bytes(content))]
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(run, schema)


def read_publish_records(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """SRC-1/2: Alma publish XML (optionally inside .tar.gz) → nested
    records, upsert files only; delete manifests are read by
    `read_delete_manifests` (SRC-6)."""
    return map_files(publish_files(spark, path), file_records_or_error,
                     PUBLISH_RECORD)


def read_binary_marc(spark: SparkSession, path: str) -> DataFrame:
    """SRC-3: ISO 2709 .mrc files → nested records. (The reference's
    binary path is dead code due to an arity bug, parser :231; this is
    the working equivalent.)"""
    return map_files(
        spark.read.format("binaryFile").load(path),
        lambda p, c: [dict(r, source_file=p) for r in marclib.iter_iso2709(c)],
        PUBLISH_RECORD)


def read_delete_manifests(spark: SparkSession,
                          path: str | list[str]) -> DataFrame:
    """SRC-6 (process_delete_file, alma_publish_parser.py:341-380):
    each manifest record deletes its 001 bib and at most one 852$8
    holding (the reference breaks after the first). A corrupt manifest
    fails the read rather than skipping deletes."""
    def deletes(p: str, content: bytes) -> Iterator[dict]:
        for rec in _file_records(p, content):
            hids = (_hid_of(f) for f in rec["fields"] if f["tag"] == "852")
            yield {"mms_id": rec["mms_id"], "source_file": p,
                   "holding_id": next(filter(None, hids), None)}

    return map_files(publish_files(spark, path, manifests=True), deletes,
                     DELETE_ROW)


# --- serialization columns (SRC-15/16) -------------------------------------
def _iter(v):
    """None-safe iteration over Arrow-materialized nested arrays (numpy
    ndarrays have ambiguous truthiness, so no `v or []`)."""
    return [] if v is None else v


def _hid_of(field: dict, code: str = "8") -> str | None:
    """The field's first institution holding id in subfield `code`."""
    for s in _iter(field.get("subfields")):
        if s["code"] == code and is_institution_holding_id_py(s["value"]):
            return s["value"]
    return None


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
