"""Spark 4 Python DataSource sink for binary MARC: after
``register(spark)``, ``df.write.format("marcpublish").save(dir)``
writes a nested-record frame (schemas.PUBLISH_RECORD) as ISO 2709 part
files — the engine's only .mrc file sink (SRC-15,
`alma_publish_to_marc.py:16-24,36-37`).

Why a DataSource: the other sinks are column serializers
(`publish.with_serialized_marc`) feeding ordinary writers, but ISO 2709
is a concatenated-record file format with no Spark writer. The
DataSource gives it the usual file-sink protocol: per-task part files,
a driver-side ``_SUCCESS`` commit and abort cleanup. There is no read
side; publish drops are read by the per-file readers in ``publish``
(the publish run, which the streaming drain also runs, parses and splits
them in one stage).

Scale: each task serializes its own partition on an executor; the
driver only collects (path, count) commit messages. No shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceWriter

from . import marclib


class MarcPublishWriter(DataSourceWriter):
    """Executor-side binary MARC sink (the DataSource form of SRC-15:
    `alma_publish_to_marc.py:16-24,36-37`'s MARCWriter): each task
    serializes its partition of nested records to ISO 2709 and writes
    one ``part-<uuid>.mrc`` file under the target directory; the commit
    message carries (path, n_records) back to the driver, where
    ``commit`` writes a ``_SUCCESS`` manifest listing every part — the
    usual all-or-nothing file-sink protocol (readers key on _SUCCESS,
    half-written runs without it are invisible). ``abort`` removes this
    task's file so retries can't double-publish."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path") or ""

    def write(self, iterator):
        import uuid

        from pyspark.sql.datasource import WriterCommitMessage

        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{uuid.uuid4().hex}.mrc")
        n = 0
        with open(out, "wb") as fh:
            for row in iterator:
                rec = {
                    "mms_id": row.mms_id,
                    "leader": row.leader,
                    "control_fields": [
                        {"tag": cf.tag, "data": cf.data}
                        for cf in row.control_fields or []],
                    "fields": [
                        {"tag": f.tag, "ind1": f.ind1, "ind2": f.ind2,
                         "subfields": [{"code": s.code, "value": s.value}
                                       for s in f.subfields or []]}
                        for f in row.fields or []],
                }
                fh.write(marclib.to_iso2709(rec))
                n += 1
        if n == 0:
            os.remove(out)  # no empty part files
            return WriterCommitMessage()
        msg = WriterCommitMessage()
        msg.path, msg.count = out, n  # type: ignore[attr-defined]
        return msg

    def commit(self, messages):
        parts = sorted(
            (m.path, m.count) for m in messages
            if m is not None and getattr(m, "path", None))
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            for path, count in parts:
                fh.write(f"{os.path.basename(path)}\t{count}\n")

    def abort(self, messages):
        for m in messages or []:
            p = getattr(m, "path", None)
            if p and os.path.exists(p):
                os.remove(p)


class MarcPublishDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "marcpublish"

    def writer(self, schema, overwrite: bool) -> MarcPublishWriter:
        # overwrite must clear prior parts at plan time (driver-side):
        # a glob reader over *.mrc would otherwise re-ingest stale
        # files the new _SUCCESS manifest doesn't list — silent
        # double-publish on rewrite
        if overwrite:
            path = self.options.get("path") or ""
            if os.path.isdir(path):
                for f in os.listdir(path):
                    if f.endswith(".mrc") or f == "_SUCCESS":
                        os.remove(os.path.join(path, f))
        return MarcPublishWriter(self.options)


def register(spark) -> None:
    from ..session import tune

    tune(spark)  # ships the package so executors can unpickle the writer
    spark.dataSource.register(MarcPublishDataSource)
