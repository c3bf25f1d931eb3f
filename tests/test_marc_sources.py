"""Codec round-trips + end-to-end file-source tests: fixture records →
MARC XML in tar.gz on disk → Spark read → split → serialize columns."""

from __future__ import annotations

import io
import tarfile

import pytest

from alma_publish_to_marc_spark.plans.publish_split import split_publish
from alma_publish_to_marc_spark.sources import marclib, publish

from .fixtures_publish import GOOD_RECORD, HID_A


def _as_plain_dict(rec: dict) -> dict:
    return {k: rec.get(k) for k in
            ("mms_id", "leader", "control_fields", "fields")}


def test_iso2709_round_trip():
    rec = _as_plain_dict(GOOD_RECORD)
    blob = marclib.to_iso2709(rec)
    assert blob[-1:] == marclib.RT
    assert int(blob[:5]) == len(blob)          # leader length field
    back = marclib.from_iso2709(blob)
    assert back["mms_id"] == rec["mms_id"]
    assert [c["tag"] for c in back["control_fields"]] == \
        [c["tag"] for c in rec["control_fields"]]
    assert back["fields"] == rec["fields"]


def test_marcxml_round_trip():
    rec = _as_plain_dict(GOOD_RECORD)
    xml = marclib.to_marcxml(rec)
    back = marclib.from_marcxml(xml.encode())[0]
    assert back["mms_id"] == rec["mms_id"]
    assert back["fields"] == rec["fields"]
    assert back["control_fields"] == rec["control_fields"]


def test_iter_iso2709_stream():
    rec = _as_plain_dict(GOOD_RECORD)
    stream = marclib.to_iso2709(rec) * 3
    assert len(marclib.iter_iso2709(stream)) == 3


@pytest.fixture(scope="module")
def publish_dir(tmp_path_factory):
    """A landing dir shaped like an Alma publish drop: one upsert
    tar.gz (2 records incl. a duplicate) + one delete file."""
    d = tmp_path_factory.mktemp("publish")
    rec = _as_plain_dict(GOOD_RECORD)
    collection = ('<collection xmlns="http://www.loc.gov/MARC21/slim">'
                  + marclib.to_marcxml(rec, namespace=False)
                  + marclib.to_marcxml(rec, namespace=False)
                  + "</collection>").encode()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tar:
        info = tarfile.TarInfo("publish_new_1.xml")
        info.size = len(collection)
        tar.addfile(info, io.BytesIO(collection))
    (d / "incremental-20240101_new_1.tar.gz").write_bytes(buf.getvalue())

    delete_rec = marclib.new_record(mms_id="9999990121")
    delete_rec["control_fields"] = [{"tag": "001", "data": "9999990121"}]
    delete_rec["fields"] = [{
        "tag": "852", "ind1": " ", "ind2": " ",
        "subfields": [{"code": "8", "value": HID_A}],
    }]
    (d / "incremental-20240101_delete_1.xml").write_bytes(
        marclib.to_marcxml(delete_rec).encode())
    return str(d)


def test_read_publish_records_and_split(spark, publish_dir):
    records = publish.read_publish_records(spark, publish_dir + "/*")
    assert records.count() == 2                    # delete file excluded
    out = split_publish(records)
    assert out["bibs"].count() == 1                # dedup across copies
    assert out["holdings"].count() == 2
    assert out["errors"].count() == 0


def test_read_delete_manifests(spark, publish_dir):
    deletes = publish.read_delete_manifests(spark, publish_dir + "/*").collect()
    assert len(deletes) == 1
    assert deletes[0]["mms_id"] == "9999990121"
    assert deletes[0]["holding_id"] == HID_A


def test_serialized_columns_round_trip(spark, publish_dir):
    records = publish.read_publish_records(spark, publish_dir + "/*")
    bibs = split_publish(records)["bibs"].drop("holding_ids")
    ser = publish.with_serialized_marc(bibs).collect()[0]
    assert "<record" in ser["marc_xml"] and "controlfield" in ser["marc_xml"]
    back = marclib.from_iso2709(bytes(ser["raw_marc"]))
    assert back["mms_id"] == ser["mms_id"]
    # round-trip through XML too
    back_xml = marclib.from_marcxml(ser["marc_xml"].encode())[0]
    assert back_xml["mms_id"] == ser["mms_id"]


def test_binary_marc_source(spark, tmp_path):
    rec = _as_plain_dict(GOOD_RECORD)
    (tmp_path / "export.mrc").write_bytes(marclib.to_iso2709(rec) * 2)
    df = publish.read_binary_marc(spark, str(tmp_path) + "/*.mrc")
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["mms_id"] == rec["mms_id"]


def test_marcpublish_datasource_writer_roundtrip(spark, publish_dir, tmp_path):
    """format('marcpublish') write path: records -> ISO2709 part files
    + _SUCCESS manifest; read back through the binary MARC source."""
    from alma_publish_to_marc_spark.sources import datasource

    datasource.register(spark)
    records = publish.read_publish_records(spark, publish_dir + "/*")
    out = str(tmp_path / "mrc_out")
    records.write.format("marcpublish").mode("append").save(out)

    import os
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    manifest = open(os.path.join(out, "_SUCCESS")).read().strip().splitlines()
    assert sum(int(line.split("\t")[1]) for line in manifest) == 2

    back = publish.read_binary_marc(spark, out + "/*.mrc").collect()
    assert len(back) == 2
    want = sorted(r["mms_id"] for r in records.collect())
    assert sorted(r["mms_id"] for r in back) == want


def test_marcpublish_writer_overwrite_clears_stale_parts(spark, publish_dir,
                                                         tmp_path):
    from alma_publish_to_marc_spark.sources import datasource

    datasource.register(spark)
    records = publish.read_publish_records(spark, publish_dir + "/*")
    out = str(tmp_path / "mrc_ow")
    records.write.format("marcpublish").mode("overwrite").save(out)
    records.write.format("marcpublish").mode("overwrite").save(out)
    # second overwrite replaced, not doubled
    back = publish.read_binary_marc(spark, out + "/*.mrc").collect()
    assert len(back) == 2
