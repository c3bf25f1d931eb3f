"""Hand-built publish-record fixtures exercising the split semantics
(FIXTURES.md §1): dual-009 and leader-only control groups, relocated
fields, ITM items, cross-file duplicates, and invariant violations —
and a writer that lands records as a tar.gz publish file."""

from __future__ import annotations

import io
import tarfile

from alma_publish_to_marc_spark.sources import marclib


def cf(tag, data):
    return {"tag": tag, "data": data}


def sf(code, value):
    return {"code": code, "value": value}


def df_(tag, ind1, ind2, *subs):
    return {"tag": tag, "ind1": ind1, "ind2": ind2, "subfields": list(subs)}


HID_A = "22100008651"   # institution-suffixed Alma holding ids
HID_B = "22200000521"

GOOD_RECORD = {
    "mms_id": "9910008651",
    "leader": "00000cam a2200000 a 4500",
    "control_fields": [
        # Alma emits 001 NOT first — split must move it (parser :95-99)
        cf("005", "20240101120000.0"),
        cf("001", "9910008651"),
        cf("008", "200101s2020    ctua          000 0 eng d"),
        # holding A group: dual-009 (original voyager id + leader)
        cf("009", "1234567"),
        cf("005", "20240102120000.0"),
        cf("002", "ta"),
        cf("003", "2401025u    8   4001uueng0000000"),
        cf("009", "00000nx  a22000001n 4500"),
        # holding B group: leader-only, starts with 005
        cf("005", "20240103120000.0"),
        cf("003", "2401035u    8   4001uueng0000000"),
        cf("009", "00000nx  a22000002n 4500"),
    ],
    "fields": [
        df_("245", "1", "0", sf("a", "A title :"), sf("b", "ignored"),
            sf("p", "part one.")),
        df_("100", "1", " ", sf("a", "Author, Ann,"), sf("0", "skipme")),
        df_("260", " ", " ", sf("a", "New Haven :"), sf("b", "Pub House,"),
            sf("c", "2020.")),
        df_("020", " ", " ", sf("a", "1234567890"), sf("z", "bad")),
        df_("020", " ", " ", sf("a", "0987654321"), sf("a", "9781234567897")),
        df_("035", " ", " ", sf("a", "(OCoLC)123456789")),
        df_("035", " ", " ", sf("a", "(CtY-L)b12345678x")),
        df_("BIB", " ", " ", sf("a", "false"),
            sf("1", "2020-01-01 10:00:00 US/Eastern"),
            sf("2", "2024-01-05 11:00:00 US/Eastern")),
        df_("774", "0", " ", sf("w", "9920008651"), sf("t", "Part")),
        # holding A: 852 + relocated 866; holding B: 852 only
        df_("852", "0", " ", sf("8", HID_A), sf("b", "LIB1"), sf("c", "LOC1"),
            sf("k", "Oversize"), sf("h", "QA76"), sf("i", ".C48 2020")),
        df_("866", " ", " ", sf("8", HID_A), sf("a", "v.1-10")),
        df_("852", "0", " ", sf("8", HID_B), sf("b", "LIB2"), sf("c", "LOC2"),
            sf("h", "PS3552")),
        # items: 2 on A, 1 on B
        df_("ITM", " ", " ", sf("0", HID_A), sf("2", "23111118651"),
            sf("1", "BARCODE1"), sf("h", "LIB1"), sf("s", "LOC1"),
            sf("i", "LIB1"), sf("t", "LOC1"), sf("x", "1"),
            sf("w", "2020-02-02 10:00:00"), sf("e", "v.1"), sf("f", "2020")),
        df_("ITM", " ", " ", sf("0", HID_A), sf("2", "23111128651"),
            sf("1", "BARCODE2"), sf("h", "LIB1"), sf("s", "LOC1"),
            sf("i", "LIB1"), sf("t", "TEMPLOC"), sf("x", "0")),
        df_("ITM", " ", " ", sf("0", HID_B), sf("2", "23111138651"),
            sf("1", "BARCODE3")),
    ],
    "source_file": "incremental-20240101_new_1.tar.gz",
}

# same bib again from a second file — must dedup (parser :172-183)
DUP_RECORD = dict(GOOD_RECORD, source_file="incremental-20240101_new_2.tar.gz")

# 852 count (1) ≠ control group count (0) → error (parser :108-110)
MISMATCH_RECORD = {
    "mms_id": "9920008651",
    "leader": "00000cam a2200000 a 4500",
    "control_fields": [cf("001", "9920008651"), cf("005", "20240101120000.0")],
    "fields": [
        df_("852", "0", " ", sf("8", HID_A), sf("b", "LIB1"), sf("c", "LOC1")),
    ],
    "source_file": "incremental-20240101_new_1.tar.gz",
}

# digit leader with non-digit 001 in a dual-009 group → sanity error
# (parser :131-133)
BAD_LEADER_RECORD = {
    "mms_id": "9930008651",
    "leader": "00000cam a2200000 a 4500",
    "control_fields": [
        cf("001", "9930008651"),
        cf("009", "notdigits"),
        cf("009", "12345"),
    ],
    "fields": [
        df_("852", "0", " ", sf("8", "22300008651"), sf("b", "L"), sf("c", "C")),
    ],
    "source_file": "incremental-20240101_new_1.tar.gz",
}

ALL_RECORDS = [GOOD_RECORD, DUP_RECORD, MISMATCH_RECORD, BAD_LEADER_RECORD]


def write_drop(dirpath, records, name="incremental-1_new_1.tar.gz"):
    """One tar.gz publish file `name` under `dirpath` holding `records`."""
    collection = ('<collection xmlns="http://www.loc.gov/MARC21/slim">'
                  + "".join(marclib.to_marcxml(
                      {k: r[k] for k in ("mms_id", "leader",
                                         "control_fields", "fields")},
                      namespace=False) for r in records)
                  + "</collection>").encode()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tar:
        info = tarfile.TarInfo("p.xml")
        info.size = len(collection)
        tar.addfile(info, io.BytesIO(collection))
    (dirpath / name).write_bytes(buf.getvalue())
