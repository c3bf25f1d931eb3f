"""Arrow-batched implementation of the publish split — the physical
fast path behind plans.publish_split.

The Catalyst-expression split (publish_split.py) is the semantic
specification: pure Column expressions, fully declarative. But Spark
evaluates higher-order functions interpreted (CodegenFallback), and the
split's per-record program is deep enough that expression interpretation
dominates (~100 ms core-time per record at sf0.1 — slower per core than
the reference's imperative loop). This module runs the SAME semantics as
plain Python over Arrow batches: ~50 µs per record, no shuffle,
embarrassingly parallel — the strategy SURVEY.md §7 ("hard parts" #1)
prescribes. `split_rows` splits a nested-record frame into SPLIT_ROWs,
e.g. the records the publish_split_* queries synthesize in Spark.

The publish sync goes one step further in the stage that parses each
file (`file_split_rows`, the reference's parse_file → handle_record
loop): it splits each record and walks the split bib and holdings for
the brief columns (`brief_row`, the traversal functions/marc.py
specifies), so its BRIEF_ROWs carry flat raw strings and no nested
field arrays. What stays on the JVM is the scalar finishing
(plans.pipeline.extract_*): every regex and date rule, since Java's
`[^\\W\\d]` is ASCII-only where Python's is Unicode.

tests/test_publish_split_equivalence.py pins the split to the Catalyst
spec's outputs on the fixture corpus, and the brief traversal plus the
finishing to marc.py's extraction; the DuckDB oracles for the
publish_split_* driver queries check `split_rows` at sf scale.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, StringType, StructField, StructType)

from ..functions.scalars import is_institution_holding_id_py
from ..schemas import CONTROL_FIELD, DATA_FIELD, ITEM_STRUCT
from ..sources.publish import (_hid_of, _iter, file_records_or_error,
                               map_files, publish_files)
from ..tables import persist

_BIB_T = StructType([
    StructField("mms_id", StringType()),
    StructField("leader", StringType()),
    StructField("control_fields", ArrayType(CONTROL_FIELD)),
    StructField("fields", ArrayType(DATA_FIELD)),
    StructField("holding_ids", ArrayType(StringType())),
])
_HOLDING_T = StructType([
    StructField("holding_id", StringType()),
    StructField("leader", StringType()),
    StructField("control_fields", ArrayType(CONTROL_FIELD)),
    StructField("fields", ArrayType(DATA_FIELD)),
])


def _split_row_t(bib: StructType, holding: StructType) -> StructType:
    return StructType([
        StructField("mms_id", StringType()),
        StructField("source_file", StringType()),
        StructField("bib", bib),
        StructField("holdings", ArrayType(holding)),
        StructField("items", ArrayType(ITEM_STRUCT)),
        StructField("error", StringType()),
    ])


def _strings(*names: str) -> list[StructField]:
    return [StructField(n, StringType()) for n in names]


SPLIT_ROW = _split_row_t(_BIB_T, _HOLDING_T)
# The raw brief strings of a split bib / holding (`brief_row`):
# title..publisher are joined subfield values before the punctuation
# trim; *_raw are the values before their JVM finishing.
_BIB_BRIEF_T = StructType([
    *_strings("mms_id", "leader", "title", "author", "publication_date",
              "publication_place", "publisher", "extent", "material",
              "isbn", "issn", "oclc_number", "voyager_035a", "suppress_raw",
              "create_raw", "update_raw", "field008"),
    StructField("holding_ids", ArrayType(StringType())),
    StructField("part_ids", ArrayType(StringType())),
])
_HOLDING_BRIEF_T = StructType(_strings(
    "holding_id", "call_number", "voyager_035a", "suppress_raw",
    "create_raw", "update_raw", "field008", "library_code",
    "location_code"))
BRIEF_ROW = _split_row_t(_BIB_BRIEF_T, _HOLDING_BRIEF_T)


def _control_groups(cf: list[dict]) -> tuple[list[list[dict]], set[int]]:
    """Same fold as publish_split.control_field_groups."""
    groups: list[list[dict]] = []
    cur: list[dict] = []
    taken: set[int] = set()
    in_h = False
    cnt5 = 0
    for i, f in enumerate(cf):
        tag = f["tag"]
        is005 = tag == "005"
        if is005:
            cnt5 += 1
        exitg = (tag == "009") and in_h
        if in_h or (is005 and cnt5 > 1) or tag in ("009", "003", "002"):
            in_h = True
            cur.append(f)
            taken.add(i)
        if exitg:
            groups.append(cur)
            cur = []
            in_h = False
    return groups, taken


def _first_sub(field: dict, code: str) -> str | None:
    for s in _iter(field.get("subfields")):
        if s["code"] == code:
            return s["value"]
    return None


def _item_from_field(mms_id: str, f: dict) -> dict:
    sub = lambda c: _first_sub(f, c)  # noqa: E731 — first-code-wins
    perm_loc, cur_loc = sub("s"), sub("t")
    perm_lib, cur_lib = sub("h"), sub("i")
    in_temp = not (perm_loc == cur_loc and perm_lib == cur_lib)
    return {
        "mms_id": mms_id, "holding_id": _hid_of(f, "0"),
        "pid": sub("2"), "barcode": sub("1"), "policy": sub("c"),
        "description": sub("g"), "library": perm_lib, "location": perm_loc,
        "pieces": sub("3"), "creation_date": sub("w"),
        "modification_date": sub("r"), "inventory_date": sub("z"),
        "inventory_number": sub("m"), "base_status": sub("x"),
        "physical_material_type": sub("4"), "enumeration_a": sub("e"),
        "chronology_i": sub("f"), "process_type": sub("6"),
        "copy_id": sub("b"), "temp_library": cur_lib,
        "temp_location": cur_loc, "in_temp_location": in_temp,
        "call_number": sub("o"), "call_number_type": sub("j"),
    }


def split_record(rec: dict) -> dict:
    """One record → SPLIT_ROW dict (semantics of publish_split.py; see
    its docstring for the reference citations)."""
    mms_id = rec.get("mms_id")
    src = rec.get("source_file")
    out = {"mms_id": mms_id, "source_file": src, "bib": None,
           "holdings": None, "items": None, "error": None}
    if not mms_id:
        out["error"] = "missing 001/mms_id"
        return out

    cf = list(_iter(rec.get("control_fields")))
    cf = ([f for f in cf if f["tag"] == "001"]
          + [f for f in cf if f["tag"] != "001"])        # 001 first
    groups, taken = _control_groups(cf)
    bib_ctrl = [f for i, f in enumerate(cf) if i not in taken]

    fields = list(_iter(rec.get("fields")))
    u852: list[tuple[str, dict]] = []
    seen: set[str] = set()
    for f in fields:
        if f["tag"] == "852":
            hid = _hid_of(f)
            if hid and hid not in seen:
                seen.add(hid)
                u852.append((hid, f))
    if len(u852) != len(groups):
        out["error"] = "holding count does not match control field groups"
        return out

    reloc = [f for f in fields
             if f["tag"] != "ITM" and _hid_of(f) is not None]
    itm = [f for f in fields
           if f["tag"] == "ITM" and _hid_of(f, "0") is not None]
    bib_fields = [f for f in fields
                  if _hid_of(f) is None
                  and not (f["tag"] == "ITM" and _hid_of(f, "0") is not None)]

    holdings = []
    for (hid, _f852), group in zip(u852, groups):
        lid = [c for c in group if c["tag"] == "009"]
        if len(lid) == 1:
            f001, leader = None, lid[0]["data"]
        elif len(lid) == 2:
            f001, leader = lid[0]["data"], lid[1]["data"]
            if leader.isdigit() and not f001.isdigit():
                out["error"] = "leader/001 digit sanity check failed"
                return out
        else:
            out["error"] = "holding 009 arity not 1 or 2"
            return out
        ctrl = [{"tag": "001", "data": hid}, {"tag": "004", "data": mms_id}]
        ctrl += [c for c in group if c["tag"] == "005"][:1]
        ctrl += [{"tag": "007", "data": c["data"]}
                 for c in group if c["tag"] == "002"]
        ctrl += [{"tag": "008", "data": c["data"]}
                 for c in group if c["tag"] == "003"]
        hfields = []
        if f001 and not is_institution_holding_id_py(f001):
            if f001.isdigit() and len(f001) < 9:
                hfields.append({"tag": "035", "ind1": " ", "ind2": " ",
                                "subfields": [{"code": "a", "value":
                                               f"(CtY){f001}-yaledb-Voyager"}]})
            if "yale_inst" in f001:
                stripped = f001.replace("yale_inst", "")
                hfields.append({"tag": "035", "ind1": " ", "ind2": " ",
                                "subfields": [{"code": "a", "value":
                                               f"(CtY){stripped}-yaledb-Other"}]})
        for f in reloc:
            if _hid_of(f) == hid:
                hfields.append({
                    "tag": f["tag"], "ind1": f["ind1"], "ind2": f["ind2"],
                    "subfields": [
                        s for s in f["subfields"]
                        if not (s["code"] == "8"
                                and is_institution_holding_id_py(s["value"]))]})
        holdings.append({"holding_id": hid, "leader": leader,
                         "control_fields": ctrl, "fields": hfields})

    known = {hid for hid, _ in u852}
    for f in reloc:
        if _hid_of(f) not in known:
            out["error"] = "field relocated to unknown holding id"
            return out

    out["bib"] = {"mms_id": mms_id, "leader": rec.get("leader"),
                  "control_fields": bib_ctrl, "fields": bib_fields,
                  "holding_ids": [hid for hid, _ in u852]}
    out["holdings"] = holdings
    out["items"] = [_item_from_field(mms_id, f) for f in itm]
    return out


def split_rows(records: DataFrame) -> DataFrame:
    """records (PUBLISH_RECORD) → SPLIT_ROW frame, one Arrow pass.

    No deep copy of the nested arrays: Arrow materializes
    array<struct> columns as numpy arrays of dicts, which
    `split_record` consumes directly (it only iterates and indexes) —
    `to_dict('records')` + direct use is ~10× cheaper than
    iterrows + per-field dict rebuilding."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in SPLIT_ROW]
        for pdf in batches:
            rows = [split_record(rec) for rec in pdf.to_dict("records")]
            yield pd.DataFrame(rows, columns=cols)

    return records.mapInPandas(run, SPLIT_ROW)


# --- brief traversal: the raw strings of functions/marc.py's rules -------
def _values(field: dict, codes: str) -> list:
    """marc.subfield_values: the values of the subfields whose code is
    in `codes` ('*' = all), null values kept (they count toward "has
    the subfield" but are skipped by joins)."""
    subs = _iter(field.get("subfields"))
    if codes == "*":
        return [s["value"] for s in subs]
    wanted = frozenset(codes)
    return [s["value"] for s in subs if s["code"] in wanted]


def _join(values: list) -> str:
    """array_join(values, ' '), which skips nulls."""
    return " ".join(v for v in values if v is not None)


def _first_joined(fields: list, tag: str, codes: str) -> str | None:
    """marc.subfields_as_string."""
    for f in fields:
        if f["tag"] == tag and (vals := _values(f, codes)):
            return _join(vals)
    return None


def _per_field_joined(fields: list, tag: str, codes: str,
                      ind2: tuple = ()) -> list[str]:
    """marc._per_field_join (264's ind2 test when `ind2` is given)."""
    return [_join(vals) for f in fields
            if f["tag"] == tag and (not ind2 or f["ind2"] in ind2)
            and (vals := _values(f, codes))]


def _no_code_in(field: dict, codes: str) -> bool:
    """~exists(subfields, code ∈ codes) under three-valued logic: a null
    code makes the test null, which drops the field like a match."""
    subs = field.get("subfields")
    skip = frozenset(codes)
    return subs is not None and all(
        s["code"] is not None and s["code"] not in skip for s in subs)


def _first_values_with_skip(fields: list, tag: str, skip: str) -> list:
    """marc.extract_values_with_skip."""
    for f in fields:
        if f["tag"] == tag and _no_code_in(f, skip) and (a := _values(f, "a")):
            return a
    return []


def _isbn(fields: list) -> str | None:
    """marc.extract_isbns' first element: the first value of length
    ≥ 13, else the first value."""
    vals = _first_values_with_skip(fields, "020", "z")
    best = next((v for v in vals if v is not None and len(v) >= 13), None)
    return best if best is not None else next(iter(vals), None)


def _oclc(fields: list) -> str | None:
    """marc.extract_oclcs' first element. The prefix test is ASCII, so
    Python's lower() agrees with the JVM's here."""
    for f in fields:
        if (f["tag"] in ("035", "079") and _no_code_in(f, "z")
                and (a := _values(f, "a"))):
            v = _join(a)
            if v.lower().startswith(("(ocolc)", "oc")):
                return v
    return None


def _voyager_035a(fields: list) -> str | None:
    """The 035 $a that marc.extract_voyager_or_sierra_id selects, before
    marc.voyager_id."""
    for f in fields:
        if f["tag"] == "035" and (a := _values(f, "a")):
            v = a[0]
            if v is not None and (v.startswith("(CtY-L)b") or (
                    v.startswith("(CtY)") and v.endswith("-yaledb-Voyager"))):
                return v
    return None


def _system_dates(fields: list, tag: str) -> tuple:
    """marc.extract_system_dates: (create_raw, update_raw)."""
    for f in fields:
        if f["tag"] == tag and (created := _values(f, "1")):
            updated = next(iter(_values(f, "2")), None)
            return created[0], created[0] if updated is None else updated
    return None, None


def _fixed(control_fields: list, tag: str) -> str | None:
    """marc.first_fixed_field."""
    return next((c["data"] for c in control_fields if c["tag"] == tag), None)


def _bib_brief(bib: dict) -> dict:
    fields = bib["fields"]
    create, update = _system_dates(fields, "BIB")
    material = [v for v in (_first_joined(fields, "300", "b"),
                            _first_joined(fields, "340", "*"))
                if v is not None]
    authors = [s["value"] for f in fields
               if f["tag"] in ("100", "110", "111")
               for s in _iter(f.get("subfields"))
               if s["code"] is not None and s["code"] != "0"]
    issns = _first_values_with_skip(fields, "022", "yz")
    return {
        "mms_id": bib["mms_id"], "leader": bib["leader"],
        "title": _first_joined(fields, "245", "abfghknp"),
        "author": _join(authors),
        "publication_date": " ".join(
            _per_field_joined(fields, "260", "c")
            + _per_field_joined(fields, "264", "c", ind2=("1", "2", "3"))
            + _per_field_joined(fields, "260", "g")),
        "publication_place": " ".join(
            _per_field_joined(fields, "260", "ae")
            + _per_field_joined(fields, "264", "a")
            + _per_field_joined(fields, "752", "abcd")),
        "publisher": " ".join(_per_field_joined(fields, "260", "bf")
                              + _per_field_joined(fields, "264", "b")),
        "extent": _first_joined(fields, "300", "acef"),
        "material": " ".join(material),
        "isbn": _isbn(fields),
        "issn": next(iter(issns), None),
        "oclc_number": _oclc(fields),
        "voyager_035a": _voyager_035a(fields),
        "suppress_raw": _first_joined(fields, "BIB", "a"),
        "create_raw": create, "update_raw": update,
        "field008": _fixed(bib["control_fields"], "008"),
        "holding_ids": bib["holding_ids"],
        # the first $w of each 774; the pipeline keeps the bib-shaped ones
        "part_ids": [w[0] for f in fields
                     if f["tag"] == "774" and (w := _values(f, "w"))
                     and w[0] is not None],
    }


def _holding_brief(holding: dict) -> dict:
    fields = holding["fields"]
    create, update = _system_dates(fields, "HLD")
    # marc.extract_library_location: the first 852 with both $b and $c
    lib, loc = next(((b[0], c[0]) for f in fields if f["tag"] == "852"
                     and (b := _values(f, "b")) and (c := _values(f, "c"))),
                    (None, None))
    return {
        "holding_id": holding["holding_id"],
        "call_number": _first_joined(fields, "852", "khimt"),
        "voyager_035a": _voyager_035a(fields),
        "suppress_raw": _first_joined(fields, "HLD", "a"),
        "create_raw": create, "update_raw": update,
        "field008": _fixed(holding["control_fields"], "008"),
        "library_code": lib, "location_code": loc,
    }


def brief_row(split: dict) -> dict:
    """A SPLIT_ROW dict → BRIEF_ROW dict: the split bib and holdings
    become their raw brief strings; items and errors pass through."""
    if split["bib"] is None:
        return split
    return dict(split, bib=_bib_brief(split["bib"]),
                holdings=[_holding_brief(h) for h in split["holdings"]])


def file_split_rows(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """A drop's upsert files → BRIEF_ROW frame in one Arrow stage: each
    file is parsed, its records split and their briefs extracted in the
    task that reads it, so no nested record crosses to the JVM."""
    return map_files(
        publish_files(spark, path),
        lambda p, c: [brief_row(split_record(r))
                      for r in file_records_or_error(p, c)],
        BRIEF_ROW)


def split_outputs(rows: DataFrame) -> dict[str, DataFrame]:
    """SPLIT_ROW or BRIEF_ROW frame → {bibs, holdings, items, errors,
    records}, the outputs of publish_split.split_publish (holdings carry
    holding_id, mms_id, then the rest of the holding struct)."""
    rows = persist(rows)
    ok = rows.where(F.col("error").isNull())
    bibs = (ok.select(F.col("bib.*"), F.col("source_file"))
            .dropDuplicates(["mms_id"]))
    rest = [n for n in rows.schema["holdings"].dataType.elementType.names
            if n != "holding_id"]
    holdings = (ok.select(F.col("mms_id"),
                          F.explode("holdings").alias("h"))
                .select(F.col("h.holding_id").alias("holding_id"),
                        F.col("mms_id"),
                        *[F.col(f"h.{n}").alias(n) for n in rest])
                .dropDuplicates(["holding_id"]))
    items = (ok.select(F.explode("items").alias("it"))
             .select("it.*").dropDuplicates())
    errors = (rows.where(F.col("error").isNotNull())
              .select("mms_id", "source_file", "error"))
    return {"bibs": bibs, "holdings": holdings, "items": items,
            "errors": errors, "records": rows.select("mms_id", "source_file")}
