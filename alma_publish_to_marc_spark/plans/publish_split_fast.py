"""Arrow-batched implementation of the publish split — the physical
fast path behind plans.publish_split.

The Catalyst-expression split (publish_split.py) is the semantic
specification: pure Column expressions, fully declarative. But Spark
evaluates higher-order functions interpreted (CodegenFallback), and the
split's per-record program is deep enough that expression interpretation
dominates (~100 ms core-time per record at sf0.1 — slower per core than
the reference's imperative loop). This module runs the SAME semantics as
plain Python over Arrow batches inside one mapInPandas pass: ~50 µs per
record, no shuffle, embarrassingly parallel — the strategy SURVEY.md §7
("hard parts" #1) prescribes.

tests/test_publish_split_equivalence.py pins the two implementations to
byte-identical outputs on the fixture corpus; the DuckDB oracles for the
publish_split_* driver queries check this path at sf scale.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, StringType, StructField, StructType)

from ..functions.scalars import INSTITUTION_SUFFIXES
from ..schemas import (CONTROL_FIELD, DATA_FIELD, ITEM_STRUCT, PUBLISH_RECORD)
from ..tables import persist

HOLDING_PREFIX = "22"

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
SPLIT_ROW = StructType([
    StructField("mms_id", StringType()),
    StructField("source_file", StringType()),
    StructField("bib", _BIB_T),
    StructField("holdings", ArrayType(_HOLDING_T)),
    StructField("items", ArrayType(ITEM_STRUCT)),
    StructField("error", StringType()),
])


def _lst(v):
    """None-safe sequence view (nested values arrive as numpy arrays,
    whose truthiness is ambiguous — no `v or []`)."""
    return () if v is None else v


def _is_inst_id(v: str | None, prefix: str = HOLDING_PREFIX) -> bool:
    return bool(v) and v.startswith(prefix) and v.endswith(INSTITUTION_SUFFIXES)


def _hid_of(field: dict, code: str = "8") -> str | None:
    for s in _lst(field.get("subfields")):
        if s["code"] == code and _is_inst_id(s["value"]):
            return s["value"]
    return None


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
    for s in _lst(field.get("subfields")):
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

    cf = list(_lst(rec.get("control_fields")))
    cf = ([f for f in cf if f["tag"] == "001"]
          + [f for f in cf if f["tag"] != "001"])        # 001 first
    groups, taken = _control_groups(cf)
    bib_ctrl = [f for i, f in enumerate(cf) if i not in taken]

    fields = list(_lst(rec.get("fields")))
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
        if f001 and not _is_inst_id(f001):
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
                    "subfields": [s for s in f["subfields"]
                                  if not (s["code"] == "8"
                                          and _is_inst_id(s["value"]))]})
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

    # AQE coalesces by byte estimate and routinely lands nested-record
    # frames on ONE partition, serializing this Python stage (measured
    # 60 s → 3 s at sf0.1 after spreading). Fan back out to the session
    # parallelism when the upstream came in narrower.
    try:
        target = records.sparkSession.sparkContext.defaultParallelism
        if records.rdd.getNumPartitions() < target:
            records = records.repartition(target)
    except Exception:
        pass  # streaming frames have no .rdd; batch sizing applies there

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in SPLIT_ROW]
        for pdf in batches:
            rows = [split_record(rec) for rec in pdf.to_dict("records")]
            yield pd.DataFrame(rows, columns=cols)

    return records.mapInPandas(run, SPLIT_ROW)


def split_publish_fast(records: DataFrame) -> dict[str, DataFrame]:
    """Drop-in equivalent of publish_split.split_publish."""
    rows = persist(split_rows(records))
    ok = rows.where(F.col("error").isNull())
    bibs = (ok.select(F.col("bib.*"), F.col("source_file"))
            .dropDuplicates(["mms_id"]))
    holdings = (ok.select(F.col("mms_id"),
                          F.explode("holdings").alias("h"))
                .select(F.col("h.holding_id").alias("holding_id"),
                        F.col("mms_id"),
                        F.col("h.leader").alias("leader"),
                        F.col("h.control_fields").alias("control_fields"),
                        F.col("h.fields").alias("fields"))
                .dropDuplicates(["holding_id"]))
    items = (ok.select(F.explode("items").alias("it"))
             .select("it.*").dropDuplicates())
    errors = (rows.where(F.col("error").isNotNull())
              .select("mms_id", "source_file", "error"))
    return {"bibs": bibs, "holdings": holdings, "items": items,
            "errors": errors}
