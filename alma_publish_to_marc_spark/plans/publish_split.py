"""Publish-record normalization: 1 nested record → bib + N holdings +
M items + error stream (OP-U3, OP-J12, OP-F18, OP-P11, OP-F8, OP-A2/A4).

The reference's pluggable callback dict (OP-U1) and record-processor
injection (OP-U2) dissolve into this API: the engine *returns* the four
entity DataFrames and sinks are ordinary .write / foreachBatch; a custom
per-record processor is a mapInPandas stage over the same nested schema.

The reference does this imperatively per record with pymarc callbacks
(`/root/reference/alma_publish_parser.py:91-189`). Here the entire split
is a *pure Column-expression program* over the nested arrays of
schemas.PUBLISH_RECORD — per-record work is embarrassingly parallel, no
shuffle until the final cross-file dedup (one exchange on mms_id /
holding_id), and the whole stage compiles into codegen. No Python runs
per record.

Semantics reproduced (citations into alma_publish_parser.py):
- 001 moved first (:95-99)
- control-field group extraction, stateful scan over 00x fields with
  009/002/003/second-005 triggers (:60-89) — expressed as one
  F.aggregate fold per record (OP-J12's zip input)
- holding synthesis from the i-th unique 852$8 ↔ i-th control group
  (:104-149): leader from single-009 groups, (id, leader) from dual-009
  groups, 035 provenance for Voyager/'yale_inst' ids, 005/007/008 copies
- field relocation: non-control fields carrying an institution $8 move
  to that holding with the $8 stripped (:154-162)
- ITM fields with institution $0 become typed item structs (:163-171,
  :251-275) — the JSON template becomes a real struct (OP-F8)
- error stream instead of exceptions (:108-110,124-133,187-189): any
  invariant violation routes the whole record to `errors` and emits
  nothing else for it, matching the reference's abort-on-exception
- cross-file dedup of bibs (mms_id) and holdings (holding_id)
  (:172-183) via dropDuplicates

Deviations (documented intent-preserving fixes, SURVEY.md §7):
- relocation to an 852-unknown holding id is an explicit error row (the
  reference raises KeyError mid-record with partial side effects)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

from ..functions import marc as M
from ..functions.scalars import is_institution_holding_id
from ..schemas import CONTROL_FIELD, DATA_FIELD
from ..tables import persist

_GROUPS_T = ArrayType(ArrayType(CONTROL_FIELD))
_CUR_T = ArrayType(CONTROL_FIELD)
_TAKEN_T = ArrayType(IntegerType())


def _empty(t) -> Column:
    return F.array().cast(t)


def control_field_groups(cf: Column) -> Column:
    """Stateful group scan (alma_publish_parser.py:60-89) as a fold.

    Returns struct(groups, taken): `groups` are the closed per-holding
    control groups in order; `taken` are the indices of every control
    field consumed while in a holding span (removed from the bib even if
    its group never closed — same as the reference's
    all_holding_control_fields removal)."""
    indexed = F.transform(cf, lambda f, i: F.struct(f.alias("f"), i.alias("i")))
    zero = F.struct(
        _empty(_GROUPS_T).alias("groups"),
        _empty(_CUR_T).alias("cur"),
        _empty(_TAKEN_T).alias("taken"),
        F.lit(False).alias("in_h"),
        F.lit(0).alias("cnt5"),
    )

    def step(acc: Column, x: Column) -> Column:
        f, i = x["f"], x["i"]
        is005 = f["tag"] == "005"
        cnt5n = acc["cnt5"] + F.when(is005, 1).otherwise(0)
        in_new = (acc["in_h"]
                  | (is005 & (cnt5n > 1))
                  | f["tag"].isin("009", "003", "002"))
        exitg = (f["tag"] == "009") & acc["in_h"]
        curn = F.when(in_new, F.concat(acc["cur"], F.array(f))).otherwise(acc["cur"])
        takenn = F.when(in_new, F.concat(acc["taken"], F.array(i))) \
                  .otherwise(acc["taken"])
        return F.struct(
            F.when(exitg, F.concat(acc["groups"], F.array(curn)))
             .otherwise(acc["groups"]).alias("groups"),
            F.when(exitg, _empty(_CUR_T)).otherwise(curn).alias("cur"),
            takenn.alias("taken"),
            F.when(exitg, F.lit(False)).otherwise(in_new).alias("in_h"),
            cnt5n.alias("cnt5"),
        )

    out = F.aggregate(indexed, zero, step)
    return F.struct(out["groups"].alias("groups"), out["taken"].alias("taken"))


def _unique_852s(fields: Column) -> Column:
    """First-occurrence-unique (holding_id, 852-field) pairs in document
    order — the zip side of OP-J12 (alma_publish_parser.py:104-121)."""
    flds852 = F.filter(
        fields,
        lambda f: (f["tag"] == "852") & M.holding_id_of(f).isNotNull())
    elem_t = StructType([StructField("hid", StringType()),
                         StructField("f", DATA_FIELD)])
    return F.aggregate(
        flds852,
        F.array().cast(ArrayType(elem_t)),
        lambda acc, f: F.when(
            F.exists(acc, lambda y: y["hid"] == M.holding_id_of(f)), acc
        ).otherwise(F.concat(acc, F.array(F.struct(
            M.holding_id_of(f).alias("hid"), f.alias("f"))))),
    )


def _provenance_035s(f001: Column) -> Column:
    """035 provenance fields for non-Alma original holding ids
    (alma_publish_parser.py:135-141)."""
    is_alma = is_institution_holding_id(f001)

    def f035(value: Column) -> Column:
        return F.struct(
            F.lit("035").alias("tag"), F.lit(" ").alias("ind1"),
            F.lit(" ").alias("ind2"),
            F.array(F.struct(F.lit("a").alias("code"),
                             value.alias("value"))).alias("subfields"))

    voyager = F.when(
        f001.isNotNull() & ~is_alma & f001.rlike(r"^\d+$") & (F.length(f001) < 9),
        f035(F.concat(F.lit("(CtY)"), f001, F.lit("-yaledb-Voyager"))))
    other = F.when(
        f001.isNotNull() & ~is_alma & f001.contains("yale_inst"),
        f035(F.concat(F.lit("(CtY)"),
                      F.regexp_replace(f001, "yale_inst", ""),
                      F.lit("-yaledb-Other"))))
    arr = F.array(voyager, other)
    return F.filter(arr, lambda x: x.isNotNull())


def _synthesize_holding(mms_id: Column, pair: Column, group: Column,
                        relocated: Column) -> Column:
    """OP-F18 holding-record synthesis for one (852, control-group) pair."""
    hid = pair["hid"]
    lid = F.filter(group, lambda c: c["tag"] == "009")
    n009 = F.size(lid)
    f001 = F.when(n009 == 2, F.try_element_at(lid, F.lit(1))["data"])
    leader = F.when(n009 == 1, F.try_element_at(lid, F.lit(1))["data"]) \
              .when(n009 == 2, F.try_element_at(lid, F.lit(2))["data"])

    def cfield(tag: str, data: Column) -> Column:
        return F.struct(F.lit(tag).alias("tag"), data.alias("data"))

    h005 = F.slice(F.filter(group, lambda c: c["tag"] == "005"), 1, 1)
    h007 = F.transform(F.filter(group, lambda c: c["tag"] == "002"),
                       lambda c: cfield("007", c["data"]))
    h008 = F.transform(F.filter(group, lambda c: c["tag"] == "003"),
                       lambda c: cfield("008", c["data"]))
    ctrl = F.concat(
        F.array(cfield("001", hid), cfield("004", mms_id)), h005, h007, h008)

    # relocated data fields for this holding, institution-$8 stripped
    mine = F.transform(
        F.filter(relocated, lambda f: M.holding_id_of(f) == hid),
        lambda f: F.struct(
            f["tag"].alias("tag"), f["ind1"].alias("ind1"),
            f["ind2"].alias("ind2"),
            F.filter(
                f["subfields"],
                lambda s: ~((s["code"] == "8")
                            & is_institution_holding_id(s["value"]))
            ).alias("subfields")),
    )
    err = (F.when((n009 != 1) & (n009 != 2),
                  F.lit("holding 009 arity not 1 or 2"))
           .when((n009 == 2) & leader.rlike(r"^\d+$") & ~f001.rlike(r"^\d+$"),
                 F.lit("leader/001 digit sanity check failed")))
    return F.struct(
        hid.alias("holding_id"),
        leader.alias("leader"),
        ctrl.alias("control_fields"),
        F.concat(_provenance_035s(f001), mine).alias("fields"),
        err.alias("err"),
    )


def _item_struct(mms_id: Column, f: Column) -> Column:
    """OP-F8: typed item struct from an ITM field's coded subfields
    (template item-template.json; splice alma_publish_parser.py:251-275).
    First occurrence of a code wins, like the template's first replace."""
    def sub(code: str) -> Column:
        return F.try_element_at(
            F.filter(f["subfields"], lambda s: s["code"] == F.lit(code)),
            F.lit(1))["value"]

    perm_loc, cur_loc = sub("s"), sub("t")
    perm_lib, cur_lib = sub("h"), sub("i")
    in_temp = ~(perm_loc.eqNullSafe(cur_loc) & perm_lib.eqNullSafe(cur_lib))
    return F.struct(
        mms_id.alias("mms_id"),
        M.holding_id_of(f, "0").alias("holding_id"),
        sub("2").alias("pid"), sub("1").alias("barcode"),
        sub("c").alias("policy"), sub("g").alias("description"),
        perm_lib.alias("library"), perm_loc.alias("location"),
        sub("3").alias("pieces"), sub("w").alias("creation_date"),
        sub("r").alias("modification_date"), sub("z").alias("inventory_date"),
        sub("m").alias("inventory_number"), sub("x").alias("base_status"),
        sub("4").alias("physical_material_type"),
        sub("e").alias("enumeration_a"), sub("f").alias("chronology_i"),
        sub("6").alias("process_type"), sub("b").alias("copy_id"),
        cur_lib.alias("temp_library"), cur_loc.alias("temp_location"),
        in_temp.alias("in_temp_location"),
        sub("o").alias("call_number"), sub("j").alias("call_number_type"),
    )


def split_publish(records: DataFrame) -> dict[str, DataFrame]:
    """records (schemas.PUBLISH_RECORD) → {bibs, holdings, items, errors,
    records}; `records` is one (mms_id, source_file) row per input record,
    read from the split's persisted rows so counting it re-parses nothing.

    Dispatches to the Arrow fast path (publish_split_fast) — same
    semantics, ~50 µs/record vs ~100 ms/record for the interpreted
    HOF expression program below. The expression implementation
    (`split_publish_catalyst`) remains the executable specification and
    is pinned equivalent in tests/test_publish_split_equivalence.py."""
    from .publish_split_fast import split_outputs, split_rows

    return split_outputs(split_rows(records))


def split_publish_catalyst(records: DataFrame) -> dict[str, DataFrame]:
    """Pure Column-expression implementation (the semantic spec)."""
    mms = F.col("mms_id")

    staged = (
        records
        # 001 first (:95-99)
        .withColumn("control_fields", M.move_tag_first(F.col("control_fields")))
        .withColumn("_grp", control_field_groups(F.col("control_fields")))
        .withColumn("_bib_ctrl", F.filter(
            F.col("control_fields"),
            lambda f, i: ~F.array_contains(F.col("_grp.taken"), i)))
        .withColumn("_u852", _unique_852s(F.col("fields")))
        .withColumn("_reloc", F.filter(
            F.col("fields"),
            lambda f: (f["tag"] != "ITM") & M.holding_id_of(f).isNotNull()))
        .withColumn("_itm", F.filter(
            F.col("fields"),
            lambda f: (f["tag"] == "ITM") & M.holding_id_of(f, "0").isNotNull()))
        .withColumn("_bib_fields", F.filter(
            F.col("fields"),
            lambda f: M.holding_id_of(f).isNull()
            & ~((f["tag"] == "ITM") & M.holding_id_of(f, "0").isNotNull())))
        .withColumn("_holdings", F.zip_with(
            F.col("_u852"), F.col("_grp.groups"),
            lambda pair, grp: _synthesize_holding(mms, pair, grp, F.col("_reloc"))))
        .withColumn("_items", F.transform(
            F.col("_itm"), lambda f: _item_struct(mms, f)))
        .withColumn("_known_hid_err", F.exists(
            F.col("_reloc"),
            lambda f: ~F.exists(F.col("_u852"),
                                lambda u: u["hid"] == M.holding_id_of(f))))
        .withColumn("error", F.coalesce(
            F.when(mms.isNull(), F.lit("missing 001/mms_id")),
            F.when(F.size(F.col("_u852")) != F.size(F.col("_grp.groups")),
                   F.lit("holding count does not match control field groups")),
            F.try_element_at(F.filter(
                F.transform(F.col("_holdings"), lambda h: h["err"]),
                lambda e: e.isNotNull()), F.lit(1)),
            F.when(F.col("_known_hid_err"),
                   F.lit("field relocated to unknown holding id")),
        ))
    )
    # The four output branches (bibs/holdings/items/errors) all read the
    # expression-heavy staged columns; HOF expressions are interpreted
    # (CodegenFallback), so recomputing them per branch is the dominant
    # cost — persist once, serve four.
    staged = persist(staged)
    ok = staged.where(F.col("error").isNull())

    bibs = (ok.select(
                mms, F.col("leader"),
                F.col("_bib_ctrl").alias("control_fields"),
                F.col("_bib_fields").alias("fields"),
                F.transform(F.col("_u852"), lambda u: u["hid"])
                 .alias("holding_ids"),
                F.col("source_file"))
            .dropDuplicates(["mms_id"]))

    holdings = (ok.select(mms, F.explode(F.col("_holdings")).alias("h"))
                .select(
                    F.col("h.holding_id").alias("holding_id"), mms,
                    F.col("h.leader").alias("leader"),
                    F.col("h.control_fields").alias("control_fields"),
                    F.col("h.fields").alias("fields"))
                .dropDuplicates(["holding_id"]))

    # The reference re-emits items for every copy of a duplicated record
    # (process_item is not dedup-gated, parser :184-186) and relies on the
    # downstream keyed upsert to absorb them; in batch output we drop
    # exact-duplicate rows here instead. Differing versions of one pid
    # are both kept — last-writer-wins happens in the merge (OP-W3).
    items = (ok.select(F.explode(F.col("_items")).alias("it"))
             .select("it.*").dropDuplicates())

    errors = (staged.where(F.col("error").isNotNull())
              .select(mms, F.col("source_file"), F.col("error")))

    return {"bibs": bibs, "holdings": holdings, "items": items,
            "errors": errors, "records": staged.select(mms, "source_file")}
