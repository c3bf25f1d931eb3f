"""MARC field-extraction expression library (SURVEY.md §2.2/2.8: OP-P1,
OP-P2 multi-tag projection union, OP-P3, OP-P4, OP-P7 skip-subfield
filter, OP-P8, OP-SET4 suffix-tuple membership, OP-F17; the scalar
extractor surface OP-U4) reproducing the brief-extraction rules of
/root/reference/marc/helper.py.

All functions operate on the nested arrays of schemas.PUBLISH_RECORD /
HOLDING_RECORD — pure Column expressions over array HOFs, no UDFs. Spark
interprets the HOFs row by row (CodegenFallback), so the whole-stage
codegen around them does not reach inside. "First field" semantics use
element_at(filter(...), 1): Spark arrays preserve document order, which
is what makes these deterministic.

This library is the specification of the brief extraction. The publish
run extracts the same raw strings in Python, in the task that parses
each file (plans.publish_split_fast.brief_row), and applies only the
scalar finishing (punctuation trim, date parse, `voyager_id`) on the
JVM; tests/test_publish_split_equivalence.py pins the two together.
The registry queries run this library directly.

Rule citations name the reference function whose documented behavior each
expression reproduces (e.g. extract_title ⇐ marc/helper.py:21-22).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .scalars import is_institution_holding_id, trim_punctuation_bounded


# --- core accessors --------------------------------------------------------
def fields_with_tag(fields: Column, *tags: str) -> Column:
    tag_arr = F.array(*[F.lit(t) for t in tags])
    return F.filter(fields, lambda f: F.array_contains(tag_arr, f["tag"]))


def subfield_values(field: Column, codes: str) -> Column:
    """Values of subfields whose code ∈ codes ('*' = all), field order."""
    if codes == "*":
        return F.transform(field["subfields"], lambda s: s["value"])
    code_arr = F.array(*[F.lit(c) for c in codes])
    return F.transform(
        F.filter(field["subfields"], lambda s: F.array_contains(code_arr, s["code"])),
        lambda s: s["value"],
    )


def subfields_as_string(fields: Column, tag: str, codes: str,
                        sep: str = " ") -> Column:
    """OP-P1 (subfields_as_string, marc/helper.py:12-18): first field with
    the tag whose matching subfields are non-empty → joined values."""
    candidates = F.filter(
        fields_with_tag(fields, tag),
        lambda f: F.size(subfield_values(f, codes)) > 0,
    )
    first = F.try_element_at(candidates, F.lit(1))
    return F.when(first.isNotNull(),
                  F.array_join(subfield_values(first, codes), sep))


def first_fixed_field(control_fields: Column, tag: str) -> Column:
    """OP-P3 (extract_fixed_field, marc/helper.py:86-90)."""
    return F.try_element_at(
        F.filter(control_fields, lambda c: c["tag"] == F.lit(tag)), F.lit(1))["data"]


def institution_subfield(field: Column, code: str = "8") -> Column:
    """OP-P4 (get_holding_id_subfield, alma_publish_parser.py:191-195):
    first subfield with the code whose value looks like an institution
    holding id (starts '22', ends with a known suffix)."""
    return F.try_element_at(
        F.filter(
            field["subfields"],
            lambda s: (s["code"] == F.lit(code))
            & is_institution_holding_id(s["value"]),
        ), F.lit(1))


def holding_id_of(field: Column, code: str = "8") -> Column:
    return institution_subfield(field, code)["value"]


# --- bib-brief extraction rules -------------------------------------------
def extract_title(fields: Column) -> Column:
    """⇐ extract_title (245abfghknp, marc/helper.py:21-22)."""
    return trim_punctuation_bounded(subfields_as_string(fields, "245", "abfghknp"))


def extract_author(fields: Column) -> Column:
    """⇐ extract_author (100/110/111 all subfields except $0,
    marc/helper.py:25-30)."""
    vals = F.flatten(F.transform(
        fields_with_tag(fields, "100", "110", "111"),
        lambda f: F.transform(
            F.filter(f["subfields"], lambda s: s["code"] != "0"),
            lambda s: s["value"]),
    ))
    return trim_punctuation_bounded(F.array_join(vals, " "))


def _per_field_join(fields: Column, tag: str, codes: str) -> Column:
    """Per-field ' '-joined code values, one entry per field that has any."""
    return F.transform(
        F.filter(fields_with_tag(fields, tag),
                 lambda f: F.size(subfield_values(f, codes)) > 0),
        lambda f: F.array_join(subfield_values(f, codes), " "),
    )


def extract_publication_date(fields: Column) -> Column:
    """⇐ extract_publication_date (260c, 264 ind2∈{1,2,3} c, 260g,
    marc/helper.py:33-44). The reference's `' 3'` literal is a typo for
    '3' (comment documents 264|*3|c); we implement the evident intent."""
    f264 = F.transform(
        F.filter(fields_with_tag(fields, "264"),
                 lambda f: f["ind2"].isin("1", "2", "3")
                 & (F.size(subfield_values(f, "c")) > 0)),
        lambda f: F.array_join(subfield_values(f, "c"), " "),
    )
    vals = F.concat(_per_field_join(fields, "260", "c"), f264,
                    _per_field_join(fields, "260", "g"))
    return F.substring(trim_punctuation_bounded(F.array_join(vals, " ")), 1, 254)


def extract_publisher(fields: Column) -> Column:
    """⇐ extract_publisher (260bf, 264b, marc/helper.py:47-56)."""
    vals = F.concat(_per_field_join(fields, "260", "bf"),
                    _per_field_join(fields, "264", "b"))
    return trim_punctuation_bounded(F.array_join(vals, " "))


def extract_publication_place(fields: Column) -> Column:
    """⇐ extract_publication_place (260ae, 264a, 752abcd,
    marc/helper.py:59-69)."""
    vals = F.concat(_per_field_join(fields, "260", "ae"),
                    _per_field_join(fields, "264", "a"),
                    _per_field_join(fields, "752", "abcd"))
    return trim_punctuation_bounded(F.array_join(vals, " "))


def extract_extent(fields: Column) -> Column:
    """⇐ extract_extent (300acef, marc/helper.py:72-73)."""
    return subfields_as_string(fields, "300", "acef")


def extract_material(fields: Column) -> Column:
    """⇐ extract_material (300b + 340*, marc/helper.py:76-80; returns ''
    when neither present, matching the reference's ' '.join([]))."""
    parts = F.array(subfields_as_string(fields, "300", "b"),
                    subfields_as_string(fields, "340", "*"))
    return F.array_join(F.filter(parts, lambda v: v.isNotNull()), " ")


def extract_call_number(fields: Column) -> Column:
    """⇐ extract_call_number (852khimt, marc/helper.py:83-84)."""
    return trim_punctuation_bounded(subfields_as_string(fields, "852", "khimt"))


def extract_voyager_or_sierra_id(fields: Column) -> Column:
    """⇐ extract_voyager_or_sierra_id (marc/helper.py:93-102): scan ALL
    035 fields in order; first $a with the (CtY-L)b… or
    (CtY)…-yaledb-Voyager shape wins."""
    first_as = F.transform(
        F.filter(fields_with_tag(fields, "035"),
                 lambda f: F.size(subfield_values(f, "a")) > 0),
        lambda f: F.try_element_at(subfield_values(f, "a"), F.lit(1)),
    )
    a = F.try_element_at(
        F.filter(first_as,
                 lambda v: v.startswith("(CtY-L)b")
                 | (v.startswith("(CtY)") & v.endswith("-yaledb-Voyager"))),
        F.lit(1))
    return voyager_id(a)


def voyager_id(a: Column) -> Column:
    """The id carried by a selected voyager/sierra 035 $a."""
    return (
        # '(CtY-L)b123x' → 'b123' (after the prefix, minus trailing char)
        F.when(a.startswith("(CtY-L)b"),
               a.substr(F.lit(8), F.length(a) - 8))
        .when(a.isNotNull(),
              F.regexp_replace(F.regexp_replace(a, r"^\(CtY\)", ""),
                               "-yaledb-Voyager$", ""))
    )


def extract_library_location(fields: Column) -> Column:
    """⇐ extract_library_and_location_code (marc/helper.py:106-113): the
    FIRST 852 carrying BOTH $b and $c supplies the pair (first value of
    each); fields with only one of the two are skipped, and codes are
    never mixed across fields."""
    both = F.filter(
        fields_with_tag(fields, "852"),
        lambda f: (F.size(subfield_values(f, "b")) > 0)
        & (F.size(subfield_values(f, "c")) > 0))
    first = F.try_element_at(both, F.lit(1))
    return F.struct(
        F.try_element_at(subfield_values(first, "b"), F.lit(1))
         .alias("library_code"),
        F.try_element_at(subfield_values(first, "c"), F.lit(1))
         .alias("location_code"))


def _fields_without_skip(fields: Column, tag: str, skip_codes: str) -> Column:
    skip_arr = F.array(*[F.lit(c) for c in skip_codes])
    return F.filter(
        fields_with_tag(fields, tag),
        lambda f: ~F.exists(f["subfields"],
                            lambda s: F.array_contains(skip_arr, s["code"])),
    )


def extract_values_with_skip(fields: Column, tag: str, skip_codes: str) -> Column:
    """OP-P7 (extract_values, marc/helper.py:145-151): first field of the
    tag with no skip-coded subfield and a $a → its $a values (array)."""
    ok = F.filter(_fields_without_skip(fields, tag, skip_codes),
                  lambda f: F.size(subfield_values(f, "a")) > 0)
    first = F.try_element_at(ok, F.lit(1))
    return F.when(first.isNotNull(), subfield_values(first, "a"))


def extract_isbns(fields: Column) -> Column:
    """⇐ extract_isbns (020 skip $z, best=first len≥13 moved to front,
    marc/helper.py:116-127) — OP-S2 priority reorder."""
    vals = extract_values_with_skip(fields, "020", "z")
    best = F.try_element_at(F.filter(vals, lambda v: F.length(v) >= 13), F.lit(1))
    # Pop only the FIRST occurrence of `best` (reference uses values.index →
    # .pop); duplicates of the best ISBN must survive the reorder.
    pos = F.array_position(vals, best)
    reordered = F.concat(
        F.array(best),
        F.slice(vals, F.lit(1), pos - 1),
        F.slice(vals, pos + 1, F.size(vals) - pos),
    )
    return F.when(vals.isNull(), F.lit(None).cast("array<string>")) \
            .when(best.isNull(), vals).otherwise(reordered)


def extract_issns(fields: Column) -> Column:
    """⇐ extract_issns (022 skip $y$z, marc/helper.py:129-130)."""
    return extract_values_with_skip(fields, "022", "yz")


def extract_oclcs(fields: Column) -> Column:
    """⇐ extract_oclcs (035/079 without $z; ' '-joined $a starting
    (ocolc)/oc case-insensitively, marc/helper.py:132-142)."""
    cands = F.transform(
        F.filter(
            F.filter(fields_with_tag(fields, "035", "079"),
                     lambda f: ~F.exists(f["subfields"],
                                         lambda s: s["code"] == "z")),
            lambda f: F.size(subfield_values(f, "a")) > 0),
        lambda f: F.array_join(subfield_values(f, "a"), " "),
    )
    return F.filter(
        cands,
        lambda v: F.lower(v).startswith("(ocolc)") | F.lower(v).startswith("oc"))


def extract_system_dates(fields: Column, tag: str) -> Column:
    """⇐ extract_system_dates (marc/helper.py:150-155): first field of the
    tag with $1 (create) and $2-else-$1 (update); returns struct of the
    raw strings (parsing is the caller's concern). The reference scans
    fields of the tag until one has a $1 — mirror that by filtering to
    fields carrying a $1 before taking the first."""
    with_create = F.filter(
        fields_with_tag(fields, tag),
        lambda f: F.size(subfield_values(f, "1")) > 0,
    )
    first = F.try_element_at(with_create, F.lit(1))
    c = F.try_element_at(subfield_values(first, "1"), F.lit(1))
    d = F.coalesce(F.try_element_at(subfield_values(first, "2"), F.lit(1)), c)
    return F.struct(c.alias("create_raw"), d.alias("update_raw"))


def remove_fields(fields: Column, *tags: str) -> Column:
    """OP-F17 field surgery (remove AVE/AVD/BIB…,
    alma_publish_to_database.py:174,177)."""
    tag_arr = F.array(*[F.lit(t) for t in tags])
    return F.filter(fields, lambda f: ~F.array_contains(tag_arr, f["tag"]))


def move_tag_first(control_fields: Column, tag: str = "001") -> Column:
    """OP-F17: 001 moved to front (alma_publish_parser.py:95-99)."""
    return F.concat(
        F.filter(control_fields, lambda c: c["tag"] == F.lit(tag)),
        F.filter(control_fields, lambda c: c["tag"] != F.lit(tag)),
    )
