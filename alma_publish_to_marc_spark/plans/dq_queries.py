"""Data-quality constraint audit over the warehouse star schema — the
dbt-test / Deequ-style gate a 100 TB ingest runs before publishing a
snapshot: primary-key uniqueness, foreign-key integrity, domain and
not-null checks, and a cross-table ordering invariant, all emitted as
one (check_name, n_rows, n_violations, passed) row per rule.

Reference semantics anchor: the reference gates publishes on record
counts and suppress/size assertions (alma_publish_parser.py run
report, OP-A4 group-size assertion); this is that idea generalized to
a declarative rule table over every warehouse table.

Scale: per-table rules are FUSED into one aggregate per table (one
scan each, map-side combinable counts — adding a rule to a table adds
a column, not a pass); FK rules are keyed anti-join counts (the dim
side of orders→customer is fact-sized, so the join stays shuffle-
keyed; at 100 TB AQE picks broadcast only when the parent truly
fits). The result is a ~10-row frame — the audit cost is the scans,
not the checks.

The audit legitimately FAILS two rules on the driver's generator:
(l_orderkey, l_linenumber) collides (~24% of rows at sf0.01) and
ship dates are uncorrelated with order dates (~49% ship "before"
ordering) — findings, not bugs: an audit reports what holds, and
these two prove it detects real violations rather than rubber-
stamping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import EVENT_TYPES, load, persist


def _stack(agg: DataFrame, table: str,
           checks: list[tuple[str, str]]) -> DataFrame:
    """Explode one fused aggregate row into one row per check."""
    pairs = F.array(*[
        F.struct(F.lit(name).alias("check_name"),
                 F.col(viol_col).cast("long").alias("n_violations"))
        for name, viol_col in checks])
    return (agg.select(F.col("n_rows").cast("long").alias("n_rows"),
                       F.explode(pairs).alias("c"))
            .select(F.lit(table).alias("table_name"),
                    F.col("c.check_name").alias("check_name"),
                    "n_rows", F.col("c.n_violations").alias("n_violations"),
                    (F.col("c.n_violations") == 0).cast("int")
                    .alias("passed")))


def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer")
    events = load(spark, sf_dir, "events")
    documents = load(spark, sf_dir, "documents")

    # FK violation counts ride into their table's fused-aggregate branch
    # below via a 1-row broadcast cross join: the FK check's n_rows IS
    # the table aggregate's n_rows, so emitting it from the same branch
    # removes a separate count(*) scan + aggregate job + union branch
    # per FK rule (guide §2.4 — same output rows, two fewer passes).
    o_orphans = (orders.select("o_custkey")
                 .join(customer.select("c_custkey"),
                       F.col("o_custkey") == F.col("c_custkey"), "left_anti")
                 .agg(F.count(F.lit(1)).alias("fk_orph")))
    o_agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_dup"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("price_np"),
        F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias("date_null"))
    o_rows = _stack(o_agg.crossJoin(F.broadcast(o_orphans)), "orders", [
        ("pk_unique_o_orderkey", "pk_dup"),
        ("o_totalprice_positive", "price_np"),
        ("o_orderdate_not_null", "date_null"),
        ("fk_o_custkey_in_customer", "fk_orph")])

    l_orphans = (lineitem.select("l_orderkey")
                 .join(orders.select("o_orderkey"),
                       F.col("l_orderkey") == F.col("o_orderkey"),
                       "left_anti")
                 .agg(F.count(F.lit(1)).alias("fk_orph")))
    l_agg = lineitem.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1))
         - F.countDistinct("l_orderkey", "l_linenumber")).alias("pk_dup"),
        F.count(F.when((F.col("l_discount") < 0)
                       | (F.col("l_discount") > 1), 1)).alias("disc_dom"),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("qty_np"))
    l_rows = _stack(l_agg.crossJoin(F.broadcast(l_orphans)), "lineitem", [
        ("pk_unique_l_orderkey_linenumber", "pk_dup"),
        ("l_discount_in_unit_interval", "disc_dom"),
        ("l_quantity_positive", "qty_np"),
        ("fk_l_orderkey_in_orders", "fk_orph")])

    e_agg = events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("ts").isNull(), 1)).alias("ts_null"),
        F.count(F.when(~F.col("event_type").isin(*EVENT_TYPES), 1))
         .alias("type_dom"))
    e_rows = _stack(e_agg, "events", [
        ("ts_not_null", "ts_null"),
        ("event_type_in_domain", "type_dom")])

    d_agg = documents.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("text").isNull()
                       | (F.col("n_chars") <= 0), 1)).alias("empty"),
        F.count(F.when(F.col("n_chars") != F.length("text"), 1))
         .alias("nchars_drift"))
    d_rows = _stack(d_agg, "documents", [
        ("text_nonempty", "empty"),
        ("n_chars_matches_text", "nchars_drift")])

    # cross-table ordering invariant: a lineitem never ships before its
    # order is placed
    ship = (lineitem.select("l_orderkey", "l_shipdate")
            .join(orders.select("o_orderkey", "o_orderdate"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count(F.when(F.col("l_shipdate")
                                < F.col("o_orderdate"), 1)).alias("v")))
    inv = ship.select(
        F.lit("lineitem").alias("table_name"),
        F.lit("ships_after_order_date").alias("check_name"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("v").cast("long").alias("n_violations"),
        (F.col("v") == 0).cast("int").alias("passed"))

    return (o_rows.unionByName(l_rows).unionByName(e_rows)
            .unionByName(d_rows).unionByName(inv))


def _dq_sql() -> str:
    types = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    return f"""
WITH o AS (
    SELECT count(*) AS n_rows,
           count(*) - count(DISTINCT o_orderkey) AS pk_dup,
           count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS price_np,
           count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS date_null
    FROM orders
),
l AS (
    SELECT count(*) AS n_rows,
           count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS pk_dup,
           count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END)
               AS disc_dom,
           count(CASE WHEN l_quantity <= 0 THEN 1 END) AS qty_np
    FROM lineitem
),
e AS (
    SELECT count(*) AS n_rows,
           count(CASE WHEN ts IS NULL THEN 1 END) AS ts_null,
           count(CASE WHEN event_type NOT IN ({types}) THEN 1 END)
               AS type_dom
    FROM events
),
d AS (
    SELECT count(*) AS n_rows,
           count(CASE WHEN text IS NULL OR n_chars <= 0 THEN 1 END)
               AS empty,
           count(CASE WHEN n_chars <> length(text) THEN 1 END)
               AS nchars_drift
    FROM documents
),
fk1 AS (
    SELECT (SELECT count(*) FROM orders) AS n_rows,
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS v
),
fk2 AS (
    SELECT (SELECT count(*) FROM lineitem) AS n_rows,
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS v
),
inv AS (
    SELECT count(*) AS n_rows,
           count(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 END) AS v
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT * FROM (
    SELECT 'orders' AS table_name, 'pk_unique_o_orderkey' AS check_name,
           n_rows, pk_dup AS n_violations,
           CAST(pk_dup = 0 AS INT) AS passed FROM o
    UNION ALL
    SELECT 'orders', 'o_totalprice_positive', n_rows, price_np,
           CAST(price_np = 0 AS INT) FROM o
    UNION ALL
    SELECT 'orders', 'o_orderdate_not_null', n_rows, date_null,
           CAST(date_null = 0 AS INT) FROM o
    UNION ALL
    SELECT 'lineitem', 'pk_unique_l_orderkey_linenumber', n_rows, pk_dup,
           CAST(pk_dup = 0 AS INT) FROM l
    UNION ALL
    SELECT 'lineitem', 'l_discount_in_unit_interval', n_rows, disc_dom,
           CAST(disc_dom = 0 AS INT) FROM l
    UNION ALL
    SELECT 'lineitem', 'l_quantity_positive', n_rows, qty_np,
           CAST(qty_np = 0 AS INT) FROM l
    UNION ALL
    SELECT 'events', 'ts_not_null', n_rows, ts_null,
           CAST(ts_null = 0 AS INT) FROM e
    UNION ALL
    SELECT 'events', 'event_type_in_domain', n_rows, type_dom,
           CAST(type_dom = 0 AS INT) FROM e
    UNION ALL
    SELECT 'documents', 'text_nonempty', n_rows, empty,
           CAST(empty = 0 AS INT) FROM d
    UNION ALL
    SELECT 'documents', 'n_chars_matches_text', n_rows, nchars_drift,
           CAST(nchars_drift = 0 AS INT) FROM d
    UNION ALL
    SELECT 'orders', 'fk_o_custkey_in_customer', n_rows, v,
           CAST(v = 0 AS INT) FROM fk1
    UNION ALL
    SELECT 'lineitem', 'fk_l_orderkey_in_orders', n_rows, v,
           CAST(v = 0 AS INT) FROM fk2
    UNION ALL
    SELECT 'lineitem', 'ships_after_order_date', n_rows, v,
           CAST(v = 0 AS INT) FROM inv
)
"""


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version reconciliation: diff two corpus snapshots into
    per-source added/removed/changed/unchanged counts — the audit a
    versioned training-data lake runs between releases (and the same
    shape as the reference's full-vs-incremental publish reconcile,
    alma_publish_parser.py:280-308).

    The "new" snapshot is derived deterministically from the stored
    one (drop doc_id%11, revise text of doc_id%7, append copies of
    doc_id%13 at a max(doc_id)+1 offset — the repo's id-namespace
    rule), so both engines diff identical inputs.

    Scale: ONE full-outer join keyed on doc_id; content equality
    compares md5 hashes computed scan-side, so document text never
    crosses the shuffle — the whole diff ships 40-byte rows however
    large the documents are. Counts are map-side combinable.
    """
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "source", F.md5("text").alias("h"),
                    "text"))
    off = F.broadcast(docs.agg((F.max("doc_id") + 1).alias("_off")))
    a = docs.select("doc_id", "source", "h")
    b_kept = (docs.where(F.col("doc_id") % 11 != 0)
              .select("doc_id", "source",
                      F.when(F.col("doc_id") % 7 == 0,
                             F.md5(F.concat(F.col("text"), F.lit(" rev2"))))
                       .otherwise(F.col("h")).alias("h")))
    b_new = (docs.where(F.col("doc_id") % 13 == 0).crossJoin(off)
             .select((F.col("doc_id") + F.col("_off")).alias("doc_id"),
                     "source", "h"))
    b = b_kept.unionByName(b_new)
    j = (a.select(F.col("doc_id").alias("id"),
                  F.col("source").alias("src_a"), F.col("h").alias("h_a"))
         .join(b.select(F.col("doc_id").alias("id"),
                        F.col("source").alias("src_b"),
                        F.col("h").alias("h_b")),
               "id", "full_outer"))
    status = (F.when(F.col("h_a").isNull(), "added")
              .when(F.col("h_b").isNull(), "removed")
              .when(F.col("h_a") != F.col("h_b"), "changed")
              .otherwise("unchanged"))
    return (j.select(F.coalesce("src_a", "src_b").alias("source"),
                     status.alias("status"))
            .groupBy("source", "status")
            .agg(F.count(F.lit(1)).alias("n_docs")))


_SNAPSHOT_SQL = """
WITH docs AS (
    SELECT doc_id, source, md5(text) AS h, text FROM documents
),
off AS (SELECT max(doc_id) + 1 AS o FROM documents),
b AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 7 = 0 THEN md5(text || ' rev2') ELSE h END AS h
    FROM docs WHERE doc_id % 11 <> 0
    UNION ALL
    SELECT doc_id + off.o AS doc_id, source, h
    FROM docs CROSS JOIN off WHERE doc_id % 13 = 0
)
SELECT coalesce(a.source, b.source) AS source,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.h <> b.h THEN 'changed'
            ELSE 'unchanged' END AS status,
       count(*) AS n_docs
FROM docs a
FULL OUTER JOIN b ON a.doc_id = b.doc_id
GROUP BY 1, 2
"""


QUERIES = {
    "dq_constraint_audit": (dq_constraint_audit, _dq_sql()),
    "snapshot_diff": (snapshot_diff, _SNAPSHOT_SQL),
}


# --------------------------------------------------------------------------
# table_stats_profile: ANALYZE-style column profile of the orders table
# --------------------------------------------------------------------------
def table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics collection (the ANALYZE TABLE pass a CBO
    needs): per-column null count, exact distinct count, and min/max
    rendered to canonical strings, one row per column of `orders`.

    All six columns profile in ONE fused aggregation (adding a column
    adds expressions, not scans); min/max canonicalize via explicit
    formatting (timestamps through a fixed pattern, doubles through
    round-then-cast) so both engines emit identical text. At 100 TB
    the exact distincts become the HLL registers of
    ``hll_merge_check`` — same shape, sketch state.
    """
    orders = load(spark, sf_dir, "orders")
    ts_fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    cols = [
        ("o_orderkey", F.col("o_orderkey").cast("string")),
        ("o_custkey", F.col("o_custkey").cast("string")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_totalprice", F.round("o_totalprice", 2).cast("string")),
        ("o_orderdate", ts_fmt(F.col("o_orderdate"))),
        ("o_orderpriority", F.col("o_orderpriority")),
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, canon in cols:
        aggs += [
            F.count(F.when(F.col(name).isNull(), 1)).alias(f"nn_{name}"),
            F.countDistinct(name).alias(f"nd_{name}"),
            F.min(canon).alias(f"mi_{name}"),
            F.max(canon).alias(f"ma_{name}"),
        ]
    prof = orders.agg(*aggs)
    stacked = F.array(*[
        F.struct(F.lit(name).alias("column_name"),
                 F.col(f"nn_{name}").cast("long").alias("n_nulls"),
                 F.col(f"nd_{name}").cast("long").alias("n_distinct"),
                 F.col(f"mi_{name}").alias("min_value"),
                 F.col(f"ma_{name}").alias("max_value"))
        for name, _ in cols])
    return (prof.select(F.col("n_rows").cast("long").alias("n_rows"),
                        F.explode(stacked).alias("c"))
            .select(F.lit("orders").alias("table_name"),
                    F.col("c.column_name").alias("column_name"), "n_rows",
                    F.col("c.n_nulls").alias("n_nulls"),
                    F.col("c.n_distinct").alias("n_distinct"),
                    F.col("c.min_value").alias("min_value"),
                    F.col("c.max_value").alias("max_value")))


def _profile_sql() -> str:
    canon = {
        "o_orderkey": "CAST(o_orderkey AS VARCHAR)",
        "o_custkey": "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus": "o_orderstatus",
        "o_totalprice": "CAST(round(o_totalprice, 2) AS VARCHAR)",
        "o_orderdate": "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')",
        "o_orderpriority": "o_orderpriority",
    }
    parts = []
    for name, c in canon.items():
        parts.append(f"""
SELECT 'orders' AS table_name, '{name}' AS column_name,
       count(*) AS n_rows,
       count(CASE WHEN {name} IS NULL THEN 1 END) AS n_nulls,
       count(DISTINCT {name}) AS n_distinct,
       min({c}) AS min_value, max({c}) AS max_value
FROM orders""")
    return " UNION ALL ".join(parts)


QUERIES["table_stats_profile"] = (table_stats_profile, _profile_sql())


# --------------------------------------------------------------------------
# json_schema_infer: semi-structured schema discovery over a JSON column
# --------------------------------------------------------------------------
def json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference over a heterogeneous JSON column — the
    discovery pass that turns a landed semi-structured feed into typed
    columns: per key, the observed value type(s), presence rate, and
    distinct-value count. Keys that appear with multiple types or low
    presence are exactly the ones a typed projection must handle.

    The driver's ``props`` column is single-key, so both engines first
    enrich it DETERMINISTICALLY by event type (purchase rows gain
    amount/currency, error rows gain code/fatal) — the usual
    per-event-family payload shape.

    Determinism: type classification is a regex CASE over the
    extracted text in both engines; counts are exact. Scale: one scan
    → keys explode (bounded by payload width) → map-side-combinable
    (key, type) counts; the total-row count broadcasts.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value", "props")
    k = F.get_json_object("props", "$.k")
    j = (F.when(F.col("event_type") == "purchase",
                F.concat(F.lit('{"k": '), k,
                         F.lit(', "amount": '),
                         F.round("value", 2).cast("string"),
                         F.lit(', "currency": "usd"}')))
         .when(F.col("event_type") == "error",
               F.concat(F.lit('{"k": '), k,
                        F.lit(', "code": "E'), F.expr("cast(cast(get_json_object(props, '$.k') as bigint) % 10 as string)"),
                        F.lit('", "fatal": '),
                        F.expr("cast(cast(get_json_object(props, '$.k') as bigint) % 2 = 0 as string)"),
                        F.lit("}")))
         .otherwise(F.col("props")))
    rows = ev.select(j.alias("j"))
    total = rows.agg(F.count(F.lit(1)).alias("n_rows"))
    kv = (rows.select("j", F.explode(F.expr("json_object_keys(j)"))
                      .alias("json_key"))
          .select("json_key",
                  F.expr("get_json_object(j, concat('$.', json_key))")
                   .alias("val")))
    vtype = (F.when(F.col("val").isNull(), "null")
             .when(F.col("val").rlike(r"^-?[0-9]+$"), "bigint")
             .when(F.col("val").rlike(r"^-?[0-9]*\.[0-9]+$"), "double")
             .when(F.col("val").isin("true", "false"), "boolean")
             .otherwise("string"))
    return (kv.select("json_key", vtype.alias("value_type"), "val")
            .groupBy("json_key", "value_type")
            .agg(F.count(F.lit(1)).alias("n_present"),
                 F.countDistinct("val").alias("n_distinct"))
            .crossJoin(F.broadcast(total))
            .select("json_key", "value_type", "n_present", "n_rows",
                    F.round(F.col("n_present") / F.col("n_rows"), 4)
                     .alias("presence_rate"),
                    F.col("n_distinct").cast("long").alias("n_distinct")))


_JSON_INFER_SQL = r"""
WITH enriched AS (
    SELECT CASE
        WHEN event_type = 'purchase' THEN
            '{"k": ' || json_extract_string(props, '$.k')
            || ', "amount": ' || CAST(round(value, 2) AS VARCHAR)
            || ', "currency": "usd"}'
        WHEN event_type = 'error' THEN
            '{"k": ' || json_extract_string(props, '$.k')
            || ', "code": "E'
            || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
                    AS VARCHAR)
            || '", "fatal": '
            || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
                    AS VARCHAR)
            || '}'
        ELSE props END AS j
    FROM events
),
total AS (SELECT count(*) AS n_rows FROM enriched),
kv AS (
    SELECT json_key,
           json_extract_string(j, '$.' || json_key) AS val
    FROM (SELECT j, unnest(json_keys(j)) AS json_key FROM enriched)
)
SELECT json_key,
       CASE WHEN val IS NULL THEN 'null'
            WHEN regexp_matches(val, '^-?[0-9]+$') THEN 'bigint'
            WHEN regexp_matches(val, '^-?[0-9]*\.[0-9]+$') THEN 'double'
            WHEN val IN ('true', 'false') THEN 'boolean'
            ELSE 'string' END AS value_type,
       count(*) AS n_present, n_rows,
       round(count(*) / n_rows, 4) AS presence_rate,
       count(DISTINCT val) AS n_distinct
FROM kv CROSS JOIN total
GROUP BY 1, 2, n_rows
"""

QUERIES["json_schema_infer"] = (json_schema_infer, _JSON_INFER_SQL)


# --------------------------------------------------------------------------
# table_merkle_root: order-independent integrity digest of a table
# --------------------------------------------------------------------------
MERKLE_BUCKETS = 64


def table_merkle_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication/backup integrity: a two-level order-independent
    digest of the documents table — row hash (md5 of the canonical
    field concatenation) → per-bucket XOR aggregate (order-free, so
    any partitioning computes the same digest) → root = md5 of the
    bucket digests in bucket order. Two replicas agree iff their roots
    agree, and a mismatch localizes to the disagreeing bucket(s) —
    the Merkle-style sync check a cross-region copy runs at 100 TB
    without moving data.

    Tamper evidence is asserted in-query: the root recomputes with one
    row excluded and must differ (and its altered bucket is reported).

    Scale: one scan → 64-group XOR aggregation (map-side combinable —
    XOR is associative/commutative, which is the whole point); the
    root builds on the 64-row frame.
    """
    docs = load(spark, sf_dir, "documents")
    row_h = F.conv(F.substring(F.md5(F.concat_ws(
        "\x1f", F.col("doc_id").cast("string"), F.col("text"),
        F.col("lang"), F.col("source"),
        F.col("n_chars").cast("string"))), 1, 15), 16, 10).cast("long")
    based = docs.select(row_h.alias("h"),
                        F.pmod(row_h, F.lit(MERKLE_BUCKETS)).alias("bucket"),
                        F.col("doc_id"))

    def root_of(df):
        buckets = (df.groupBy("bucket")
                   .agg(F.expr("bit_xor(h)").alias("bx"),
                        F.count(F.lit(1)).alias("n")))
        return (buckets.groupBy()
                .agg(F.array_sort(F.collect_list(F.struct("bucket", "bx")))
                      .alias("bs"),
                     F.sum("n").alias("n_rows"))
                .select(F.md5(F.array_join(
                    F.expr("transform(bs, s -> cast(s.bx as string))"), ","))
                    .alias("root"), "n_rows"))

    full = root_of(based).select(F.col("root").alias("root_full"),
                                 F.col("n_rows").alias("n_rows"))
    # tamper probe: drop the smallest doc_id and re-digest
    min_id = F.broadcast(based.agg(F.min("doc_id").alias("mn")))
    tampered = root_of(based.crossJoin(min_id)
                       .where(F.col("doc_id") != F.col("mn"))
                       .select("h", "bucket"))
    return (full.crossJoin(F.broadcast(
                tampered.select(F.col("root").alias("root_tampered"))))
            .select("root_full", "n_rows", "root_tampered",
                    (F.col("root_full") != F.col("root_tampered"))
                    .cast("int").alias("tamper_detected"),
                    F.lit(MERKLE_BUCKETS).cast("int").alias("n_buckets")))


_MERKLE_SQL = f"""
WITH based AS (
    SELECT CAST('0x' || substr(md5(
               CAST(doc_id AS VARCHAR) || chr(31) || text || chr(31)
               || lang || chr(31) || source || chr(31)
               || CAST(n_chars AS VARCHAR)), 1, 15) AS BIGINT) AS h,
           doc_id
    FROM documents
),
keyed AS (SELECT h, h % {MERKLE_BUCKETS} AS bucket, doc_id FROM based),
fullb AS (
    SELECT bucket, bit_xor(h) AS bx, count(*) AS n
    FROM keyed GROUP BY bucket
),
fullroot AS (
    SELECT md5(array_to_string(
               list_transform(list_sort(list(struct_pack(bucket := bucket,
                                                         bx := bx))),
                              s -> CAST(s.bx AS VARCHAR)), ',')) AS root,
           CAST(sum(n) AS BIGINT) AS n_rows
    FROM fullb
),
mn AS (SELECT min(doc_id) AS mn FROM keyed),
tb AS (
    SELECT bucket, bit_xor(h) AS bx
    FROM keyed CROSS JOIN mn WHERE doc_id <> mn GROUP BY bucket
),
troot AS (
    SELECT md5(array_to_string(
               list_transform(list_sort(list(struct_pack(bucket := bucket,
                                                         bx := bx))),
                              s -> CAST(s.bx AS VARCHAR)), ',')) AS root
    FROM tb
)
SELECT fullroot.root AS root_full, n_rows, troot.root AS root_tampered,
       CAST(fullroot.root <> troot.root AS INT) AS tamper_detected,
       CAST({MERKLE_BUCKETS} AS INT) AS n_buckets
FROM fullroot CROSS JOIN troot
"""

QUERIES["table_merkle_root"] = (table_merkle_root, _MERKLE_SQL)


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit over quasi-identifiers
# ---------------------------------------------------------------------------
_KANON_K = 5  # groups smaller than this are re-identification risks


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-release audit: treat (nation, market segment, account-
    balance decile) as the quasi-identifier and flag equivalence
    classes smaller than k=5 — the standard k-anonymity gate a dataset
    must pass before an external release — plus the l-diversity of a
    sensitive attribute (distinct order priorities seen per class).

    The balance decile is integer arithmetic on exact cents
    (``bal_c*10 div range`` clamped to 9 — the width_bucket floor
    formula written identically in both engines, CLAUDE.md), never an
    engine ntile.

    Scale: one keyed aggregate over customers⋈orders (orders only
    supplies the sensitive attribute — the join is keyed on custkey);
    class count is bounded by the QI domain (25·5·10), so the audit
    report is tiny at any input scale.
    """
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"))
    # fixed exact bounds (driver generator: -1000.00 .. 10000.00)
    lo, hi = -100_000, 1_000_000
    decile = F.least(F.lit(9), ((F.col("bal_c") - lo) * 10 / (hi - lo))
                     .cast("long"))
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority")
    j = (cust.select("c_custkey", "c_nationkey", "c_mktsegment",
                     decile.alias("bal_decile"))
         .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left"))
    classes = (j.groupBy("c_nationkey", "c_mktsegment", "bal_decile")
               .agg(F.countDistinct("c_custkey").alias("class_size"),
                    F.countDistinct("o_orderpriority").alias("l_diversity")))
    return (classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("class_size") < _KANON_K, 1).otherwise(0))
         .cast("long").alias("risky_classes"),
        F.sum(F.when(F.col("class_size") < _KANON_K,
                     F.col("class_size")).otherwise(0))
         .cast("long").alias("risky_rows"),
        F.min("class_size").alias("min_k"),
        F.min("l_diversity").alias("min_l")))


_KANON_SQL = f"""
WITH qi AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
         least(9, (CAST(round(c.c_acctbal * 100) AS BIGINT) - (-100000))
                   * 10 // (1000000 - (-100000))) AS bal_decile,
         o.o_orderpriority
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
), classes AS (
  SELECT c_nationkey, c_mktsegment, bal_decile,
         CAST(count(DISTINCT c_custkey) AS BIGINT) AS class_size,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_diversity
  FROM qi GROUP BY 1, 2, 3
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS risky_classes,
       CAST(sum(CASE WHEN class_size < {_KANON_K} THEN class_size ELSE 0 END)
            AS BIGINT) AS risky_rows,
       min(class_size) AS min_k,
       min(l_diversity) AS min_l
FROM classes
"""

QUERIES["k_anonymity_audit"] = (k_anonymity_audit, _KANON_SQL)


# ---------------------------------------------------------------------------
# Benford's-law first-digit audit (fraud/fabrication screen)
# ---------------------------------------------------------------------------


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed counts per
    leading digit vs the Benford expectation n·log10(1+1/d), with the
    chi-square contribution per digit — the standard fabricated-data
    screen an ingest DQ gate runs on money columns.

    The leading digit comes from STRING truncation of exact integer
    cents (substr of cast), not log/pow arithmetic — no float boundary
    decides a digit. Expected counts and chi² are the only doubles
    (one formula on exact int64 inputs, round(4)).

    Scale: one scan → 9-row aggregate (map-side combinable); the
    expectation join is a literal expression, not a table."""
    digit = F.substring(F.round(F.col("o_totalprice") * 100)
                        .cast("long").cast("string"), 1, 1).cast("int")
    counts = (load(spark, sf_dir, "orders")
              .where(F.col("o_totalprice") > 0)
              .select(digit.alias("d"))
              .groupBy("d").agg(F.count(F.lit(1)).alias("observed")))
    total = counts.agg(F.sum("observed").alias("n"))
    expected = F.col("n") * F.log10(1 + 1 / F.col("d").cast("double"))
    chi = ((F.col("observed") - expected) * (F.col("observed") - expected)
           / expected)
    return (counts.join(F.broadcast(total))
            .select("d", "observed",
                    F.round(expected, 4).alias("expected"),
                    F.round(chi, 4).alias("chi2_term")))


_BENFORD_SQL = """
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS d,
         CAST(count(*) AS BIGINT) AS observed
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1
), total AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM counts)
SELECT c.d, c.observed,
       round(t.n * log10(1 + 1 / CAST(c.d AS DOUBLE)), 4) AS expected,
       round((c.observed - t.n * log10(1 + 1 / CAST(c.d AS DOUBLE)))
             * (c.observed - t.n * log10(1 + 1 / CAST(c.d AS DOUBLE)))
             / (t.n * log10(1 + 1 / CAST(c.d AS DOUBLE))), 4) AS chi2_term
FROM counts c CROSS JOIN total t
"""

QUERIES["benford_audit"] = (benford_audit, _BENFORD_SQL)


# ---------------------------------------------------------------------------
# Gini coefficient / Lorenz deciles of customer spend concentration
# ---------------------------------------------------------------------------


def gini_spend_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-inequality report: the Gini coefficient of per-customer
    lifetime spend via the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    over the (spend, custkey)-ordered sequence, plus the top-decile
    spend share (Lorenz point). Every Σ is exact int64 (cents ×
    row_number); the two closed-form combinations are the only
    doubles.

    The global rank i is computed WITHOUT a global sort via the
    two-level bucket walk (same pattern as exact_global_percentile,
    optimizer_queries.py): spend buckets by VALUE ($100k-wide, so the
    bucket table is bounded by the spend value range, not by customer
    cardinality), cum_before per bucket from a triangular join on the
    broadcast bucket table, local row_number partitioned by bucket,
    and i = cum_before + local_rank — an exact identity because
    (bucket asc, x asc, custkey asc) is the same total order as
    (x asc, custkey asc). Bucket ids use `x div WIDTH` with x ≥ 0 by
    construction (cents of a sum of positive prices), so Spark's
    truncate-toward-zero div and an arithmetic floor agree.

    Scale: per-customer aggregate is one keyed shuffle; bucket counts
    are map-side combinable; the only window is PARTITIONED by bucket.
    The only single-partition stages are the final 1-row reduces fed
    by aggregates (AUDIT single_part=2, bounded by construction).
    Int64 headroom: Σ(i·xᵢ) ≤ n²·max — fine through ~1e7 customers at
    driver spend magnitudes."""
    from pyspark.sql import Window

    spend = (load(spark, sf_dir, "orders")
             .groupBy("o_custkey")
             .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                   .alias("x")))
    rows = spend.withColumn("bucket", F.expr("x div 10000000"))
    b = rows.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("bn"))
    cum_before = (
        b.alias("a")
        .join(F.broadcast(b.select(F.col("bucket").alias("cb"),
                                   F.col("bn").alias("cn"))),
              F.col("cb") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("cn"), F.lit(0)).cast("long")
              .alias("cum_before")))
    total = b.agg(F.sum("bn").cast("long").alias("nn"))
    wloc = Window.partitionBy("bucket").orderBy(
        F.col("x").asc(), F.col("o_custkey").asc())
    ranked = (rows.join(F.broadcast(cum_before), "bucket")
              .withColumn("li", F.row_number().over(wloc).cast("long"))
              .withColumn("i", F.col("cum_before") + F.col("li"))
              .crossJoin(F.broadcast(total)))
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
        F.sum(F.when(F.col("i") * 10 > 9 * F.col("nn"), F.col("x"))
               .otherwise(0)).alias("top_decile_x"))
    gini = (2.0 * F.col("six").cast("double")
            / (F.col("n").cast("double") * F.col("sx").cast("double"))
            - (F.col("n") + 1).cast("double") / F.col("n").cast("double"))
    share = F.col("top_decile_x").cast("double") / F.col("sx").cast("double")
    return m.select("n", F.round(gini, 6).alias("gini"),
                    F.round(share, 6).alias("top_decile_share"))


_GINI_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
), ranked AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS nn
  FROM spend
)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(2.0 * CAST(sum(i * x) AS BIGINT)
             / (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS BIGINT))
             - (count(*) + 1) / CAST(count(*) AS DOUBLE), 6) AS gini,
       round(CAST(sum(CASE WHEN i * 10 > 9 * nn THEN x ELSE 0 END)
                  AS BIGINT) / CAST(CAST(sum(x) AS BIGINT) AS DOUBLE), 6)
           AS top_decile_share
FROM ranked
"""

QUERIES["gini_spend_concentration"] = (gini_spend_concentration, _GINI_SQL)


# ---------------------------------------------------------------------------
# Population Stability Index (PSI) drift between corpus halves
# ---------------------------------------------------------------------------
_PSI_BUCKETS = 8


def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift check per source feed: does the document-length
    distribution shift between the first and second half of the feed
    (doc_id order — the ingest sequence)? PSI = Σ (p−q)·ln(p/q) over
    fixed-width n_chars buckets, the model-monitoring staple.

    Buckets are integer width-bucket floors (CLAUDE.md: write the
    formula, engines lack/diverge on width_bucket); p and q are exact
    integer counts Laplace-smoothed by +1 so empty buckets stay finite
    — ln() sees identical rational inputs in both engines.

    Scale: two aggregates (per-source-half-bucket counts, then the
    PSI combine on the bucket-count frame). The half split derives
    from per-source max doc_id (no fixed constant — alias-safe at any
    sf)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source",
                                                   "n_chars")
    stats = docs.groupBy("source").agg(
        F.max("doc_id").alias("max_id"), F.min("doc_id").alias("min_id"),
        F.max("n_chars").alias("max_c"), F.min("n_chars").alias("min_c"))
    j = docs.join(F.broadcast(stats), "source")
    bucket = F.least(
        F.lit(_PSI_BUCKETS - 1),
        ((F.col("n_chars") - F.col("min_c")) * _PSI_BUCKETS
         / (F.col("max_c") - F.col("min_c") + 1)).cast("long"))
    half = (F.col("doc_id") * 2
            > F.col("min_id") + F.col("max_id")).cast("int")
    counts = (j.select("source", bucket.alias("b"), half.alias("h"))
              .groupBy("source", "b")
              .agg(F.sum(F.when(F.col("h") == 0, 1).otherwise(0))
                    .cast("long").alias("p_n"),
                   F.sum(F.when(F.col("h") == 1, 1).otherwise(0))
                    .cast("long").alias("q_n")))
    tot = counts.groupBy("source").agg(
        F.sum("p_n").alias("pt"), F.sum("q_n").alias("qt"),
        F.count(F.lit(1)).alias("nb"))
    p = ((F.col("p_n") + 1).cast("double")
         / (F.col("pt") + F.col("nb")).cast("double"))
    q = ((F.col("q_n") + 1).cast("double")
         / (F.col("qt") + F.col("nb")).cast("double"))
    term = (p - q) * F.log(p / q)
    return (counts.join(F.broadcast(tot), "source")
            .groupBy("source")
            .agg(F.round(F.sum(term), 6).alias("psi"),
                 F.sum("p_n").alias("n_first_half"),
                 F.sum("q_n").alias("n_second_half")))


_PSI_SQL = f"""
WITH stats AS (
  SELECT source, max(doc_id) AS max_id, min(doc_id) AS min_id,
         max(n_chars) AS max_c, min(n_chars) AS min_c
  FROM documents GROUP BY 1
), j AS (
  SELECT d.source,
         least({_PSI_BUCKETS - 1},
               (d.n_chars - s.min_c) * {_PSI_BUCKETS}
               // (s.max_c - s.min_c + 1)) AS b,
         CASE WHEN d.doc_id * 2 > s.min_id + s.max_id THEN 1 ELSE 0 END AS h
  FROM documents d JOIN stats s ON d.source = s.source
), counts AS (
  SELECT source, b,
         CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS p_n,
         CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS q_n
  FROM j GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(sum(p_n) AS BIGINT) AS pt,
         CAST(sum(q_n) AS BIGINT) AS qt,
         CAST(count(*) AS BIGINT) AS nb
  FROM counts GROUP BY 1
)
SELECT c.source,
       round(sum(((c.p_n + 1) / CAST(t.pt + t.nb AS DOUBLE)
                  - (c.q_n + 1) / CAST(t.qt + t.nb AS DOUBLE))
                 * ln(((c.p_n + 1) / CAST(t.pt + t.nb AS DOUBLE))
                      / ((c.q_n + 1) / CAST(t.qt + t.nb AS DOUBLE)))), 6)
           AS psi,
       CAST(sum(c.p_n) AS BIGINT) AS n_first_half,
       CAST(sum(c.q_n) AS BIGINT) AS n_second_half
FROM counts c JOIN tot t ON c.source = t.source
GROUP BY 1
"""

QUERIES["psi_drift_report"] = (psi_drift_report, _PSI_SQL)


# ---------------------------------------------------------------------------
# Simpson's-paradox scan (pooled vs per-stratum association reversal)
# ---------------------------------------------------------------------------


def simpsons_paradox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan for Simpson reversals: association between urgent priority
    (X) and above-median order value (Y), pooled vs per customer
    nation. Association sign is the exact integer determinant
    a·d − b·c of each 2×2 table — no odds-ratio division, so the sign
    test is int64-exact. Output: pooled sign, per-stratum sign tallies
    and the reversal count (strata whose sign opposes the pooled one)
    — the aggregation-bias audit a metrics platform should run before
    anyone trusts a pooled rate.

    The median cut is rank-selected over exact cents (element at
    ⌊(n+1)/2⌋ of the (value, orderkey) order), located via the
    two-level bucket walk (exact_global_percentile pattern): $10k-wide
    value buckets (bounded by the price range, not order cardinality),
    cum_before from a triangular join on the broadcast bucket table,
    then a local rank inside the single targeted bucket. The round-8
    bounded-feeder audit caught the previous global row_number here —
    a fact-scale single-partition sort.

    Scale: one keyed orders aggregate per stratum after a broadcast
    median; every window partitions by bucket; the scan is
    stratum-count-sized."""
    from pyspark.sql import Window

    orders = (load(spark, sf_dir, "orders")
              .select("o_custkey", "o_orderkey",
                      F.round(F.col("o_totalprice") * 100).cast("long")
                       .alias("x_c"),
                      (F.col("o_orderpriority") == "1-URGENT").cast("int")
                       .alias("urgent")))
    rows = orders.select(
        "o_orderkey", "x_c",
        F.expr("(x_c - pmod(x_c, 1000000)) div 1000000").alias("bkt"))
    b = rows.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("bn"))
    cumb = (b.alias("a")
            .join(F.broadcast(b.select(F.col("bkt").alias("cb"),
                                       F.col("bn").alias("cn"))),
                  F.col("cb") < F.col("a.bkt"), "left")
            .groupBy(F.col("a.bkt").alias("bkt"))
            .agg(F.coalesce(F.sum("cn"), F.lit(0)).cast("long")
                  .alias("cum_before")))
    tot = b.agg(F.sum("bn").cast("long").alias("n"))
    chosen = (cumb.join(b, "bkt")
              .crossJoin(F.broadcast(tot))
              .where(F.col("cum_before") + F.col("bn")
                     >= F.expr("(n + 1) div 2"))
              .groupBy()
              .agg(F.min(F.struct("bkt", "cum_before")).alias("c"),
                   F.max(F.expr("(n + 1) div 2")).alias("k"))
              .select(F.col("c.bkt").alias("bkt"),
                      F.col("c.cum_before").alias("cum_before"), "k"))
    wloc = Window.partitionBy("bkt").orderBy("x_c", "o_orderkey")
    med = F.broadcast(
        rows.join(F.broadcast(chosen), "bkt")
        .withColumn("r", F.row_number().over(wloc).cast("long"))
        .where(F.col("r") == F.col("k") - F.col("cum_before"))
        .select(F.col("x_c").alias("med_c")))
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    base = (orders.crossJoin(med)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_nationkey", "urgent",
                    (F.col("x_c") > F.col("med_c")).cast("int").alias("hi")))

    def counts(df, keys):
        return df.groupBy(*keys).agg(
            F.sum(F.col("urgent") * F.col("hi")).alias("a"),
            F.sum(F.col("urgent") * (1 - F.col("hi"))).alias("b"),
            F.sum((1 - F.col("urgent")) * F.col("hi")).alias("c"),
            F.sum((1 - F.col("urgent")) * (1 - F.col("hi"))).alias("d"))

    det = F.signum((F.col("a") * F.col("d") - F.col("b") * F.col("c"))
                   .cast("double")).cast("int")
    pooled = counts(base, []).select(det.alias("pooled_sign"))
    strata = counts(base, ["c_nationkey"]).select(
        "c_nationkey", det.alias("sg"))
    return (strata.crossJoin(F.broadcast(pooled))
            .agg(F.max("pooled_sign").alias("pooled_sign"),
                 F.count(F.lit(1)).alias("n_strata"),
                 F.sum((F.col("sg") == F.col("pooled_sign")).cast("int"))
                  .cast("long").alias("agreeing"),
                 F.sum((F.col("sg") == -F.col("pooled_sign")).cast("int"))
                  .cast("long").alias("reversed")))


_SIMPSON_SQL = """
WITH orders_x AS (
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x_c,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urgent
  FROM orders
), med AS (
  SELECT x_c AS med_c FROM (
    SELECT x_c,
           CAST(row_number() OVER (ORDER BY x_c, o_orderkey) AS BIGINT) AS r,
           CAST(count(*) OVER () AS BIGINT) AS n
    FROM orders_x)
  WHERE r = CAST(floor((n + 1) / 2.0) AS BIGINT)
), base AS (
  SELECT c.c_nationkey, o.urgent,
         CASE WHEN o.x_c > m.med_c THEN 1 ELSE 0 END AS hi
  FROM orders_x o CROSS JOIN med m
  JOIN customer c ON o.o_custkey = c.c_custkey
), pooled AS (
  SELECT CAST(sign(CAST(sum(urgent * hi) * sum((1 - urgent) * (1 - hi))
                        - sum(urgent * (1 - hi)) * sum((1 - urgent) * hi)
                        AS DOUBLE)) AS INT) AS pooled_sign
  FROM base
), strata AS (
  SELECT c_nationkey,
         CAST(sign(CAST(sum(urgent * hi) * sum((1 - urgent) * (1 - hi))
                        - sum(urgent * (1 - hi)) * sum((1 - urgent) * hi)
                        AS DOUBLE)) AS INT) AS sg
  FROM base GROUP BY 1
)
SELECT max(p.pooled_sign) AS pooled_sign,
       CAST(count(*) AS BIGINT) AS n_strata,
       CAST(sum(CASE WHEN s.sg = p.pooled_sign THEN 1 ELSE 0 END) AS BIGINT)
           AS agreeing,
       CAST(sum(CASE WHEN s.sg = -p.pooled_sign THEN 1 ELSE 0 END) AS BIGINT)
           AS reversed
FROM strata s CROSS JOIN pooled p
"""

QUERIES["simpsons_paradox_scan"] = (simpsons_paradox_scan, _SIMPSON_SQL)


# ---------------------------------------------------------------------------
# Functional-dependency audit (det -> dep candidate verification)
# ---------------------------------------------------------------------------
# (table, determinant, dependent, det-is-text) — a mix of FDs that hold
# by construction (key -> attribute) and plausible-but-false ones, so
# the audit demonstrably separates them.
_FD_CANDIDATES = (
    ("orders", "o_orderkey", "o_custkey", False),
    ("customer", "c_custkey", "c_nationkey", False),
    ("lineitem", "l_orderkey", "l_suppkey", False),
    ("lineitem", "l_partkey", "l_suppkey", False),
    ("events", "user_id", "event_type", False),
    ("documents", "source", "lang", True),
)


def functional_dependency_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Verify candidate functional dependencies det → dep: for each, a
    determinant value is VIOLATING when it maps to more than one
    distinct dependent value. Emits per candidate the group count,
    violating-group count, the worst fan-out, and a holds flag — the
    schema-inference primitive (TANE/profiling's verification step)
    behind key discovery, normalization advice, and trusting a column
    as a join key before a 100 TB backfill relies on it.

    Determinism: pure exact counts. Text determinants group on
    ``unhex(md5(col))`` (fixed-width shuffle key, CLAUDE.md rule).

    Scale: each candidate is one (det)-keyed count-distinct — two
    map-side-combinable phases, no row ever carries more than
    (det_key, dep) — followed by a 1-row reduce; candidates union to
    |candidates| rows. Verifying k FDs over one table at 100 TB would
    share the scan via grouping sets on det; here candidates span
    five tables, so each scan is already minimal (2-column column-
    pruned reads).
    """
    outs = []
    for table, det, dep, det_text in _FD_CANDIDATES:
        df = load(spark, sf_dir, table).select(det, dep)
        key = (F.unhex(F.md5(F.col(det))) if det_text
               else F.col(det)).alias("k")
        per_det = (df.groupBy(key)
                   .agg(F.countDistinct(dep).alias("nd")))
        outs.append(per_det.agg(
            F.lit(f"{table}.{det}->{dep}").alias("fd"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
             .alias("n_violating"),
            F.max("nd").alias("max_variants"),
            (F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)) == 0)
            .cast("int").alias("holds")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _fd_sql() -> str:
    parts = []
    for table, det, dep, det_text in _FD_CANDIDATES:
        key = f"unhex(md5({det}))" if det_text else det
        parts.append(f"""
SELECT '{table}.{det}->{dep}' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
       CAST(max(nd) AS BIGINT) AS max_variants,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS INT) AS holds
FROM (SELECT {key} AS k, CAST(count(DISTINCT {dep}) AS BIGINT) AS nd
      FROM {table} GROUP BY 1)""")
    return "\nUNION ALL\n".join(parts)


QUERIES["functional_dependency_audit"] = (functional_dependency_audit,
                                          _fd_sql())


# ---------------------------------------------------------------------------
# Exact quantile normalization of a feature (run-table ranks)
# ---------------------------------------------------------------------------


def quantile_normalize_feature(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Map every document's length to its exact corpus percentile —
    pct = (#rows strictly below) / (n − 1), ties sharing the rank of
    their run's first element (min-rank; the percent_rank convention)
    — the standard monotone feature transform that makes downstream
    thresholds distribution-free.

    Determinism & scale: NO global row_number — the ``auc_mann_whitney``
    run-table trick: group rows into value runs (map-side combined;
    the run table is value-cardinality-sized, here ≤ ~1k rows), prefix-
    sum the run table with one tiny window, and join ranks back keyed
    on the value. The corpus never total-orders; percentiles are
    floors of exact integer rationals.
    """
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("v"))
    runs = docs.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, -1))
    ranked = runs.select(
        "v", F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("below"))
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    return (docs.join(ranked, "v").crossJoin(F.broadcast(tot))
            .select("doc_id", F.col("v").alias("n_chars"),
                    F.expr("below * 1000000 div (n - 1)")
                     .alias("pct_e6")))


_QNORM_SQL = """
WITH docs AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS v FROM documents
),
runs AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM docs GROUP BY v),
ranked AS (
    SELECT v, COALESCE(CAST(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS below
    FROM runs
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs)
SELECT d.doc_id, d.v AS n_chars,
       r.below * 1000000 // (t.n - 1) AS pct_e6
FROM docs d JOIN ranked r USING (v) CROSS JOIN tot t
"""

QUERIES["quantile_normalize_feature"] = (quantile_normalize_feature,
                                         _QNORM_SQL)


# ---------------------------------------------------------------------------
# Median/MAD robust outlier profile per event type
# ---------------------------------------------------------------------------
_MAD_K4 = 44_478   # 3 * 1.4826 scaled by 1e4 (Gaussian-consistent 3 sigma)


def mad_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: lower median and MAD
    (median absolute deviation) of the value column in exact integer
    cents, and the count of rows beyond the Gaussian-consistent 3σ
    band |x − med| · 1e4 > 3·1.4826e4 · MAD — the screen that, unlike
    mean/stddev, a few corrupt rows cannot drag along with them.

    Determinism: LOWER median, defined as the value whose run covers
    position ⌈n/2⌉ — an exact integer picked by run-table prefix sums
    (no interpolation, no engine quantile convention); the outlier
    test is an integer cross-multiplication.

    Scale: two run-table passes (values, then absolute deviations),
    each a map-side-combined count over value runs with a
    |distinct values|-sized window — the corpus itself never sorts.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))

    def lower_median(df, val):
        runs = df.groupBy("event_type", val).agg(
            F.count(F.lit(1)).alias("cnt"))
        w = (Window.partitionBy("event_type").orderBy(val)
             .rowsBetween(Window.unboundedPreceding, 0))
        wt = Window.partitionBy("event_type")
        cum = runs.select(
            "event_type", F.col(val).alias("x"),
            F.sum("cnt").over(w).alias("cum"),
            F.sum("cnt").over(wt).alias("n"))
        return (cum.where(F.col("cum") * 2 >= F.col("n"))
                .groupBy("event_type")
                .agg(F.min("x").alias("med"), F.max("n").alias("n")))

    med = lower_median(ev, "cents")
    dev = (ev.join(F.broadcast(med.select("event_type", "med")),
                   "event_type")
           .select("event_type",
                   F.abs(F.col("cents") - F.col("med")).alias("ad"),
                   "cents", "med"))
    mad = lower_median(dev.select("event_type", "ad"), "ad") \
        .select("event_type", F.col("med").alias("mad"))
    flagged = (dev.join(F.broadcast(mad), "event_type")
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.max("med").alias("median_cents"),
                    F.max("mad").alias("mad_cents"),
                    F.sum(F.when(
                        F.col("ad") * 10_000 > F.lit(_MAD_K4) * F.col("mad"),
                        1).otherwise(0)).alias("n_outliers")))
    return flagged.select("event_type", "n_rows", "median_cents",
                          "mad_cents", "n_outliers")


_MAD_SQL = f"""
WITH ev AS (
    SELECT event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
runs1 AS (SELECT event_type, cents AS x, CAST(count(*) AS BIGINT) AS cnt
          FROM ev GROUP BY 1, 2),
cum1 AS (
    SELECT event_type, x,
           CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum,
           CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM runs1
),
med AS (
    SELECT event_type, min(x) AS med, max(n) AS n
    FROM cum1 WHERE cum * 2 >= n GROUP BY event_type
),
dev AS (
    SELECT e.event_type, abs(e.cents - m.med) AS ad
    FROM ev e JOIN med m USING (event_type)
),
runs2 AS (SELECT event_type, ad AS x, CAST(count(*) AS BIGINT) AS cnt
          FROM dev GROUP BY 1, 2),
cum2 AS (
    SELECT event_type, x,
           CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum,
           CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM runs2
),
mad AS (
    SELECT event_type, min(x) AS mad
    FROM cum2 WHERE cum * 2 >= n GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(m.med) AS BIGINT) AS median_cents,
       CAST(max(md.mad) AS BIGINT) AS mad_cents,
       CAST(sum(CASE WHEN d.ad * 10000 > {_MAD_K4} * md.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d
JOIN med m USING (event_type)
JOIN mad md USING (event_type)
GROUP BY d.event_type
"""

QUERIES["mad_outlier_profile"] = (mad_outlier_profile, _MAD_SQL)


# --------------------------------------------------------------------------
# Join-cardinality estimation audit (the optimizer's eye exam)
# --------------------------------------------------------------------------
_JSE_JOINS = (
    ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier_lineitem", "supplier", "s_suppkey", "lineitem", "l_suppkey"),
)


def join_size_estimation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audits the textbook equi-join cardinality estimate
    |L|·|R| / max(ndv_L, ndv_R) — the formula every cost-based
    optimizer (Catalyst CBO included) starts from — against the EXACT
    join size, per warehouse join edge. The q-error column is the
    number a team reviews before trusting CBO join reordering on a new
    dataset; a q-error ≫ 1 flags key skew or correlation the uniform
    assumption misses. Output: one row per join edge (join_name,
    n_left, n_right, ndv_left, ndv_right, est_rows, actual_rows,
    q_error_e3).

    The exact size is computed WITHOUT materializing the join:
    Σ_k cnt_L(k)·cnt_R(k) over the two per-key count frames — two
    map-side-combinable aggregates and a count-frame join, never a row
    explosion. All arithmetic is int64 (est = product div max-ndv;
    q_error_e3 = 1000·max/min of two positive ints). int64 headroom:
    |L|·|R| overflows past ~3e18 — beyond that split the product as
    (L div m)·R + ((L mod m)·R div m).

    Scale: per edge, two keyed aggregations (shuffle on the join key,
    partial-aggregated) + one key-frame join; the audit output is 4
    rows regardless of input scale.
    """
    rows = None
    for name, lt, lk, rt, rk in _JSE_JOINS:
        l = load(spark, sf_dir, lt).select(F.col(lk).alias("k"))
        r = load(spark, sf_dir, rt).select(F.col(rk).alias("k"))
        lstats = l.agg(F.count(F.lit(1)).alias("n_left"),
                       F.countDistinct("k").alias("ndv_left"))
        rstats = r.agg(F.count(F.lit(1)).alias("n_right"),
                       F.countDistinct("k").alias("ndv_right"))
        lc = l.groupBy("k").agg(F.count(F.lit(1)).alias("cl"))
        rc = r.groupBy("k").agg(F.count(F.lit(1)).alias("cr"))
        act = (lc.join(rc, "k")
               .agg(F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0))
                    .alias("actual_rows")))
        row = (lstats.crossJoin(rstats).crossJoin(act)
               .select(F.lit(name).alias("join_name"),
                       "n_left", "n_right", "ndv_left", "ndv_right",
                       F.expr("(n_left * n_right)"
                              " div greatest(ndv_left, ndv_right)")
                        .alias("est_rows"),
                       "actual_rows")
               .withColumn("q_error_e3",
                           F.expr("(1000 * greatest(est_rows, actual_rows))"
                                  " div greatest(least(est_rows,"
                                  " actual_rows), 1)")))
        rows = row if rows is None else rows.unionByName(row)
    return rows


def _jse_sql() -> str:
    parts = []
    for name, lt, lk, rt, rk in _JSE_JOINS:
        parts.append(f"""
SELECT '{name}' AS join_name,
       (SELECT count(*) FROM {lt}) AS n_left,
       (SELECT count(*) FROM {rt}) AS n_right,
       (SELECT count(DISTINCT {lk}) FROM {lt}) AS ndv_left,
       (SELECT count(DISTINCT {rk}) FROM {rt}) AS ndv_right,
       ((SELECT count(*) FROM {lt}) * (SELECT count(*) FROM {rt}))
           // greatest((SELECT count(DISTINCT {lk}) FROM {lt}),
                       (SELECT count(DISTINCT {rk}) FROM {rt}))
           AS est_rows,
       coalesce((SELECT CAST(sum(cl * cr) AS BIGINT) FROM
           (SELECT {lk} AS k, count(*) AS cl FROM {lt} GROUP BY 1) a
           JOIN
           (SELECT {rk} AS k, count(*) AS cr FROM {rt} GROUP BY 1) b
           USING (k)), 0) AS actual_rows""")
    sel = " UNION ALL ".join(parts)
    return f"""
WITH base AS ({sel})
SELECT join_name, n_left, n_right, ndv_left, ndv_right, est_rows,
       actual_rows,
       (1000 * greatest(est_rows, actual_rows))
           // greatest(least(est_rows, actual_rows), 1) AS q_error_e3
FROM base
"""


QUERIES["join_size_estimation_audit"] = (join_size_estimation_audit,
                                         _jse_sql())


# --------------------------------------------------------------------------
# Shard-rebalance audit: mod-N vs rendezvous (HRW) hashing
# --------------------------------------------------------------------------
_HRW_SHARDS = 16  # grow to 17 and measure movement


def consistent_hash_rebalance_audit(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Quantifies WHY mod-N sharding cannot grow at 100 TB: when the
    shard count goes {n}→{n1}, mod-N reassigns ~{n}/{n1} of ALL keys
    (every byte reshuffles) while rendezvous/HRW hashing moves only
    the ~1/{n1} that the new shard wins — measured exactly over the
    corpus, per assignment scheme. This is the planning number behind
    any resharding proposal: moved keys × bytes = migration cost.
    Output (one row): n_docs, moved_mod, moved_hrw, moved_mod_e6,
    moved_hrw_e6.

    Determinism: both schemes hash md5(doc_id) / md5(doc_id:shard)
    through the repo's 12-hex-digit integer idiom (identical in both
    engines); HRW winners tie-break on shard id (md5 collisions in 48
    bits are measure-zero but the ORDER BY is total anyway); fractions
    are integer e6 div.

    Scale: the HRW argmax explodes {n1} candidate rows per key
    scan-side and takes a struct-min per key — map-side combinable,
    no shuffle beyond the per-key aggregate; mod-N is pure scan
    arithmetic. (In production the per-key argmax folds into a scalar
    expression; the explode keeps the two engines primitive-identical.)
    """.format(n=_HRW_SHARDS, n1=_HRW_SHARDS + 1)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    h = F.pmod(F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                  1, 12), 16, 10).cast("long"),
               F.lit(10 ** 12))
    base = docs.select("doc_id", h.alias("h"))
    mod_moved = (F.col("h") % _HRW_SHARDS
                 != F.col("h") % (_HRW_SHARDS + 1)).cast("long")
    hrw = (base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_HRW_SHARDS))).alias("s"))
        .withColumn("hs", F.conv(F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"),
                              F.col("s").cast("string"))), 1, 12),
            16, 10).cast("long"))
        .groupBy("doc_id")
        .agg(F.min(F.struct((-F.col("hs")).alias("nh"),
                            F.col("s").alias("s")))
             .getField("s").alias("winner17")))
    joined = base.join(hrw, "doc_id")
    return (joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(mod_moved).alias("moved_mod"),
        F.sum((F.col("winner17") == _HRW_SHARDS).cast("long"))
         .alias("moved_hrw"))
        .withColumn("moved_mod_e6",
                    F.expr("(1000000 * moved_mod) div n_docs"))
        .withColumn("moved_hrw_e6",
                    F.expr("(1000000 * moved_hrw) div n_docs")))


_REBALANCE_SQL = f"""
WITH base AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                AS BIGINT) % {10 ** 12} AS h
    FROM documents
),
hrw AS (
    SELECT doc_id,
           (min(struct_pack(nh := -CAST('0x' || substr(md5(
                CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)),
                1, 12) AS BIGINT), s := s))).s AS winner17
    FROM (SELECT doc_id, unnest(range(0, {_HRW_SHARDS + 1})) AS s
          FROM base)
    GROUP BY doc_id
),
agg AS (
    SELECT count(*) AS n_docs,
           CAST(sum(CASE WHEN base.h % {_HRW_SHARDS}
                         <> base.h % {_HRW_SHARDS + 1}
                    THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod,
           CAST(sum(CASE WHEN hrw.winner17 = {_HRW_SHARDS}
                    THEN 1 ELSE 0 END) AS BIGINT) AS moved_hrw
    FROM base JOIN hrw USING (doc_id)
)
SELECT n_docs, moved_mod, moved_hrw,
       (1000000 * moved_mod) // n_docs AS moved_mod_e6,
       (1000000 * moved_hrw) // n_docs AS moved_hrw_e6
FROM agg
"""

QUERIES["consistent_hash_rebalance_audit"] = (
    consistent_hash_rebalance_audit, _REBALANCE_SQL)


# ---------------------------------------------------------------------------
# Wasserstein-1 distribution shift per source (exact integer 1-D EMD)
# ---------------------------------------------------------------------------

WASS_BUCKETS = 20
WASS_WIDTH = 25


def wasserstein_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-mover's distance between each source's document-length
    distribution and the pooled corpus — the drift metric that, unlike
    PSI/KS, weighs HOW FAR mass moved, not just whether bins differ.
    In 1-D over ordered buckets it is exactly the sum of |CDF gaps|,
    and with integer counts every gap is the exact integer
    |cumc*N - cuma*Ns| — no floats until the single final e6 division.
    Also emits the max gap (the Kolmogorov statistic) from the same
    cumulative pass. Output per source: (source, n_docs, w1_e6,
    ks_e6) where both metrics are over the bucket-index metric.

    Determinism: buckets are the CLAUDE.md floor formula
    least(n_chars div {WASS_WIDTH}, {WASS_BUCKETS}-1); the dense
    source x bucket grid comes from an explicit 0..{WASS_BUCKETS}-1
    range so missing buckets are exact zeros in both engines; window
    cumsums are integer-exact.

    Scale: ONE corpus aggregate to |sources| x {WASS_BUCKETS} rows
    (map-side combinable); everything after runs on that tiny frame —
    overall totals, per-source totals, and the pooled CDF all DERIVE
    from it rather than re-scanning the corpus (multi-branch hazard:
    the aggregate is persisted, released via tables.release()).
    Headroom: 1e6 * buckets * Ns * N must stay < 2^63 — fine to
    Ns*N < 4.6e11; past that lift the gap sum to double (both engines'
    sums stay exact integers well beyond any real corpus first).
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").select(
        "source",
        F.expr(f"least(n_chars div {WASS_WIDTH},"
               f" {WASS_BUCKETS - 1})").alias("b"))
    c = persist(d.groupBy("source", "b").agg(F.count(F.lit(1)).alias("n")))
    srcs = c.select("source").distinct()
    buckets = spark.range(WASS_BUCKETS).select(F.col("id").alias("b"))
    dense = (srcs.crossJoin(F.broadcast(buckets))
             .join(c, ["source", "b"], "left")
             .select("source", "b", F.coalesce("n", F.lit(0)).alias("n")))
    tot = dense.groupBy("source").agg(F.sum("n").alias("ns"))
    ov = dense.groupBy("b").agg(F.sum("n").alias("an"))
    nall = dense.agg(F.sum("n").alias("nn"))
    wsrc = (Window.partitionBy("source").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wov = (Window.orderBy("b")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cums = dense.select("source", "b",
                        F.sum("n").over(wsrc).alias("cumc"))
    cumo = ov.select("b", F.sum("an").over(wov).alias("cuma"))
    gaps = (cums.join(F.broadcast(cumo), "b")
            .join(F.broadcast(tot), "source")
            .crossJoin(F.broadcast(nall))
            .select("source", "ns", "nn",
                    F.abs(F.col("cumc") * F.col("nn")
                          - F.col("cuma") * F.col("ns")).alias("g")))
    return (gaps.groupBy("source")
            .agg(F.max("ns").alias("n_docs"),
                 F.expr("1000000 * sum(g) div (max(ns) * max(nn))")
                  .alias("w1_e6"),
                 F.expr("1000000 * max(g) div (max(ns) * max(nn))")
                  .alias("ks_e6")))


_WASS_SQL = f"""
WITH c AS MATERIALIZED (
    SELECT source, least(n_chars // {WASS_WIDTH}, {WASS_BUCKETS - 1}) AS b,
           CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
),
srcs AS (SELECT DISTINCT source FROM c),
buckets AS (SELECT b FROM range({WASS_BUCKETS}) t(b)),
dense AS (
    SELECT s.source, bk.b, coalesce(c.n, 0) AS n
    FROM srcs s CROSS JOIN buckets bk
    LEFT JOIN c ON c.source = s.source AND c.b = bk.b
),
tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM dense GROUP BY 1),
ov AS (SELECT b, CAST(sum(n) AS BIGINT) AS an FROM dense GROUP BY 1),
nall AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM dense),
cums AS (
    SELECT source, b,
           CAST(sum(n) OVER (PARTITION BY source ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumc
    FROM dense
),
cumo AS (
    SELECT b,
           CAST(sum(an) OVER (ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cuma
    FROM ov
),
gaps AS (
    SELECT s.source, t.ns, nall.nn,
           abs(s.cumc * nall.nn - o.cuma * t.ns) AS g
    FROM cums s JOIN cumo o ON s.b = o.b
    JOIN tot t ON s.source = t.source
    CROSS JOIN nall
)
SELECT source, max(ns) AS n_docs,
       1000000 * CAST(sum(g) AS BIGINT) // (max(ns) * max(nn)) AS w1_e6,
       1000000 * max(g) // (max(ns) * max(nn)) AS ks_e6
FROM gaps GROUP BY source
"""

QUERIES["wasserstein_source_shift"] = (wasserstein_source_shift, _WASS_SQL)


# --------------------------------------------------------------------------
# bitmap_index_audit: packed-word bitmap index with exact set algebra
# --------------------------------------------------------------------------


def _bitmap_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index audit over (event_type → user set): pack each
    type's audience into 64-bit words (word = user div 64, bit =
    user mod 64, OR-aggregated), then answer every pairwise
    intersection/union/Jaccard with bit_count over word-aligned ANDs —
    the roaring-bitmap idea an OLAP engine uses to make "users who did
    A and B" a popcount instead of a distinct-join. The audit column
    proves each bitmap's popcount equals the exact COUNT(DISTINCT)
    it replaced.

    Determinism: pure integer bit algebra end-to-end.

    Scale: the bitmap build is ONE map-side-combinable bit_or
    aggregate keyed (type, word) — dense-id audiences compress 64:1;
    pair queries join word-aligned rows (intersections never touch
    users absent from both words). At 100 TB the same shape backs a
    per-partition bitmap segment index. int64 headroom: exact by
    construction.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    bm = (ev.groupBy("event_type",
                     F.expr("user_id div 64").alias("word"))
          .agg(F.expr("bit_or(shiftleft(cast(1 as bigint),"
                      " cast(user_id % 64 as int)))").alias("bits")))
    card = (bm.groupBy("event_type")
            .agg(F.sum(F.expr("bit_count(bits)")).alias("card_bm")))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("card_exact")))
    per_type = (card.join(exact, "event_type")
                .select("event_type", "card_bm", "card_exact",
                        (F.col("card_bm") == F.col("card_exact"))
                        .alias("bitmap_ok")))
    a, b = bm.alias("a"), bm.alias("b")
    inter = (a.join(b, (F.col("a.word") == F.col("b.word"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("type_a"),
                      F.col("b.event_type").alias("type_b"))
             .agg(F.sum(F.expr("bit_count(a.bits & b.bits)"))
                  .alias("n_inter")))
    ca = per_type.select(F.col("event_type").alias("type_a"),
                         F.col("card_bm").alias("card_a"),
                         F.col("bitmap_ok").alias("ok_a"))
    cb = per_type.select(F.col("event_type").alias("type_b"),
                         F.col("card_bm").alias("card_b"),
                         F.col("bitmap_ok").alias("ok_b"))
    return (inter.join(ca, "type_a").join(cb, "type_b")
            .select("type_a", "type_b", "card_a", "card_b", "n_inter",
                    (F.col("card_a") + F.col("card_b") - F.col("n_inter"))
                    .alias("n_union"),
                    F.expr("n_inter * 1000000"
                           " div (card_a + card_b - n_inter)")
                    .alias("jaccard_e6"),
                    (F.col("ok_a") & F.col("ok_b")).alias("bitmap_ok")))


_BITMAP_SQL = """
WITH ev AS (SELECT event_type, user_id FROM events),
bm AS (
  -- bit 63 must go through HUGEINT: DuckDB raises on BIGINT 1<<63
  -- (Spark's shiftleft wraps to the sign bit, same 64-bit pattern)
  SELECT event_type, user_id // 64 AS word,
         bit_or(CAST(CAST(1 AS HUGEINT) << CAST(user_id % 64 AS INT)
                     AS UBIGINT)) AS bits
  FROM ev GROUP BY 1, 2
),
card AS (
  SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT) AS card_bm
  FROM bm GROUP BY 1
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS card_exact
  FROM ev GROUP BY 1
),
per_type AS (
  SELECT c.event_type, c.card_bm, e.card_exact,
         c.card_bm = e.card_exact AS bitmap_ok
  FROM card c JOIN exact e ON c.event_type = e.event_type
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_inter
  FROM bm a JOIN bm b
    ON a.word = b.word AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b,
       ca.card_bm AS card_a, cb.card_bm AS card_b, i.n_inter,
       ca.card_bm + cb.card_bm - i.n_inter AS n_union,
       i.n_inter * 1000000 // (ca.card_bm + cb.card_bm - i.n_inter)
           AS jaccard_e6,
       ca.bitmap_ok AND cb.bitmap_ok AS bitmap_ok
FROM inter i
JOIN per_type ca ON ca.event_type = i.type_a
JOIN per_type cb ON cb.event_type = i.type_b
"""

QUERIES["bitmap_index_audit"] = (_bitmap_index_audit, _BITMAP_SQL)


# --------------------------------------------------------------------------
# dictionary_encoding_audit: per-column encoding advisor
# --------------------------------------------------------------------------

_DICT_COLS = (("events", "event_type"), ("documents", "lang"),
              ("documents", "source"), ("orders", "o_orderpriority"),
              ("lineitem", "l_linestatus"), ("lineitem", "l_returnflag"))


def _dictionary_encoding_audit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Storage advisor: for each candidate string column, the exact
    byte ledger of dictionary encoding — raw payload bytes vs
    (dictionary bytes + n·ceil(log2 ndv)/8 index bits) — and the e6
    compression ratio. This is the decision parquet/ORC writers make
    per row group; surfacing it as a query lets a 100 TB layout job
    pick encodings from data instead of defaults (cf.
    posting_gap_stats for the integer-list analogue).

    Determinism: byte counts are exact integer sums (length() on the
    ASCII corpus = bytes); bit-width is an integer log2 ceiling via a
    comparison ladder, never floating log.

    Scale: one map-side-combinable aggregate per column over (ndv via
    distinct on the value — the dictionary is by definition small for
    dictionary-encodable columns); the union of per-column 1-row
    frames is free. Columns with huge ndv would make the distinct
    expensive — exactly the columns the advisor answers "don't".
    """
    out = None
    for tbl, col in _DICT_COLS:
        t = load(spark, sf_dir, tbl)
        vals = t.select(F.col(col).cast("string").alias("v"))
        dic = (vals.groupBy("v").agg(F.count(F.lit(1)).alias("c")))
        row = (dic.agg(
            F.lit(f"{tbl}.{col}").alias("column_name"),
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("ndv"),
            F.sum(F.length("v") * F.col("c")).alias("raw_bytes"),
            F.sum(F.length("v")).alias("dict_bytes"))
            .select(
                "column_name", "n_rows", "ndv", "raw_bytes", "dict_bytes",
                # bit width = ceil(log2(ndv)) via comparison ladder
                F.expr("CASE WHEN ndv <= 1 THEN 0 WHEN ndv <= 2 THEN 1"
                       " WHEN ndv <= 4 THEN 2 WHEN ndv <= 16 THEN 4"
                       " WHEN ndv <= 256 THEN 8 WHEN ndv <= 65536 THEN 16"
                       " ELSE 32 END").alias("index_bits"))
            .select("column_name", "n_rows", "ndv", "raw_bytes",
                    "dict_bytes", "index_bits",
                    F.expr("dict_bytes + (n_rows * index_bits + 7) div 8")
                    .alias("encoded_bytes"))
            .select("*",
                    F.expr("encoded_bytes * 1000000 div raw_bytes")
                    .alias("ratio_e6")))
        out = row if out is None else out.unionByName(row)
    return out


def _dict_audit_sql() -> str:
    parts = []
    for tbl, col in _DICT_COLS:
        parts.append(f"""
SELECT '{tbl}.{col}' AS column_name, n_rows, ndv, raw_bytes, dict_bytes,
       index_bits,
       dict_bytes + (n_rows * index_bits + 7) // 8 AS encoded_bytes,
       (dict_bytes + (n_rows * index_bits + 7) // 8) * 1000000
           // raw_bytes AS ratio_e6
FROM (
  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS ndv,
         CAST(sum(length(v) * c) AS BIGINT) AS raw_bytes,
         CAST(sum(length(v)) AS BIGINT) AS dict_bytes,
         CASE WHEN count(*) <= 1 THEN 0 WHEN count(*) <= 2 THEN 1
              WHEN count(*) <= 4 THEN 2 WHEN count(*) <= 16 THEN 4
              WHEN count(*) <= 256 THEN 8 WHEN count(*) <= 65536 THEN 16
              ELSE 32 END AS index_bits
  FROM (SELECT CAST({col} AS VARCHAR) AS v, CAST(count(*) AS BIGINT) AS c
        FROM {tbl} GROUP BY 1)
)""")
    return "\nUNION ALL\n".join(parts)


QUERIES["dictionary_encoding_audit"] = (_dictionary_encoding_audit,
                                        _dict_audit_sql())


# ---------------------------------------------------------------------------
# divergence_suite: the f-divergence family between the two time halves
# ---------------------------------------------------------------------------
DIV_BINS = 64
DIV_WIDTH = 800        # cents per bin (same binning as dp_quantile)
DIV_SMOOTH = 1         # add-one smoothing: no zero bins in either half


def divergence_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL, Jensen–Shannon, squared Hellinger, and total-variation
    distance between the event-value distributions of the first and
    second time halves — the drift dashboard's f-divergence row
    (complements psi_drift_report's PSI and wasserstein_source_shift's
    EMD). Distributions are add-one-smoothed fixed histograms
    ({DIV_BINS} bins × {DIV_WIDTH} cents), every per-bin term is
    e9-floored independently, and the four sums are exact int64 —
    no float reduction order in the comparison path.

    Scale: ONE scan to (half, bin) counts (map-side combinable,
    ≤ 2·{DIV_BINS} groups); the divergences are arithmetic on the
    joined bin table.
    """
    ev = load(spark, sf_dir, "events").select(
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.least(F.lit(DIV_BINS - 1),
                F.expr(f"cast(round(value * 100) as bigint)"
                       f" div {DIV_WIDTH}")).alias("b"))
    mid = F.broadcast(ev.agg(
        F.expr("(min(us) + max(us)) div 2").alias("mid")))
    halves = (ev.crossJoin(mid)
              .select("b", (F.col("us") >= F.col("mid")).cast("int")
                       .alias("h"))
              .groupBy("h", "b").agg(F.count(F.lit(1)).alias("c")))
    # dense bin spine so add-one smoothing covers EMPTY bins too
    spine = (spark.range(DIV_BINS).select(F.col("id").alias("b"))
             .crossJoin(spark.range(2).select(F.col("id").cast("int")
                                              .alias("h"))))
    dense = (spine.join(halves, ["h", "b"], "left")
             .select("h", "b",
                     (F.coalesce("c", F.lit(0)) + DIV_SMOOTH).alias("c")))
    tot = dense.groupBy("h").agg(F.sum("c").alias("t"))
    pq = (dense.join(F.broadcast(tot), "h")
          .select("b", "h",
                  F.expr("cast(c as double) / t").alias("p"))
          .groupBy("b")
          .agg(F.max(F.when(F.col("h") == 0, F.col("p"))).alias("p"),
               F.max(F.when(F.col("h") == 1, F.col("p"))).alias("q")))
    m = "((p + q) / 2)"
    terms = [
        "cast(floor(1000000000 * (p * ln(p / q))) as bigint) as kl_t",
        f"cast(floor(1000000000 * (p * ln(p / {m}) + q * ln(q / {m}))"
        " / 2) as bigint) as js_t",
        "cast(floor(1000000000 * (sqrt(p) - sqrt(q))"
        " * (sqrt(p) - sqrt(q)) / 2) as bigint) as h2_t",
        "cast(floor(1000000000 * abs(p - q) / 2) as bigint) as tv_t",
    ]
    return (pq.selectExpr("b", *terms)
            .agg(F.count(F.lit(1)).cast("long").alias("n_bins"),
                 F.sum("kl_t").cast("long").alias("kl_e9"),
                 F.sum("js_t").cast("long").alias("js_e9"),
                 F.sum("h2_t").cast("long").alias("hellinger2_e9"),
                 F.sum("tv_t").cast("long").alias("tvd_e9")))


def _divergence_sql() -> str:
    m = "((p + q) / 2)"
    return f"""
WITH ev AS (
  SELECT epoch_us(ts) AS us,
         least({DIV_BINS - 1},
               CAST(round(value * 100) AS BIGINT) // {DIV_WIDTH}) AS b
  FROM events
),
mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
halves AS (
  SELECT CASE WHEN us >= (SELECT mid FROM mid) THEN 1 ELSE 0 END AS h,
         b, count(*) AS c
  FROM ev GROUP BY 1, 2
),
spine AS (
  SELECT b.b, h.h
  FROM (SELECT unnest(range(0, {DIV_BINS})) AS b) b
  CROSS JOIN (SELECT unnest([0, 1]) AS h) h
),
dense AS (
  SELECT s.h, s.b, coalesce(hv.c, 0) + {DIV_SMOOTH} AS c
  FROM spine s LEFT JOIN halves hv ON s.h = hv.h AND s.b = hv.b
),
tot AS (SELECT h, CAST(sum(c) AS BIGINT) AS t FROM dense GROUP BY 1),
pq AS (
  SELECT b,
         max(CASE WHEN d.h = 0 THEN CAST(c AS DOUBLE) / t END) AS p,
         max(CASE WHEN d.h = 1 THEN CAST(c AS DOUBLE) / t END) AS q
  FROM dense d JOIN tot USING (h)
  GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(CAST(floor(1000000000 * (p * ln(p / q))) AS BIGINT))
            AS BIGINT) AS kl_e9,
       CAST(sum(CAST(floor(1000000000 * (p * ln(p / {m})
            + q * ln(q / {m})) / 2) AS BIGINT)) AS BIGINT) AS js_e9,
       CAST(sum(CAST(floor(1000000000 * (sqrt(p) - sqrt(q))
            * (sqrt(p) - sqrt(q)) / 2) AS BIGINT)) AS BIGINT)
           AS hellinger2_e9,
       CAST(sum(CAST(floor(1000000000 * abs(p - q) / 2) AS BIGINT))
            AS BIGINT) AS tvd_e9
FROM pq
"""


QUERIES["divergence_suite"] = (divergence_suite, _divergence_sql())


# --------------------------------------------------------------------
# Group-mean imputation audit with known ground truth
# --------------------------------------------------------------------
_IMP_MOD = 10   # mask ~10% of order values via md5(orderkey) % 10 == 0


def group_mean_imputation_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Imputation-quality audit with KNOWN ground truth: mask a
    deterministic ~10% of order values (md5(orderkey) % 10 == 0 — the
    cross-engine hash idiom), impute each masked value with its
    order-priority group mean over the UNMASKED rows (exact cents,
    truncating div), and report per group how wrong that standard
    trick is (Σ|imputed − true| and the worst miss) — the missing-data
    dress rehearsal every pipeline should run before trusting
    mean-fill. Everything is exact int64; no RNG anywhere.

    Scale: one keyed aggregate for group means over unmasked rows, one
    broadcast join back — two passes over orders, bounded-alphabet
    group table.
    """
    mask = (F.conv(F.substring(F.md5(F.col("o_orderkey")
                                     .cast("string")), 1, 12), 16, 10)
            .cast("long") % _IMP_MOD == 0)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        mask.cast("int").alias("masked"))
    means = (orders.where(F.col("masked") == 0)
             .groupBy("o_orderpriority")
             .agg(F.expr("sum(cents) div count(1)").alias("impute_cents")))
    return (orders.join(F.broadcast(means), "o_orderpriority")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("masked").alias("n_masked"),
                 F.max("impute_cents").alias("impute_cents"),
                 F.sum(F.when(F.col("masked") == 1,
                              F.abs(F.col("impute_cents")
                                    - F.col("cents"))).otherwise(0))
                 .alias("abs_err_sum"),
                 F.max(F.when(F.col("masked") == 1,
                              F.abs(F.col("impute_cents")
                                    - F.col("cents"))).otherwise(0))
                 .alias("worst_err")))


_IMPUTE_SQL = f"""
WITH orders_m AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                       1, 12) AS BIGINT)
                   % {_IMP_MOD} = 0 THEN 1 ELSE 0 END AS masked
  FROM orders
), means AS (
  SELECT o_orderpriority,
         CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT)
             AS impute_cents
  FROM orders_m WHERE masked = 0 GROUP BY 1
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o.masked) AS BIGINT) AS n_masked,
       max(m.impute_cents) AS impute_cents,
       CAST(sum(CASE WHEN o.masked = 1
                     THEN abs(m.impute_cents - o.cents) ELSE 0 END)
            AS BIGINT) AS abs_err_sum,
       CAST(max(CASE WHEN o.masked = 1
                     THEN abs(m.impute_cents - o.cents) ELSE 0 END)
            AS BIGINT) AS worst_err
FROM orders_m o JOIN means m ON o.o_orderpriority = m.o_orderpriority
GROUP BY 1
"""

QUERIES["group_mean_imputation_audit"] = (group_mean_imputation_audit,
                                          _IMPUTE_SQL)
