"""Battery extension: sketch interop/persistence, the full relational
operator matrix (semi/anti joins, cube/grouping sets, decorrelated
subqueries, percentiles, pivot), the scalar function library
(string/date/math/json/array), Structured Streaming twins with batch
oracles, and multimodal metadata with formula oracles.

Registered into the same QUERIES/ORACLES dicts as ``queries.py`` (this
module is imported at its bottom).  Same determinism conventions: shared
aliases, rounded floats, stable tiebreaks.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import functions as F

from .functions import hll
from .queries import _EXACT_SD, _t, query

_STREAM_SEQ = itertools.count()


def _sink_name(prefix: str) -> str:
    return f"{prefix}_{os.getpid()}_{next(_STREAM_SEQ)}"


# ---------------------------------------------------------------------------
# HLL surface: per-row scalar init, persistence, SQL registration, interop
# ---------------------------------------------------------------------------


@query(
    "hll_init_scalar_merge",
    """
    SELECT event_type, count(DISTINCT user_id) AS approx_users
    FROM events GROUP BY event_type
    """,
)
def hll_init_scalar_merge(spark, sf_dir):
    """Per-row scalar hll_init (Arrow sketch-byte writer, no shuffle)
    merged per group — the zero-aggregation init path.
    reference: HyperLogLogInitSimple, HLLFunctions.scala:192-218."""
    (events,) = _t(spark, sf_dir, "events")
    per_row = events.select(
        "event_type", hll.hll_init("user_id", _EXACT_SD).alias("sk")
    )
    return per_row.groupBy("event_type").agg(
        hll.hll_cardinality(hll.hll_merge("sk")).alias("approx_users")
    )


@query(
    "hll_persist_roundtrip",
    """
    SELECT event_type, count(DISTINCT user_id) AS approx_users
    FROM events GROUP BY event_type
    """,
)
def hll_persist_roundtrip(spark, sf_dir):
    """The reference's headline data design (PostgresInteropTest.scala:
    73-88): persist fine-grained sketches as binary parquet columns, read
    them back later, and re-aggregate — distinct counts without rescanning
    raw data."""
    (events,) = _t(spark, sf_dir, "events")
    path = os.path.join(
        tempfile.gettempdir(), f"hll_persist_{os.getpid()}_{next(_STREAM_SEQ)}"
    )
    events.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        hll.hll_init_agg("user_id", _EXACT_SD).alias("users_hll")
    ).write.mode("overwrite").parquet(path)
    persisted = spark.read.parquet(path)
    return persisted.groupBy("event_type").agg(
        hll.hll_cardinality(hll.hll_merge("users_hll")).alias("approx_users")
    )


@query(
    "hll_sql_surface",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS users_scalar_path,
           count(DISTINCT user_id) AS users_agg_path,
           count(DISTINCT user_id) AS users_rowmerge,
           count(DISTINCT user_id) AS users_intersect,
           count(DISTINCT user_id) AS users_converted
    FROM events GROUP BY event_type
    """,
)
def hll_sql_surface(spark, sf_dir):
    """The SQL-registration surface: SEVEN reference names resolved from
    pure SQL text (hll_init, hll_init_agg, hll_merge, hll_row_merge,
    hll_cardinality, hll_intersect_cardinality, hll_convert — the two
    collection forms are driven by hll_sql_surface_collections).  The
    reference registers all nine into the session FunctionRegistry
    (NativeFunctionRegistration.scala:20-26); here ``hll.register``
    resolves each name to the expression its DataFrame function builds,
    so the aggregate names plan partial JVM aggregates and every name
    writes the DataFrame path's bytes.  Every column must equal the
    exact per-group distinct count."""
    from .conf import DEFAULT_ERROR_CONF_KEY

    (events,) = _t(spark, sf_dir, "events")
    spark.conf.set(DEFAULT_ERROR_CONF_KEY, str(_EXACT_SD))
    hll.register(spark)  # analysis below picks up the conf'd error bound
    view = _sink_name("events_v")
    events.createOrReplaceTempView(view)
    # Both sketch paths ride ONE aggregation (r10: the scalar-path CTE
    # + agg-path CTE + join form scanned events twice and shuffled two
    # wide sketch-buffer aggregates; folding the per-row inits with
    # hll_merge NEXT TO hll_init_agg in a single GROUP BY halves the
    # scan/shuffle and removes the join — every SQL name still
    # resolves, and each column's bytes are identical because both
    # paths hash identically).
    return spark.sql(
        f"""
        WITH per_row AS (
          SELECT event_type, hll_init(user_id) AS psk, user_id FROM {view}),
        both_paths AS (
          SELECT event_type,
                 hll_merge(psk) AS ssk,
                 hll_init_agg(user_id) AS ask
          FROM per_row GROUP BY event_type)
        SELECT event_type,
               hll_cardinality(ssk) AS users_scalar_path,
               hll_cardinality(ask) AS users_agg_path,
               hll_cardinality(hll_row_merge(ssk, ask)) AS users_rowmerge,
               hll_intersect_cardinality(ssk, ask) AS users_intersect,
               agkn_cardinality(hll_convert(
                 hll_convert(ask, 'DS', 'STRM'), 'STRM', 'AGKN')) AS users_converted
        FROM both_paths
        """
    )


@query(
    "hll_sql_surface_collections",
    """
    SELECT lang,
           count(DISTINCT w) AS words_scalar_path,
           count(DISTINCT w) AS words_agg_path
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) t
    WHERE w <> '' GROUP BY lang
    """,
)
def hll_sql_surface_collections(spark, sf_dir):
    """The two collection SQL names (hll_init_collection,
    hll_init_collection_agg) from pure SQL text: per-row element
    sketches merged per language vs the direct collection aggregate —
    both must equal the exact distinct word count."""
    from .conf import DEFAULT_ERROR_CONF_KEY

    (documents,) = _t(spark, sf_dir, "documents")
    spark.conf.set(DEFAULT_ERROR_CONF_KEY, str(_EXACT_SD))
    hll.register(spark)
    view = _sink_name("documents_v")
    documents.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        WITH words AS (
          SELECT lang, array_remove(split(text, ' '), '') AS ws FROM {view})
        SELECT lang,
               hll_cardinality(hll_merge(hll_init_collection(ws)))
                 AS words_scalar_path,
               hll_cardinality(hll_init_collection_agg(ws)) AS words_agg_path
        FROM words GROUP BY lang
        """
    )


@query(
    "hll_convert_agkn",
    """
    SELECT event_type, count(DISTINCT user_id) AS approx_users
    FROM events GROUP BY event_type
    """,
)
def hll_convert_agkn(spark, sf_dir):
    """hll_convert: DS sketches re-encoded to the postgresql-hll v1 byte
    layout; the AgKn-side estimator must see the same cardinalities.
    reference: HyperLogLogConvert, HLLFunctions.scala:641-670."""
    (events,) = _t(spark, sf_dir, "events")
    sk = events.groupBy("event_type").agg(
        hll.hll_init_agg("user_id", _EXACT_SD).alias("sk")
    )
    return sk.select(
        "event_type",
        hll.agkn_cardinality(hll.hll_convert("sk", "DS", "AGKN")).alias(
            "approx_users"
        ),
    )


@query(
    "hll_convert_strm",
    """
    SELECT event_type, count(DISTINCT user_id) AS approx_users
    FROM events GROUP BY event_type
    """,
)
def hll_convert_strm(spark, sf_dir):
    """hll_convert chained through the StreamLib byte format
    (DS -> STRM -> AGKN): registers must survive both re-encodings so
    the AgKn estimator still sees the exact group cardinalities.
    reference: the STRM half of HyperLogLogConvert
    (HLLFunctions.scala:641-670, codec hll/Implementation.scala:92-102)."""
    (events,) = _t(spark, sf_dir, "events")
    sk = events.groupBy("event_type").agg(
        hll.hll_init_agg("user_id", _EXACT_SD).alias("sk")
    )
    return sk.select(
        "event_type",
        hll.agkn_cardinality(
            hll.hll_convert(hll.hll_convert("sk", "DS", "STRM"), "STRM", "AGKN")
        ).alias("approx_users"),
    )


@query(
    "hll_init_collection_agg_words",
    """
    SELECT lang, count(DISTINCT w) AS distinct_words FROM (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ) t WHERE w <> '' GROUP BY lang
    """,
)
def hll_init_collection_agg_words(spark, sf_dir):
    """hll_init_collection_agg: one sketch per group from all elements
    of all collections (reference HyperLogLogInitCollectionAgg,
    HLLFunctions.scala:343-377)."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "lang", F.filter(F.split("text", " "), lambda w: w != "").alias("ws")
    )
    return toks.groupBy("lang").agg(
        hll.hll_cardinality(
            hll.hll_init_collection_agg(
                "ws", _EXACT_SD, dtype=toks.schema["ws"].dataType
            )
        ).alias("distinct_words")
    )


# ---------------------------------------------------------------------------
# Sources / sinks: loss-free format round trips
# ---------------------------------------------------------------------------


@query(
    "source_csv_roundtrip",
    """
    SELECT r.r_name, count(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def source_csv_roundtrip(spark, sf_dir):
    """CSV sink+source round trip (header + explicit schema), then a
    broadcast join over the re-read tables."""
    from .sources.io import roundtrip

    nation, region = _t(spark, sf_dir, "nation", "region")
    base = os.path.join(tempfile.gettempdir(), f"csv_rt_{os.getpid()}_{next(_STREAM_SEQ)}")
    nation2 = roundtrip(nation, base + "/nation", "csv")
    region2 = roundtrip(region, base + "/region", "csv")
    return (
        nation2.join(
            F.broadcast(region2), nation2.n_regionkey == region2.r_regionkey
        )
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@query(
    "source_json_roundtrip",
    """
    SELECT s_nationkey, count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS sum_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def source_json_roundtrip(spark, sf_dir):
    """JSON-lines sink+source round trip with the writer's schema."""
    from .sources.io import roundtrip

    (supplier,) = _t(spark, sf_dir, "supplier")
    path = os.path.join(
        tempfile.gettempdir(), f"json_rt_{os.getpid()}_{next(_STREAM_SEQ)}"
    )
    supplier2 = roundtrip(supplier, path, "json")
    return supplier2.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("sum_bal"),
    )


# ---------------------------------------------------------------------------
# Relational operator matrix
# ---------------------------------------------------------------------------


@query(
    "semi_join_returned_orders",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def semi_join_returned_orders(spark, sf_dir):
    """EXISTS as a left-semi join (TPC-H Q4 shape)."""
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    returned = lineitem.filter(F.col("l_returnflag") == "R")
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "anti_join_no_urgent_customers",
    """
    SELECT c_mktsegment, count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS sum_bal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def anti_join_no_urgent_customers(spark, sf_dir):
    """NOT EXISTS as a left-anti join (TPC-H Q22 shape): customers with
    no urgent orders."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(
            urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@query(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark, sf_dir):
    """CUBE: all 2^2 grouping combinations in one pass."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "grouping_sets_lineitem",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
)
def grouping_sets_lineitem(spark, sf_dir):
    """Explicit GROUPING SETS (finer control than rollup/cube)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "subquery_small_quantity_revenue",
    """
    SELECT p.p_brand, count(*) AS n,
           round(sum(l.l_extendedprice), 2) AS sum_price
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
    """,
)
def subquery_small_quantity_revenue(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q17 shape), decorrelated into a
    per-key aggregate + join — the plan Catalyst would rewrite to, stated
    directly so the shuffle count is explicit."""
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    half_avg = lineitem.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        lineitem.join(half_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "percentiles_quantity",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentiles_quantity(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``).  The approx_percentile scale path is benchmarked
    separately (sketch-based, not oracle-comparable)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99_price"),
    )


@query(
    "pivot_revenue_by_flag",
    """
    SELECT l_linestatus,
           round(sum(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END), 2) AS "A",
           round(sum(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END), 2) AS "N",
           round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END), 2) AS "R"
    FROM lineitem GROUP BY l_linestatus
    """,
)
def pivot_revenue_by_flag(spark, sf_dir):
    """Pivot with an explicit value list (no extra distinct-values job)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_extendedprice"), 2))
    )


@query(
    "left_outer_order_counts",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def left_outer_order_counts(spark, sf_dir):
    """Left outer join preserving zero-order customers."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


@query(
    "window_moving_average",
    """
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             AS moving_avg,
           round(value - lag(value, 1) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id), 4) AS delta,
           CAST(sum(1) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS INTEGER) AS seq
    FROM events
    """,
)
def window_moving_average(spark, sf_dir):
    """Analytic window frames: moving average, lag delta, running index."""
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).alias("moving_avg"),
        F.round(F.col("value") - F.lag("value", 1).over(w), 4).alias("delta"),
        F.row_number().over(w).alias("seq"),
    )


@query(
    "setop_intersect_segments",
    """
    SELECT c_custkey FROM (
      SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ) t
    """,
)
def setop_intersect_segments(spark, sf_dir):
    """INTERSECT (distinct semantics): customers with both an urgent
    order and a finished order."""
    (orders,) = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return urgent.intersect(finished)


# ---------------------------------------------------------------------------
# Scalar function library (string / date / math / json / array)
# ---------------------------------------------------------------------------


@query(
    "string_functions_parts",
    """
    SELECT p_partkey,
           upper(p_brand) AS up_brand,
           lower(p_type) AS lo_type,
           substr(p_name, 1, 5) AS name5,
           length(p_name) AS name_len,
           concat_ws('-', p_brand, p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_pad,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
    FROM part
    """,
)
def string_functions_parts(spark, sf_dir):
    """String function battery (JVM-side, codegen)."""
    (part,) = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("up_brand"),
        F.lower("p_type").alias("lo_type"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_pad"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
    )


@query(
    "datemath_functions_orders",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS oy,
           month(o_orderdate) AS om,
           quarter(o_orderdate) AS oq,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS days_to_99,
           round(sqrt(o_totalprice), 4) AS sqrt_price,
           round(ln(o_totalprice), 4) AS ln_price,
           o_orderkey % 7 AS key_mod7,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k_floor,
           abs(o_totalprice - 100000.0) > 50000.0 AS far_from_100k
    FROM orders
    """,
)
def datemath_functions_orders(spark, sf_dir):
    """Date + math function battery."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("oy"),
        F.month("o_orderdate").alias("om"),
        F.quarter("o_orderdate").alias("oq"),
        F.datediff(
            F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_99"),
        F.round(F.sqrt("o_totalprice"), 4).alias("sqrt_price"),
        F.round(F.log("o_totalprice"), 4).alias("ln_price"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("price_k_floor"),
        (F.abs(F.col("o_totalprice") - 100000.0) > 50000.0).alias("far_from_100k"),
    )


@query(
    "json_functions_events",
    """
    SELECT event_type,
           count(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_functions_events(spark, sf_dir):
    """JSON path extraction over a string column, aggregated."""
    (events,) = _t(spark, sf_dir, "events")
    # project the parsed field once so the JSON parse runs once per row,
    # not once per aggregate expression
    parsed = events.select(
        "event_type", F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.countDistinct("k").alias("n_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


@query(
    "array_functions_documents",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents)
    SELECT doc_id,
           array_to_string(list_slice(ws, 1, 3), ' ') AS first3,
           len(ws) AS n_tok,
           list_contains(ws, 'the') AS has_the,
           len(list_filter(ws, w -> len(w) > 4)) AS n_long
    FROM toks
    """,
)
def array_functions_documents(spark, sf_dir):
    """Array/lambda function battery (higher-order functions, codegen)."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.filter(F.split("text", " "), lambda w: w != "").alias("ws")
    )
    return toks.select(
        "doc_id",
        F.concat_ws(" ", F.slice("ws", 1, 3)).alias("first3"),
        F.size("ws").cast("bigint").alias("n_tok"),
        F.array_contains("ws", "the").alias("has_the"),
        F.size(F.filter("ws", lambda w: F.length(w) > 4)).cast("bigint").alias("n_long"),
    )


# ---------------------------------------------------------------------------
# Structured Streaming twins (availableNow replay == batch oracle)
# ---------------------------------------------------------------------------


@query(
    "stream_windowed_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_windowed_counts(spark, sf_dir):
    """Streaming tumbling-window aggregate replayed with availableNow;
    must equal the batch tumbling query exactly."""
    from .streaming import read_events_stream, run_to_memory, windowed_counts

    stream = read_events_stream(spark, sf_dir)
    # complete-mode drain: the trailing no-data batch only rewrites the
    # sink with the identical snapshot — skip it (see run_to_memory)
    return run_to_memory(
        windowed_counts(stream), _sink_name("win_counts"), output_mode="complete",
        state_partitions=8, nodata_batches=False,
    )


@query(
    "stream_windowed_hll_users",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type, count(DISTINCT user_id) AS approx_users
    FROM events GROUP BY 1, 2
    """,
)
def stream_windowed_hll_users(spark, sf_dir):
    """Streaming HLL sketch rollup: constant-size distinct-user state per
    (window, type); estimates equal exact counts at these cardinalities."""
    from .streaming import read_events_stream, run_to_memory, windowed_hll_users

    stream = read_events_stream(spark, sf_dir)
    sketches = run_to_memory(
        windowed_hll_users(stream, relative_sd=_EXACT_SD),
        _sink_name("win_hll"),
        output_mode="complete",
        state_partitions=8,
        nodata_batches=False,  # complete-mode drain (see run_to_memory)
    )
    return sketches.select(
        "hour",
        "event_type",
        hll.hll_cardinality("users_hll").alias("approx_users"),
    )


@query(
    "stream_dedup_replay",
    """
    SELECT event_type, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_replay(spark, sf_dir):
    """Streaming exact dedup: the replay unioned with itself collapses
    back to one row per event_id inside the watermark."""
    from .streaming import deduped_stream, read_events_stream, run_to_memory

    stream = read_events_stream(spark, sf_dir)
    doubled = stream.union(stream)
    deduped = deduped_stream(doubled, watermark="10 days")
    counts = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    # complete-mode drain; dropDuplicatesWithinWatermark emits survivors
    # eagerly, so the trailing no-data batch only evicts state
    return run_to_memory(counts, _sink_name("dedup"), output_mode="complete",
                         state_partitions=8, nodata_batches=False)


@query(
    "stream_sessionized_counts",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
    SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
    FROM flagged GROUP BY user_id
    """,
)
def stream_sessionized_counts(spark, sf_dir):
    """Native streaming sessionization (session_window, 30-min gap);
    session count per user equals the gap-rule oracle (session_window
    starts a new session when the gap is >= the timeout)."""
    from .streaming import read_events_stream, run_to_memory, sessionized_counts

    stream = read_events_stream(spark, sf_dir)
    sessions = run_to_memory(
        sessionized_counts(stream), _sink_name("sessions"), output_mode="complete",
        state_partitions=8, nodata_batches=False,  # see run_to_memory
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


@query(
    "stream_stateful_user_counters",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_counters(spark, sf_dir):
    """Arbitrary-state streaming operator (applyInPandasWithState):
    per-user running counters; a single availableNow batch's emission
    equals the batch aggregate."""
    from .streaming import read_events_stream, run_to_memory
    from .streaming.stateful import stateful_user_counters

    stream = read_events_stream(spark, sf_dir)
    return run_to_memory(
        stateful_user_counters(stream),
        _sink_name("stateful"),
        output_mode="update",
        state_partitions=8,
        # NoTimeout stateful op: a no-data batch invokes the function
        # for timed-out groups only, so it emits nothing here
        nodata_batches=False,
    )


# ---------------------------------------------------------------------------
# Multimodal: synth media with formula oracles
# ---------------------------------------------------------------------------

_MEDIA_W = "CAST(16 + doc_id % 17 AS INTEGER)"
_MEDIA_H = "CAST(8 + doc_id % 11 AS INTEGER)"
_MEDIA_C = "CAST(1 + doc_id % 3 AS INTEGER)"


def _synth_media(spark, sf_dir):
    """documents -> deterministic SYNTH image bytes (seed = doc_id)."""
    from .multimodal import synth_image_udf

    (documents,) = _t(spark, sf_dir, "documents")
    make = synth_image_udf()
    # repartition before the Python synth/decode stages: a single parquet
    # split would otherwise run every Arrow batch in one task
    return documents.select("doc_id").repartition("doc_id").select(
        "doc_id",
        make(
            F.col("doc_id"),
            (16 + F.col("doc_id") % 17).cast("int"),
            (8 + F.col("doc_id") % 11).cast("int"),
        ).alias("media"),
    )


@query(
    "media_metadata_synth",
    f"""
    SELECT doc_id, 'image/synth' AS mime,
           {_MEDIA_W} AS width, {_MEDIA_H} AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(9 + (16 + doc_id % 17) * (8 + doc_id % 11) * 3 AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def media_metadata_synth(spark, sf_dir):
    """Binary media metadata extracted JVM-side from the actual bytes
    (header sniff + big-endian field reads); the oracle recomputes every
    field from the synthesis formula — a true end-to-end byte check."""
    from .multimodal import with_media_metadata

    media = _synth_media(spark, sf_dir)
    with_meta = with_media_metadata(media, "media")
    return with_meta.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.channels").alias("channels"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
    )


@query(
    "media_frame_sample_counts",
    f"""
    SELECT doc_id, CAST(ceil((8 + doc_id % 11) / 2.0) AS BIGINT) AS n_frames
    FROM documents
    """,
)
def media_frame_sample_counts(spark, sf_dir):
    """1->N frame sampling through mapInPandas (every 2nd frame); the
    sampled-frame count per document matches the formula oracle."""
    from .multimodal import sample_frames

    media = _synth_media(spark, sf_dir)
    frames = sample_frames(media, "media", "doc_id", every_n=2)
    return frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))


# ---------------------------------------------------------------------------
# Corpus curation (composed pipeline)
# ---------------------------------------------------------------------------


@query(
    "curate_corpus_report",
    """
    WITH toks AS (
      SELECT doc_id, text, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents),
    flagged AS (
      SELECT doc_id, text, ws, len(ws)::BIGINT AS n_tokens,
        (SELECT CASE
           WHEN s_en > 0 AND s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
           WHEN s_de > 0 AND s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
           WHEN s_fr > 0 AND s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
           WHEN s_es > 0 AND s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
           ELSE 'und' END
         FROM (SELECT
           len(list_filter(ws, w -> list_contains(['the','and','of','to','in','is','that','with','for','was'], w))) AS s_en,
           len(list_filter(ws, w -> list_contains(['der','die','das','und','ist','nicht','ein','mit','sich','auf'], w))) AS s_de,
           len(list_filter(ws, w -> list_contains(['le','la','les','et','est','une','dans','que','pour','pas'], w))) AS s_fr,
           len(list_filter(ws, w -> list_contains(['el','los','las','es','una','en','por','con','para','como'], w))) AS s_es)
        ) AS lang_pred
      FROM toks
      WHERE len(ws) >= 20
        AND list_aggregate(list_transform(ws, w -> len(w)), 'sum') * 1.0 / len(ws) <= 12.0),
    deduped AS (
      SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY md5(array_to_string(
          list_sort(list_distinct(ws)), ' '))) AS min_id
        FROM flagged) t
      WHERE doc_id = min_id)
    SELECT lang_pred, count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
    FROM deduped GROUP BY lang_pred
    """,
)
def curate_corpus_report(spark, sf_dir):
    """Composed curation pipeline (quality -> language-ID -> exact
    fingerprint dedup) with per-language token accounting; the oracle
    replays every stage in SQL."""
    from .operators.curate import curate_corpus, curation_report

    (documents,) = _t(spark, sf_dir, "documents")
    curated = curate_corpus(documents, near_dup_threshold=None)
    return curation_report(documents, curated)


@query(
    "curate_corpus_near_dedup",
    """
    WITH toks AS (
      SELECT doc_id, text, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents),
    flagged AS (
      SELECT doc_id, len(ws)::BIGINT AS n_tokens, ws
      FROM toks
      WHERE len(ws) >= 20
        AND list_aggregate(list_transform(ws, w -> len(w)), 'sum') * 1.0 / len(ws) <= 12.0),
    deduped AS (
      SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY md5(array_to_string(
          list_sort(list_distinct(ws)), ' '))) AS min_id
        FROM flagged) t
      WHERE doc_id = min_id)
    -- n_survivors is pinned: MinHash(64)/16-band LSH at threshold 0.5 over
    -- these exact-stage survivors is seeded and integer-deterministic, so
    -- the near-dedup survivor count at sf0.01 is a stable constant.
    SELECT (SELECT count(*) FROM deduped)::BIGINT AS n_exact_survivors,
           CAST(384 AS BIGINT) AS n_survivors,
           true AS structure_ok
    """,
)
def curate_corpus_near_dedup(spark, sf_dir):
    """Full curation incl. MinHash-LSH near-dedup (distributed
    connected-components loser resolution).  The oracle checks three
    derived deterministic facts: the exact-stage survivor count
    (independently replayed in SQL), the pinned near-dedup survivor
    count (seeded integer-deterministic hashing), and structural
    invariants computed Spark-side — no near-dup pair has both
    endpoints surviving, and every dropped doc appears in at least one
    candidate pair."""
    from .operators.curate import apply_near_dedup, curate_corpus, near_dup_pairs

    (documents,) = _t(spark, sf_dir, "documents")
    # staged pipeline: each stage computed ONCE and reused by both the
    # result and the invariant checks (the composed curate_corpus call
    # would recompute filters+MinHash per consumer).  LAZY checkpoints
    # (r10): eager=True paid one extra Spark action per stage just to
    # materialize it up front; eager=False materializes each stage the
    # first time the single final action touches it and every other
    # consumer reuses the cached partitions — same sharing, three
    # fewer driver round-trips.
    exact = curate_corpus(documents, near_dup_threshold=None).localCheckpoint(
        eager=False
    )
    # pairs feeds three consumers (CC loser resolution, the
    # both-survive check, the paired-id set) and curated feeds two —
    # materialize each once or every consumer re-runs the MinHash
    # pipeline
    pairs = near_dup_pairs(exact, "doc_id", "text", threshold=0.5).localCheckpoint(
        eager=False
    )
    curated = apply_near_dedup(exact, pairs, "doc_id").localCheckpoint(eager=False)

    surv_ids = curated.select("doc_id")
    both_survive = (
        pairs.join(surv_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(surv_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        .agg(F.count(F.lit(1)).alias("__both"))
    )
    paired_ids = pairs.select(F.col("id_a").alias("doc_id")).union(
        pairs.select(F.col("id_b").alias("doc_id"))
    ).distinct()
    dropped = exact.select("doc_id").exceptAll(surv_ids)
    unpaired_dropped = dropped.join(paired_ids, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("__unpaired")
    )
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact_survivors"))
        .crossJoin(curated.agg(F.count(F.lit(1)).alias("n_survivors")))
        .crossJoin(both_survive)
        .crossJoin(unpaired_dropped)
        .select(
            "n_exact_survivors",
            "n_survivors",
            ((F.col("__both") == 0) & (F.col("__unpaired") == 0)).alias(
                "structure_ok"
            ),
        )
    )


@query(
    "media_image_features",
    """
    -- full value-level replay of the SYNTH codec + thumbnail featurizer:
    -- pixel(y,x,ch) = (doc_id + (y*w + x)*3 + ch) % 256, nearest-resize to
    -- 8x8, grayscale = channel mean / 255; round_even matches numpy.
    -- Arrays are emitted as comma-joined 1e-4-quantized integers so the
    -- output is scalar-only (the driver's canonicalizer cannot sort
    -- list-valued columns); quantization happens identically on both
    -- sides AFTER the round-even snap, so this is still a value-level
    -- check of every element.
    SELECT doc_id,
           CAST(16 + doc_id % 17 AS INTEGER) AS width,
           CAST(8 + doc_id % 11 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           array_to_string(
             [CAST(round(round_even(list_aggregate(
                [CAST((doc_id + 3*j + ch) % 256 AS DOUBLE)
                 for j in range(0, (16 + doc_id % 17) * (8 + doc_id % 11))],
                'avg'), 4) * 10000) AS BIGINT) for ch in range(0, 3)],
             ',') AS channel_mean,
           array_to_string(
             [CAST(round(round_even((
                CAST((doc_id + ((k // 8) * (8 + doc_id % 11) // 8 * (16 + doc_id % 17)
                      + (k % 8) * (16 + doc_id % 17) // 8) * 3 + 0) % 256 AS DOUBLE)
              + CAST((doc_id + ((k // 8) * (8 + doc_id % 11) // 8 * (16 + doc_id % 17)
                      + (k % 8) * (16 + doc_id % 17) // 8) * 3 + 1) % 256 AS DOUBLE)
              + CAST((doc_id + ((k // 8) * (8 + doc_id % 11) // 8 * (16 + doc_id % 17)
                      + (k % 8) * (16 + doc_id % 17) // 8) * 3 + 2) % 256 AS DOUBLE)
             ) / 3.0 / 255.0, 4) * 10000) AS BIGINT) for k in range(0, 64)],
             ',') AS embedding
    FROM documents
    """,
)
def media_image_features(spark, sf_dir):
    """Decode -> thumbnail -> per-channel stats + embedding, one Arrow
    batch at a time (the CLIP-featurizer plumbing with a numpy body).
    The SYNTH codec is a closed-form pixel formula, so the oracle
    replays decode + nearest-resize + channel stats value-for-value in
    SQL — a true end-to-end check of the Arrow plumbing.

    The battery entry flattens the two array<double> columns to
    comma-joined 1e-4-quantized integer strings (both sides) because
    the round driver's canonicalizer sorts with pandas and cannot hash
    list cells; values already sit on a 4-decimal grid (numpy round
    half-even), so the *10000 quantization is lossless."""
    from .multimodal import image_features

    media = _synth_media(spark, sf_dir)
    feats = image_features(media, "media", "doc_id", thumb=8)

    def _qjoin(c):
        return F.concat_ws(
            ",",
            F.transform(c, lambda v: F.round(v * 10000).cast("long").cast("string")),
        )

    return feats.select(
        "doc_id",
        "width",
        "height",
        "channels",
        _qjoin(F.col("channel_mean")).alias("channel_mean"),
        _qjoin(F.col("embedding")).alias("embedding"),
    )


# Sketch-family extension (theta set algebra, KLL quantiles) registers
# itself into the same QUERIES/ORACLES dicts on import.
from . import queries_sketches  # noqa: E402,F401  (registration side effect)
