"""Query registry backing ``__spark_entry__.py`` — one entry per operator
family from SURVEY §2, each with a DuckDB-oracle SQL twin where the
semantics are SQL-expressible.

Conventions enforced for the driver's order-insensitive value-hash compare:
* every computed column aliased identically in Spark and SQL,
* Spark int32 outputs cast to long (DuckDB len()/row_number() are BIGINT),
* DuckDB SUM over integers cast ::BIGINT (it returns INT128 by default),
* double aggregates rounded to 4-6 decimals on BOTH sides (summation-order
  float drift would otherwise break exact hashes).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from soda_core_spark.functions.text import EN_STOPWORDS, words_col
from soda_core_spark.operators.dedup import (
    minhash_near_duplicates,
    normalized_text,
)
from soda_core_spark.operators.similarity import brute_force_topk

# registry: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {}


def register(name: str, sql: Optional[str]):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational / aggregation operators (SURVEY §2.1-2.2)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(avg(l_extendedprice), 4) AS avg_price,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark, sf_dir):
    """TPC-H Q1 shape: scan→filter→groupBy→multi-agg (projection/filter/
    group-by/aggregates, SURVEY §2.1-2.2). Filter+pruning pushed to scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q2_fused_metrics",
    """
    SELECT count(*) AS row_count,
           sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS missing_qty,
           sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)::BIGINT AS invalid_discount,
           count(DISTINCT l_orderkey) AS distinct_orders,
           round(min(l_extendedprice), 4) AS min_price,
           round(max(l_extendedprice), 4) AS max_price,
           round(avg(l_quantity), 6) AS avg_qty
    FROM lineitem
    """,
)
def q2(spark, sf_dir):
    """The soda fused-aggregation shape: ALL metrics in one df.agg — one
    scan, one job (reference AggregationQuery batching, SURVEY §4)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias(
            "missing_qty"
        ),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0)
        ).alias("invalid_discount"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
    )


@register(
    "q3_segment_revenue",
    """
    SELECT c.c_mktsegment,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY c.c_mktsegment
    """,
)
def q3(spark, sf_dir):
    """3-way equi-join + group (JOIN operator §2.1). customer is small →
    broadcast hint; lineitem⋈orders shuffles on orderkey (AQE re-plans)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "q4_semi_join_customers",
    """
    SELECT n.n_name, count(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY n.n_name
    """,
)
def q4(spark, sf_dir):
    """EXISTS → left_semi join (reference IN_SELECT/EXISTS §2.1)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q5_anti_join_reference",
    """
    SELECT count(*) AS invalid_reference_count
    FROM supplier s
    WHERE NOT EXISTS (
      SELECT 1 FROM nation n
      WHERE n.n_nationkey = s.s_nationkey AND n.n_regionkey < 3
    )
    """,
)
def q5(spark, sf_dir):
    """Reference-data validity as broadcast left-anti join (reference
    LEFT JOIN + IS NULL, invalidity_check.py:287-338)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_regionkey") < 3)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("invalid_reference_count"))
    )


@register(
    "q6_duplicate_arithmetic",
    """
    SELECT count(*) AS rows_tested,
           count(DISTINCT o_custkey) AS distinct_custkeys,
           (count(*) - count(DISTINCT o_custkey)) AS duplicate_count
    FROM orders
    """,
)
def q6(spark, sf_dir):
    """soda duplicate arithmetic: dup = rows − missing − distinct
    (duplicate_check.py:122-131; no NULL custkeys in this data)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("rows_tested"),
        F.countDistinct("o_custkey").alias("distinct_custkeys"),
        (F.count(F.lit(1)) - F.countDistinct("o_custkey")).alias("duplicate_count"),
    )


@register(
    "q7_window_topk",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rank
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rank
      FROM orders
    ) WHERE rank <= 3
    """,
)
def q7(spark, sf_dir):
    """Window function (reference WINDOW_FUNCTION §2.2): top-3 orders by
    totalprice per priority. Deterministic tiebreak on orderkey."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
    )


@register(
    "q8_freshness_max",
    """
    SELECT o_orderstatus, max(o_orderdate) AS max_ts, count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q8(spark, sf_dir):
    """Freshness source metric: MAX(timestamp) (freshness_check.py:267-273)
    per group."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max("o_orderdate").alias("max_ts"), F.count(F.lit(1)).alias("n")
    )


@register(
    "q9_failed_rows",
    """
    SELECT count(*) AS rows_tested,
           sum(CASE WHEN l_tax > l_discount AND l_quantity > 45 THEN 1 ELSE 0 END)::BIGINT AS failed_rows,
           round(100.0 * sum(CASE WHEN l_tax > l_discount AND l_quantity > 45 THEN 1 ELSE 0 END) / count(*), 6) AS failed_percent
    FROM lineitem
    """,
)
def q9(spark, sf_dir):
    """failed_rows expression check (failed_rows_check.py:241-256):
    conditional count + derived percent in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    cond = (F.col("l_tax") > F.col("l_discount")) & (F.col("l_quantity") > 45)
    return li.agg(
        F.count(F.lit(1)).alias("rows_tested"),
        F.sum(F.when(cond, 1).otherwise(0)).alias("failed_rows"),
        F.round(
            100.0 * F.sum(F.when(cond, 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("failed_percent"),
    )


@register(
    "q10_sessionization",
    """
    SELECT user_id, count(*) AS n_events,
           sum(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800
               THEN 1 ELSE 0 END)::BIGINT AS n_sessions
    FROM (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ) GROUP BY user_id
    """,
)
def q10(spark, sf_dir):
    """Event sessionization: lag window + 30-min gap rule — the streaming
    table analyzed in batch (stateful-op analogue)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.withColumn("new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("new_session").alias("n_sessions"),
        )
    )


@register(
    "q23_pagination",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 10
    """,
)
def q23(spark, sf_dir):
    """ORDER BY + LIMIT/OFFSET pagination (reference sql_ast.py:744-775,
    887-908 — the failed-rows streaming pagination shape)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .offset(10)
        .limit(20)
    )


@register(
    "q24_scalar_expressions",
    """
    SELECT p_partkey,
           CASE WHEN p_size > 25 THEN 'large'
                WHEN p_size > 10 THEN 'medium' ELSE 'small' END AS size_class,
           coalesce(nullif(p_brand, 'Brand#11'), 'OTHER') AS brand_or_other,
           lower(p_type) AS type_lower,
           length(p_name) AS name_len,
           (p_name LIKE '%green%') AS has_green,
           floor(p_retailprice)::BIGINT AS price_int,
           concat_ws('|', p_brand, cast(p_size AS VARCHAR)) AS brand_size
    FROM part
    """,
)
def q24(spark, sf_dir):
    """Scalar expression surface (reference §2.2): CASE/COALESCE/NULLIF,
    CAST, LIKE, string functions — all whole-stage-codegen built-ins."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.when(F.col("p_size") > 25, "large")
        .when(F.col("p_size") > 10, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#11")), F.lit("OTHER")).alias(
            "brand_or_other"
        ),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").cast("long").alias("name_len"),
        F.col("p_name").like("%green%").alias("has_green"),
        # floor, not cast: double→int cast truncates toward zero in Spark
        # but ROUNDS in DuckDB — floor is unambiguous in both
        F.floor("p_retailprice").cast("long").alias("price_int"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
    )


@register(
    "q25_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q25(spark, sf_dir):
    """Percentiles (reference PERCENTILE_WITHIN_GROUP sql_ast.py:429-442):
    exact interpolated percentile; approx_percentile is the scale path."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
    )


@register(
    "q26_time_arithmetic",
    """
    SELECT event_type,
           min(date_trunc('day', ts)) AS first_day,
           max(ts + INTERVAL 2 HOUR) AS max_ts_plus_2h,
           floor((epoch(max(ts)) - epoch(min(ts))) / 60)::BIGINT AS span_minutes
    FROM events GROUP BY event_type
    """,
)
def q26(spark, sf_dir):
    """Date/time operators (reference TIME_DELTA/ADD_INTERVAL/trunc-day,
    sql_dialect.py:1181-1202, 1608-1612): trunc, interval add, epoch
    deltas floored to a unit — the freshness arithmetic."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day"),
        F.max(F.expr("ts + INTERVAL 2 HOUR")).alias("max_ts_plus_2h"),
        F.floor(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))) / 60
        ).alias("span_minutes"),
    )


@register(
    "q27_set_ops",
    """
    SELECT status, n FROM (
      SELECT 'high' AS status, count(*) AS n FROM orders WHERE o_totalprice > 200000
      UNION ALL
      SELECT 'open' AS status, count(*) AS n FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT 'urgent' AS status, count(*) AS n FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
)
def q27(spark, sf_dir):
    """Set operators (reference UNION/UNION_ALL sql_ast.py:985-1003)."""
    o = _t(spark, sf_dir, "orders")

    def branch(status, cond):
        return o.where(cond).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(status).alias("status"), "n"
        )

    return (
        branch("high", F.col("o_totalprice") > 200000)
        .unionAll(branch("open", F.col("o_orderstatus") == "O"))
        .unionAll(branch("urgent", F.col("o_orderpriority") == "1-URGENT"))
    )


@register(
    "q29_dispersion",
    """
    SELECT l_linestatus,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_discount), 8) AS var_discount
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q29(spark, sf_dir):
    """Dispersion aggregates (reference STDDEV_SAMP/VAR_SAMP
    sql_ast.py:543-554)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 8).alias("var_discount"),
    )


@register(
    "q30_approx_distinct",
    """
    SELECT count(DISTINCT l_orderkey) AS exact_orders,
           true AS approx_within_tol
    FROM lineitem
    """,
)
def q30(spark, sf_dir):
    """approx_count_distinct — the scalable variant of the duplicate
    check's exact COUNT DISTINCT (SURVEY §2.2: not in the reference,
    needed at 10^12 rows). The HLL sketch value is engine-specific, so the
    oracled contract is the deterministic part: the exact count plus the
    sketch's accuracy guarantee (|approx−exact|/exact ≤ 5σ at rsd=0.01 —
    Spark computes it genuinely; the oracle asserts it holds)."""
    li = _t(spark, sf_dir, "lineitem")
    approx = F.approx_count_distinct("l_orderkey", rsd=0.01)
    exact = F.countDistinct("l_orderkey")
    return li.agg(
        exact.alias("exact_orders"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            / exact.cast("double")
            <= 0.05
        ).alias("approx_within_tol"),
    )


def _q28_sql() -> str:
    from soda_core_spark.operators.sampling import hash_sample_sql_predicate

    pred = hash_sample_sql_predicate("o_orderkey::VARCHAR", 2)
    return f"""
    SELECT count(*) AS sampled_rows,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders WHERE {pred}
    """


@register("q28_sampling", _q28_sql())
def q28(spark, sf_dir):
    """Sampling (reference FROM.SAMPLE sql_ast.py:113-124), done the
    engine-portable way: a deterministic md5-bucket filter at rate 2/16
    (soda_core_spark.operators.sampling.hash_sample). ``df.sample`` stays
    in the library for Spark-only use; the registry entry is the portable
    primitive so the cross-engine oracle is exact, not statistical."""
    from soda_core_spark.operators.sampling import hash_sample

    o = _t(spark, sf_dir, "orders")
    return hash_sample(o, F.col("o_orderkey").cast("string"), 2).agg(
        F.count(F.lit(1)).alias("sampled_rows"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Text analysis / quality over documents
# ---------------------------------------------------------------------------

_WORDS_SQL = "list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), x -> x <> '')"
_SW_LIST_SQL = "[" + ",".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


@register(
    "q11_doc_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len({_WORDS_SQL}) AS n_words,
           round(CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE / length(text)
                 ELSE 0.0 END, 6) AS alnum_ratio
    FROM documents
    """,
)
def q11(spark, sf_dir):
    """Token counting + symbol ratio (text-analysis operators) — built-in
    functions only, mirrored in ANSI-ish SQL."""
    from soda_core_spark.functions.text import alnum_ratio

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        F.size(words_col(t)).cast("long").alias("n_words"),
        F.round(alnum_ratio(t), 6).alias("alnum_ratio"),
    )


@register(
    "q12_doc_fingerprints",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '[ \\t\\n\\r]+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q12(spark, sf_dir):
    """Exact-dedup fingerprint (document fingerprinting operator):
    md5 over whitespace-normalized lowercased text."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("fp"))


@register(
    "q13_dedup_classes",
    """
    SELECT fp, count(*) AS n_copies, min(doc_id) AS min_id
    FROM (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '[ \\t\\n\\r]+', ' ', 'g'))) AS fp
      FROM documents
    ) GROUP BY fp HAVING count(*) > 1
    """,
)
def q13(spark, sf_dir):
    """Exact dedup classes (hash-groupBy dedup operator)."""
    from soda_core_spark.operators.dedup import duplicate_classes

    d = _t(spark, sf_dir, "documents")
    return duplicate_classes(d).select(
        "fp", F.col("n_copies"), F.col("min_id")
    )


@register(
    "q14_stopword_density",
    f"""
    SELECT doc_id,
           round(CASE WHEN len({_WORDS_SQL}) > 0
                 THEN len(list_filter({_WORDS_SQL},
                          x -> list_contains({_SW_LIST_SQL}, lower(x))))::DOUBLE
                      / len({_WORDS_SQL})
                 ELSE 0.0 END, 6) AS stopword_density
    FROM documents
    """,
)
def q14(spark, sf_dir):
    """Stopword density (language/quality scoring) — higher-order filter
    vs DuckDB list lambda."""
    from soda_core_spark.functions.text import stopword_density

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(stopword_density(words_col(F.col("text"))), 6).alias(
            "stopword_density"
        ),
    )


@register(
    "q15_bigram_repetition",
    f"""
    SELECT doc_id,
           round(CASE WHEN len(w) >= 2 THEN
             1.0 - len(list_distinct(list_transform(range(1, len(w)),
                       i -> w[i] || chr(31) || w[i+1])))::DOUBLE
                   / (len(w) - 1)
           ELSE 0.0 END, 6) AS bigram_repetition
    FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
    """,
)
def q15(spark, sf_dir):
    """Repetition signal (boilerplate detection)."""
    from soda_core_spark.functions.text import bigram_repetition

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(bigram_repetition(words_col(F.col("text"))), 6).alias(
            "bigram_repetition"
        ),
    )


@register(
    "q16_quality_flags",
    f"""
    SELECT doc_id,
           coalesce(length(text) < 150, TRUE) AS fail_min_chars,
           coalesce(len({_WORDS_SQL}) < 20, TRUE) AS fail_min_words,
           coalesce(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
             / length(text) < 0.55, TRUE) AS fail_alnum,
           NOT (coalesce(length(text) < 150, TRUE)
                OR coalesce(len({_WORDS_SQL}) < 20, TRUE)
                OR coalesce(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
                   / length(text) < 0.55, TRUE)) AS keep
    FROM documents
    """,
)
def q16(spark, sf_dir):
    """The keep/drop compiler on SQL-expressible rules: per-row fail flags
    + keep (the quality_filter core, oracle-checked end to end).

    NULL policy is FAIL-CLOSED and explicit on both engines: a NULL
    text fails every rule and is never kept. Left implicit, the two
    engines disagree — Spark's non-ANSI ``size(NULL)`` is -1 (so
    ``< 20`` is TRUE) while DuckDB's ``len(NULL)`` is NULL."""
    from soda_core_spark.functions.text import alnum_ratio

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")

    def _fc(c):
        return F.coalesce(c, F.lit(True))

    f1 = _fc(F.length(t) < 150)
    f2 = _fc(F.size(words_col(t)) < 20)
    f3 = _fc(alnum_ratio(t) < 0.55)
    return d.select(
        "doc_id",
        f1.alias("fail_min_chars"),
        f2.alias("fail_min_words"),
        f3.alias("fail_alnum"),
        (~(f1 | f2 | f3)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@register(
    "q17_topk_cosine",
    """
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos_sim,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                      c.vec_id
           ) AS rank
    FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 3) q
    WHERE c.vec_id <> q.vec_id
    QUALIFY rank <= 3
    """,
)
def q17(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline)."""
    e = _t(spark, sf_dir, "embeddings")
    res = brute_force_topk(e, e.where(F.col("vec_id") < 3), k=3)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "q31_embedding_near_dups",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
    """,
)
def q31(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs baseline at test
    scale; SRP-bucketed variant is the scale path — similarity.py).
    Threshold 0.35 ≈ the p99.9 of this synthetic table's cosine
    distribution (max 0.513 — random vectors have no true dups), so the
    oracle-checked result is small but non-empty."""
    from soda_core_spark.operators.similarity import embedding_near_duplicates

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(e, dim=0, threshold=0.35, n_planes=0)
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim")
    )


@register(
    "q32_token_counts",
    """
    SELECT doc_id,
           (len(regexp_extract_all(text, '[A-Za-z0-9]+'))
            + length(regexp_replace(text,
                '[A-Za-z0-9 \\t\\n\\r]', '', 'g'))) AS n_tokens
    FROM documents
    """,
)
def q32(spark, sf_dir):
    """BPE-ish token count (alnum runs + symbol chars) — training-data
    budgeting over the documents table."""
    from soda_core_spark.functions.text import token_count_bpe_ish

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", token_count_bpe_ish(F.col("text")).cast("long").alias("n_tokens")
    )


# ---------------------------------------------------------------------------
# Non-SQL-expressible operators (rows-only driver check)
# ---------------------------------------------------------------------------


# DuckDB twin of operators.dedup.shingle_frame(df, id, text, 3): lowercased
# whitespace-split words; >=3 words -> distinct word trigrams, else the
# whole (joined) word list as a single shingle. Token-less docs (empty,
# NULL, or only spaces/tabs/newlines) are excluded upstream in both engines.
_SHINGLES_CTE = """
    base AS (
      SELECT doc_id AS id,
             list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                               '[ \\t\\n\\r]+'),
                         x -> x <> '') AS w
      FROM documents
      WHERE length(trim(coalesce(text, ''),
                        ' ' || chr(9) || chr(10) || chr(13))) > 0
    ),
    sh AS (
      SELECT id,
             CASE WHEN len(w) >= 3 THEN
               list_distinct(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
             ELSE [array_to_string(w, ' ')] END AS shl
      FROM base
    )
"""


# DuckDB twin of operators.dedup.portable_token_hash: first 15 hex digits
# of md5 parsed base-16 into a 60-bit BIGINT.
_P_HASH_SQL = (
    "list_reduce(list_transform(range(1, 16),"
    " i -> (strpos('0123456789abcdef', substr(md5({v}), i, 1)) - 1)::BIGINT),"
    " (a, b) -> a * 16 + b)"
)

# Full SimHash pipeline in SQL over the portable token hash: explode
# tokens, majority-vote each of the 60 bits, reassemble; token-less docs
# get 0 via the left join.
_SIMHASH_CTE = f"""
    w AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                      '[ \\t\\n\\r]+'),
                    x -> x <> '')) AS w
      FROM documents
    ),
    h AS (SELECT doc_id, {_P_HASH_SQL.format(v='w')} AS h FROM w),
    v AS (
      SELECT doc_id, bb.b AS b,
             sum(CASE WHEN ((h >> bb.b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bb
      GROUP BY doc_id, bb.b
    ),
    s AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS simhash
      FROM v GROUP BY doc_id
    ),
    sims AS (
      SELECT d.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
      FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    )
"""


@register(
    "q18_minhash_near_dups",
    f"""
    WITH {_SHINGLES_CTE},
    ex AS (SELECT id, unnest(shl) AS s FROM sh),
    sig AS (
      SELECT id, i, min(md5(i::VARCHAR || '|' || s)) AS m
      FROM ex CROSS JOIN (SELECT unnest(range(16)) AS i) r
      GROUP BY id, i
    ),
    band AS (
      SELECT id, md5((i // 4)::VARCHAR || ',' || string_agg(m, ',' ORDER BY i)) AS bk
      FROM sig GROUP BY id, (i // 4)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM band a JOIN band b ON a.bk = b.bk AND a.id < b.id
    )
    SELECT c.id_a, c.id_b,
           len(list_intersect(sa.shl, sb.shl))::DOUBLE
             / len(list_distinct(sa.shl || sb.shl)) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.id = c.id_a
    JOIN sh sb ON sb.id = c.id_b
    WHERE len(list_intersect(sa.shl, sb.shl))::DOUBLE
            / len(list_distinct(sa.shl || sb.shl)) >= 0.5
    """,
)
def q18(spark, sf_dir):
    """MinHash+LSH near-dup pairs over documents, portable-hash mode: md5
    signatures and band keys are reproduced verbatim by the DuckDB oracle
    (signature → banding → candidate join → exact-Jaccard verify). The
    xxhash64 hot path stays the library default (dedup.py)."""
    d = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        d, num_hashes=16, bands=4, jaccard_threshold=0.5, portable_hash=True
    )


@register(
    "q19_simhash",
    f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sims",
)
def q19(spark, sf_dir):
    """SimHash fingerprints (60-bit portable token hash): the DuckDB
    oracle re-runs the explode → per-bit majority vote → reassemble
    pipeline bit-for-bit. xxhash64/64-bit stays the library default."""
    from soda_core_spark.operators.dedup import simhash_df

    d = _t(spark, sf_dir, "documents")
    return simhash_df(d, bits=60, portable_hash=True)


@register(
    "q38_simhash_near_dups",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q38(spark, sf_dir):
    """SimHash near-dup pairs within Hamming ≤ 3, found via pigeonhole
    block equi-joins (exact within the ball — dedup.py). The oracle is a
    genuinely independent algorithm: brute-force all-pairs bit_count over
    the same portable fingerprints, so it verifies both the fingerprint
    AND the completeness of the block-join candidate generation."""
    from soda_core_spark.operators.dedup import simhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        d, max_hamming=3, bits=60, portable_hash=True
    )


def _q20_sql() -> str:
    # The langid "model" is per-language function-word sets; score(lang) =
    # |tokens ∩ set| / |tokens|, pred = argmax (first language in sorted
    # order on ties — pandas idxmax semantics), conf = max, 'und' when no
    # token hits any set. All exact integer counts and one IEEE double
    # division per language, so the DuckDB twin is value-identical.
    from soda_core_spark.functions.langid import LANGS, LANG_WORDS

    toks = (
        "list_filter(regexp_split_to_array(lower(coalesce(text, '')),"
        " '[ \\t\\n\\r]+'), x -> x <> '')"
    )
    counts = ",\n           ".join(
        "len(list_filter(toks, x -> list_contains(["
        + ",".join(f"'{w}'" for w in sorted(LANG_WORDS[lang]))
        + f"], x)))::BIGINT AS c_{lang}"
        for lang in LANGS
    )
    fracs = ",\n           ".join(
        f"CASE WHEN n > 0 THEN c_{lang}::DOUBLE / n ELSE 0.0 END AS f_{lang}"
        for lang in LANGS
    )
    conf = "greatest(" + ", ".join(f"f_{lang}" for lang in LANGS) + ")"
    pred = "CASE WHEN conf <= 0.0 THEN 'und' " + " ".join(
        f"WHEN f_{lang} = conf THEN '{lang}'" for lang in LANGS
    ) + " END"
    return f"""
    WITH w AS (
      SELECT doc_id, lang, {toks} AS toks FROM documents
    ),
    sc AS (
      SELECT doc_id, lang, len(toks)::BIGINT AS n,
           {counts}
      FROM w
    ),
    fr AS (
      SELECT doc_id, lang, n,
           {fracs}
      FROM sc
    ),
    agg AS (SELECT doc_id, lang, {conf} AS conf, * EXCLUDE (doc_id, lang, n) FROM fr)
    SELECT doc_id,
           {pred} AS langid_pred,
           round(conf, 6) AS langid_conf,
           ({pred} = lang) AS agrees
    FROM agg
    """


@register("q20_langid_scores", _q20_sql())
def q20(spark, sf_dir):
    """Language ID over documents (the pipeline's scorer,
    ``attach_langid``: per-language hit counts from the row-signal
    counter, argmax in the JVM) + agreement with the declared lang
    column. The model (function-word sets) is shared as data with the
    DuckDB oracle, which re-derives scores/argmax in SQL — exact integer
    counts, so the cross-engine compare is exact."""
    from soda_core_spark.functions.langid import attach_langid

    d = _t(spark, sf_dir, "documents")
    out = attach_langid(d, "text")
    return out.select(
        "doc_id",
        "langid_pred",
        F.round(F.col("langid_conf"), 6).alias("langid_conf"),
        (F.col("langid_pred") == F.col("lang")).alias("agrees"),
    )


def _q21_sql() -> str:
    # The oracle applies the SAME ordered rule chain with DuckDB's RE2 —
    # verified byte-identical to Python `re` on these patterns (simple
    # alternations/quantifiers; no backtracking-order divergence).
    # Deterministic PII is prepended per row — including an Arabic-Indic
    # digit SSN, which only the digit-fold pre-pass can catch — so every
    # rule AND the fold FIRE in the compared output (the sf documents
    # contain none naturally; without the injection the oracle would be
    # vacuous). The fold is DuckDB translate() with the same FROM/TO
    # tables the Python side uses (shared as data).
    from soda_core_spark.functions.scrub import (
        ALL_RULES,
        DIGIT_FOLD_FROM,
        DIGIT_FOLD_TO,
    )

    inject = (
        "'mail u' || doc_id::VARCHAR || '@example.com ssn 123-45-6789 "
        "ssn2 ١٢٣-٤٥-٦٧٨٩ "
        "tel +1 (555) 123-4567 ip 10.0.0.1 ip6 2001:db8::aa "
        "card 4111 1111 1111 1111 frakking ' || coalesce(text, '')"
    )
    inject = (
        f"translate({inject}, '{DIGIT_FOLD_FROM}', '{DIGIT_FOLD_TO}')"
    )
    scrub_expr = "text2"
    hit_terms = []
    for _name, pat, repl in ALL_RULES:
        p = pat.replace("'", "''")
        scrub_expr = f"regexp_replace({scrub_expr}, '{p}', '{repl}', 'g')"
        hit_terms.append(f"len(regexp_extract_all(text2, '{p}'))")
    hits = " + ".join(hit_terms)
    return f"""
    WITH t AS (SELECT doc_id, {inject} AS text2 FROM documents)
    SELECT doc_id, {scrub_expr} AS text_scrubbed, ({hits})::BIGINT AS pii_hits
    FROM t
    """


@register("q21_scrub", _q21_sql())
def q21(spark, sf_dir):
    """PII/toxicity scrub (the pipeline's Python-re delta UDF, coalesced
    with the input: ``scrub.scrubbed``) with deterministic PII injected
    per row — including an Arabic-Indic-digit SSN that only the Unicode
    digit-fold pre-pass catches — so the cross-engine oracle exercises
    every rule AND the fold on every document; byte-identical output is
    the north-rule criterion. The UDF folds internally; the oracle folds
    via DuckDB translate() with the shared FROM/TO tables."""
    from soda_core_spark.functions.scrub import pii_count_udf, scrubbed

    d = _t(spark, sf_dir, "documents")
    text2 = F.concat(
        F.lit("mail u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ssn 123-45-6789 ssn2 ١٢٣-٤٥-٦٧٨٩ "),
        F.lit("tel +1 (555) 123-4567 ip 10.0.0.1 ip6 2001:db8::aa "
              "card 4111 1111 1111 1111 frakking "),
        F.coalesce(F.col("text"), F.lit("")),
    )
    return d.select(
        "doc_id",
        scrubbed(text2).alias("text_scrubbed"),
        pii_count_udf(text2).alias("pii_hits"),
    )


def _q22_sql() -> str:
    # The perplexity model is a char-trigram LM with add-k smoothing
    # trained on a frozen seed corpus. The oracle RE-TRAINS the same model
    # in SQL from the same (shared-as-data) normalized seed string:
    # lp(t3) = ln((tri_count + k) / (bi_count + k·V)), score = −mean(lp)
    # over a document's trigrams, 20.0 sentinel for <3-char docs. Counts
    # are exact integers; ln/avg agree with np.log/np.mean to ~1e-14 ≪
    # the round(6) grain.
    from soda_core_spark.functions.perplexity import (
        _ALPHABET,
        _K,
        _normalize,
        _SEED_CORPUS,
    )

    seed_body = " ".join(_normalize(_SEED_CORPUS).split())
    assert "'" not in seed_body
    kv = _K * len(_ALPHABET)
    norm = (
        "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),"
        " '[^a-z ]', ' ', 'g'), ' +', ' ', 'g'))"
    )
    return f"""
    WITH seed(body) AS (SELECT '{seed_body}'),
    st AS (
      SELECT unnest(list_transform(range(1, length(body) - 1),
                                   i -> substr(body, i, 3))) AS t
      FROM seed
    ),
    tri AS (SELECT t, count(*)::DOUBLE AS c FROM st GROUP BY t),
    bi AS (SELECT substr(t, 1, 2) AS b, count(*)::DOUBLE AS c
           FROM st GROUP BY substr(t, 1, 2)),
    norm AS (SELECT doc_id, {norm} AS body FROM documents),
    dt AS (
      SELECT doc_id, unnest(list_transform(range(1, length(body) - 1),
                                           i -> substr(body, i, 3))) AS t
      FROM norm WHERE length(body) >= 3
    ),
    scored AS (
      SELECT dt.doc_id,
             ln((coalesce(tri.c, 0) + {_K}) / (coalesce(bi.c, 0) + {kv})) AS lp
      FROM dt
      LEFT JOIN tri ON dt.t = tri.t
      LEFT JOIN bi ON substr(dt.t, 1, 2) = bi.b
    )
    SELECT doc_id, round(-avg(lp), 6) AS log_ppl FROM scored GROUP BY doc_id
    UNION ALL
    SELECT doc_id, 20.0 AS log_ppl FROM norm WHERE length(body) < 3
    """


@register("q22_perplexity", _q22_sql())
def q22(spark, sf_dir):
    """Char-trigram perplexity scoring, the pipeline's form: JVM
    normalization (``normalized_for_ppl``), then a pandas UDF gathers the
    trigram log-probs; the DuckDB oracle re-trains the identical model
    from the shared seed corpus and re-scores every document in SQL."""
    from soda_core_spark.functions.perplexity import (
        normalized_for_ppl,
        perplexity_prenorm_udf,
    )

    d = _t(spark, sf_dir, "documents")
    ppl = perplexity_prenorm_udf(normalized_for_ppl(F.col("text")))
    return d.select("doc_id", F.round(ppl, 6).alias("log_ppl"))




@register(
    "q33_ngram_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, len(shl)::BIGINT AS n_sh FROM sh),
    ex AS (SELECT id, unnest(shl) AS s FROM sh),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared,
           round(n_shared::DOUBLE / (na.n_sh + nb.n_sh - n_shared), 6) AS jaccard
    FROM inter
    JOIN sizes na ON inter.id_a = na.id
    JOIN sizes nb ON inter.id_b = nb.id
    WHERE n_shared::DOUBLE / (na.n_sh + nb.n_sh - n_shared) >= 0.2
    """,
)
def q33(spark, sf_dir):
    """Exact all-pairs n-gram Jaccard near-dup pairs via inverted-index
    self-join — the oracle-able exact twin of q18's MinHash+LSH."""
    from soda_core_spark.operators.dedup import ngram_jaccard_all_pairs

    d = _t(spark, sf_dir, "documents")
    # max_doc_freq=None: exact mode for oracle parity (the finite
    # default cap is the corpus-scale safety)
    return ngram_jaccard_all_pairs(d, n=3, threshold=0.2, max_doc_freq=None)


@register(
    "q34_decontamination",
    f"""
    WITH {_SHINGLES_CTE},
    bench AS (SELECT DISTINCT unnest(shl) AS s FROM sh WHERE id % 50 = 0),
    train AS (SELECT * FROM sh WHERE id % 50 <> 0),
    sizes AS (SELECT id, len(shl)::BIGINT AS n_sh FROM train),
    hits AS (
      SELECT t.id, count(*)::BIGINT AS n_overlap
      FROM (SELECT id, unnest(shl) AS s FROM train) t
      WHERE t.s IN (SELECT s FROM bench)
      GROUP BY t.id
    )
    SELECT sizes.id AS doc_id, n_sh,
           coalesce(n_overlap, 0)::BIGINT AS n_overlap,
           round(coalesce(n_overlap, 0)::DOUBLE / n_sh, 6) AS overlap,
           coalesce(n_overlap, 0)::DOUBLE / n_sh >= 0.8 AS contaminated
    FROM sizes LEFT JOIN hits ON sizes.id = hits.id
    """,
)
def q34(spark, sf_dir):
    """Benchmark decontamination: flag training docs whose shingle set
    overlaps an eval set (docs with doc_id % 50 == 0) at >= 0.8."""
    from soda_core_spark.operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    train = d.where(F.col("doc_id") % 50 != 0)
    return decontaminate(train, bench, n=3, overlap_threshold=0.8)


@register(
    "q35_hash_sample",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE substr(md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR), 1, 1)
          IN ('0', '1')
    """,
)
def q35(spark, sf_dir):
    """Deterministic engine-portable sampling: md5 of a stable row key,
    keep first hex digit in {0,1} (exact 1/8 expected rate). Unlike
    df.sample (q28, engine-specific RNG) this is reproducible across
    engines, restarts, and repartitioning — the right primitive for
    resumable corpus subsampling at scale (pure filter: pushes past the
    scan with no shuffle)."""
    from soda_core_spark.operators.sampling import hash_sample

    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    return hash_sample(li, key, 2).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "q36_host_cap_sample",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      FROM documents)
    WHERE rn <= 10
    """,
)
def q36(spark, sf_dir):
    """Per-host corpus balancing: deterministic cap of 10 docs per source
    (md5-ordered, engine-portable — the same survivors everywhere)."""
    from soda_core_spark.operators.dedup import per_group_cap

    d = _t(spark, sf_dir, "documents")
    # skew_guard exercises the two-stage exact top-k under the oracle —
    # survivors are provably identical to the plain window
    return per_group_cap(
        d, group_col="source", id_col="doc_id", cap=10, skew_guard=True
    ).select(
        "doc_id", "source"
    )


@register(
    "q37_ivf_topk",
    """
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos_sim,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                      c.vec_id
           ) AS rank
    FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 20) q
    WHERE c.vec_id <> q.vec_id
    QUALIFY rank <= 5
    """,
)
def q37(spark, sf_dir):
    """IVF-flat ANN: deterministic spherical k-means coarse quantizer +
    nprobe-cell search with exact cosine re-rank (the scale path beside
    q17's brute force). Registered at nprobe = n_centroids (full probe),
    where IVF is provably exact — so the whole machinery (quantizer
    training, cell assignment, probe-cell join, re-rank) runs under a real
    brute-force oracle; the recall/pruning behaviour at nprobe < K is
    covered by tests/test_dedup_similarity.py."""
    from soda_core_spark.operators.similarity import ivf_topk, kmeans_centroids

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    cents = kmeans_centroids(emb, n_centroids=16, n_iters=2)
    res = ivf_topk(emb, queries, cents, k=5, nprobe=16)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "q39_duplicated_ngrams",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                               '[ \\t\\n\\r]+'),
                         x -> x <> '') AS wds
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(wds) >= 8 THEN
               list_transform(range(1, len(wds) - 6),
                              i -> array_to_string(wds[i:i+7], ' '))
             ELSE []::VARCHAR[] END AS grams
      FROM w
    ),
    ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    dupg AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM ex)
      GROUP BY gram HAVING count(*) >= 2
    ),
    dc AS (
      SELECT doc_id, count(*)::BIGINT AS n_dup_windows
      FROM ex WHERE gram IN (SELECT gram FROM dupg)
      GROUP BY doc_id
    )
    SELECT g.doc_id,
           len(grams)::BIGINT AS n_windows,
           coalesce(dc.n_dup_windows, 0)::BIGINT AS n_dup_windows,
           round(CASE WHEN len(grams) > 0
                 THEN coalesce(dc.n_dup_windows, 0)::DOUBLE / len(grams)
                 ELSE 0.0 END, 6) AS dup_fraction
    FROM g LEFT JOIN dc ON g.doc_id = dc.doc_id
    """,
)
def q39(spark, sf_dir):
    """Repeated-substring duplication signal (suffix-array-style, Lee et
    al. 2021, Spark-shaped): fraction of each doc's 8-token windows whose
    n-gram occurs in ≥2 distinct documents."""
    from soda_core_spark.operators.dedup import duplicated_ngram_stats

    d = _t(spark, sf_dir, "documents")
    return duplicated_ngram_stats(d, n=8, min_docs=2)


def _signal_feats_sql() -> dict[str, str]:
    """DuckDB expressions for functions.classifier.quality_features —
    shared by q40/q60/q61 (frozen-weight scoring) and q72 (training)."""
    return {
        "log_chars": "least(ln(1.0 + length(coalesce(text, ''))), ln(20001.0))",
        "stopword_density": f"""CASE WHEN len({_WORDS_SQL}) > 0
                 THEN len(list_filter({_WORDS_SQL},
                          x -> list_contains({_SW_LIST_SQL}, lower(x))))::DOUBLE
                      / len({_WORDS_SQL})
                 ELSE 0.0 END""",
        "alnum_ratio": """CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE / length(text)
                 ELSE 0.0 END""",
        "bigram_repetition": f"""CASE WHEN len({_WORDS_SQL}) >= 2 THEN
             1.0 - len(list_distinct(list_transform(range(1, len({_WORDS_SQL})),
                       i -> ({_WORDS_SQL})[i] || chr(31) || ({_WORDS_SQL})[i+1])))::DOUBLE
                   / (len({_WORDS_SQL}) - 1)
           ELSE 0.0 END""",
    }


def _quality_score_sql() -> str:
    """DuckDB expression for functions.classifier.quality_score(text),
    UNROUNDED — the classifier is linear-over-signals + sigmoid; weights
    are shared data, features reuse the already-oracled q11/q14/q15
    formulations. Shared by q40 (scores), q60 (weighted sampling) and
    q61 (per-language buckets)."""
    from soda_core_spark.functions.classifier import INTERCEPT, WEIGHTS

    feats = _signal_feats_sql()
    z = f"({INTERCEPT} " + " ".join(
        f"+ ({w}) * ({feats[name]})" for name, w in WEIGHTS.items()
    ) + ")"
    return f"(1.0 / (1.0 + exp(-{z})))"


def _q40_sql() -> str:
    s = _quality_score_sql()
    return f"""
    SELECT doc_id,
           round({s}, 6) AS quality_score,
           ({s} >= 0.5) AS keep
    FROM documents
    """


@register("q40_quality_classifier", _q40_sql())
def q40(spark, sf_dir):
    """Logistic quality classifier over the heuristic signals — model
    weights shared as data with the SQL oracle, inference pure codegen
    arithmetic (functions/classifier.py)."""
    from soda_core_spark.functions.classifier import quality_score

    d = _t(spark, sf_dir, "documents")
    score = quality_score(F.col("text"))
    return d.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


@register(
    "q41_chunking",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(coalesce(text, ''),
                                               '[ \\t\\n\\r]+'),
                         x -> x <> '') AS wds
      FROM documents
    ),
    n AS (
      SELECT doc_id, wds, len(wds) AS k,
             CASE WHEN len(wds) <= 0 THEN 0
                  WHEN len(wds) <= 64 THEN 1
                  ELSE 1 + (len(wds) - 64 + 47) // 48 END AS n_chunks
      FROM w
    ),
    ex AS (
      SELECT doc_id, wds, k,
             unnest(range(n_chunks)) AS chunk_idx
      FROM n WHERE n_chunks > 0
    )
    SELECT doc_id,
           chunk_idx::BIGINT AS chunk_idx,
           least(64, k - chunk_idx * 48)::BIGINT AS n_tokens,
           array_to_string(wds[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text
    FROM ex
    """,
)
def q41(spark, sf_dir):
    """Context-window chunking: 64-token windows advancing by 48 (16-token
    overlap) — the pre-tokenization splitting step of an LLM pipeline,
    pure column algebra (operators/chunking.py)."""
    from soda_core_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_size=64, stride=48)


def _q42_fixed_codebooks() -> list:
    # deterministic LCG codebooks (8 subspaces x 16 codes x 8 dims): the
    # registry entry verifies the ENCODE machinery under an exact oracle,
    # which needs sf-independent codebooks embeddable in static SQL;
    # data-trained codebooks (pq_train) are exercised by the local
    # recall/reconstruction tests instead
    from soda_core_spark.operators.similarity import _random_planes

    flat = _random_planes(8, 8 * 16, seed=7)  # 128 rows of 8 dims
    return [[flat[s * 16 + c] for c in range(16)] for s in range(8)]


def _q42_sql() -> str:
    cbs = _q42_fixed_codebooks()
    rows = []
    for s, cb in enumerate(cbs):
        for c, cent in enumerate(cb):
            vals = ", ".join(repr(float(x)) for x in cent)
            rows.append(f"({s}, {c}, [{vals}]::DOUBLE[])")
    values = ",\n      ".join(rows)
    return f"""
    WITH cb(s, code, d) AS (VALUES
      {values}
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dist AS (
      SELECT e.vec_id, cb.s, cb.code,
             list_sum(list_transform(range(1, 9),
               i -> (v[cb.s * 8 + i] - d[i]) * (v[cb.s * 8 + i] - d[i]))) AS dd
      FROM e CROSS JOIN cb
    ),
    pick AS (
      SELECT vec_id, s, code,
             row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, code) AS rn
      FROM dist
    )
    SELECT vec_id, s::BIGINT AS s, code::BIGINT AS code
    FROM pick WHERE rn = 1
    """


@register("q42_pq_encode", _q42_sql())
def q42(spark, sf_dir):
    """Product-quantization encoding (Jégou et al. 2011): each 64-dim
    embedding compresses to 8 one-byte codes via per-subspace nearest
    centroid — the representation that lets a 10^12-vector ANN index live
    in memory. Pure column expressions; the DuckDB oracle re-derives
    every argmin from the shared codebook literals."""
    from soda_core_spark.operators.similarity import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    enc = pq_encode(emb, _q42_fixed_codebooks())
    # one scalar row per (vector, subspace): array columns don't sort in
    # the driver's order-insensitive frame compare
    return enc.select(
        "vec_id", F.posexplode("codes").alias("s", "code")
    ).select(
        "vec_id", F.col("s").cast("long").alias("s"),
        F.col("code").cast("long").alias("code"),
    )


_Q44_SQL = """
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                           '[ \t\n\r]+'),
                     x -> x <> '') AS wds
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(wds) >= 8 THEN
           list_transform(range(1, len(wds) - 6),
                          i -> array_to_string(wds[i:i+7], ' '))
         ELSE []::VARCHAR[] END AS grams
  FROM w
),
ex AS (
  SELECT doc_id, i - 1 AS pos, grams[i] AS gram
  FROM g, unnest(range(1, len(grams) + 1)) AS t(i)
),
dupg AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM ex)
  GROUP BY gram HAVING count(*) >= 2
),
hot AS (
  SELECT doc_id, pos FROM ex WHERE gram IN (SELECT gram FROM dupg)
),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
              THEN 0 ELSE 1 END AS new_span
  FROM hot
),
sp AS (
  SELECT doc_id, pos,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM marked
)
SELECT doc_id,
       MIN(pos)::BIGINT AS span_start,
       (MAX(pos) + 8)::BIGINT AS span_end,
       COUNT(*)::BIGINT AS n_positions
FROM sp GROUP BY doc_id, span_id
ORDER BY doc_id, span_start
"""


@register("q44_duplicated_spans", _Q44_SQL)
def q44(spark, sf_dir):
    """WHERE cross-document duplication sits inside each document:
    merged word-offset spans of corpus-duplicated 8-gram runs — the
    trim signal (cut the span, keep the document) refining q39's
    per-doc fraction. The oracle rebuilds the same windows, the same
    dup-gram set, and the same interval merge with DuckDB window
    functions."""
    from soda_core_spark.operators.dedup import duplicated_spans

    d = _t(spark, sf_dir, "documents")
    return duplicated_spans(d, n=8, min_docs=2)


_Q45_SQL = """
WITH w AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                           '[ \t\n\r]+'),
                     x -> x <> '') AS wds
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(wds) >= 8 THEN
           list_transform(range(1, len(wds) - 6),
                          i -> array_to_string(wds[i:i+7], ' '))
         ELSE []::VARCHAR[] END AS grams
  FROM w
),
ex AS (
  SELECT doc_id, i - 1 AS pos, grams[i] AS gram
  FROM g, unnest(range(1, len(grams) + 1)) AS t(i)
),
dupg AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM ex)
  GROUP BY gram HAVING count(*) >= 2
),
hot AS (
  SELECT doc_id, pos FROM ex WHERE gram IN (SELECT gram FROM dupg)
),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
              THEN 0 ELSE 1 END AS new_span
  FROM hot
),
sp AS (
  SELECT doc_id, pos,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM marked
),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end
  FROM sp GROUP BY doc_id, span_id
),
wordpos AS (
  SELECT doc_id, i - 1 AS pos, words[i] AS word
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(coalesce(text, ''),
                                             '[ \t\n\r]+'),
                       x -> x <> '') AS words
    FROM documents
  ), unnest(range(1, len(words) + 1)) AS t(i)
),
kept AS (
  SELECT wp.doc_id, wp.pos, wp.word
  FROM wordpos wp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = wp.doc_id
      AND wp.pos >= s.span_start AND wp.pos < s.span_end
  )
),
agg AS (
  SELECT doc_id,
         string_agg(word, ' ' ORDER BY pos) AS text_trimmed,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, len(words) AS n_words FROM (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text, ''),
                                           '[ \t\n\r]+'),
                     x -> x <> '') AS words
  FROM documents
))
SELECT d.doc_id,
       coalesce(a.text_trimmed, '') AS text_trimmed,
       (tot.n_words - coalesce(a.n_kept, 0))::BIGINT AS n_words_trimmed
FROM documents d
JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""


@register("q45_trim_spans", _Q45_SQL)
def q45(spark, sf_dir):
    """Trim-don't-drop applied: the corpus with its duplicated spans cut
    out (q44's spans removed word-wise, survivors re-joined single-
    spaced). The oracle rebuilds spans AND the word-level removal with
    anti-EXISTS + ordered string_agg — the full operator chain is
    byte-checked end-to-end."""
    from soda_core_spark.operators.dedup import duplicated_spans, trim_spans

    d = _t(spark, sf_dir, "documents")
    spans = duplicated_spans(d, n=8, min_docs=2)
    return trim_spans(d, spans).select("doc_id", "text_trimmed", "n_words_trimmed")


_Q46_SQL = """
WITH base AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                           '[ \t\n\r]+'),
                     x -> x <> '') AS w
  FROM documents
),
lens AS (SELECT id, len(w)::DOUBLE AS dl FROM base),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM lens),
tf AS (
  SELECT id, term, count(*)::DOUBLE AS tf
  FROM (SELECT id, unnest(w) AS term FROM base)
  WHERE term IN ('filter', 'hash', 'join')
  GROUP BY id, term
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df_ FROM tf GROUP BY term),
scored AS (
  SELECT tf.id,
         ln((s.n_docs - d.df_ + 0.5) / (d.df_ + 0.5) + 1.0)
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS contrib
  FROM tf JOIN dfreq d USING (term)
          JOIN lens l ON tf.id = l.id
          CROSS JOIN stats s
)
SELECT id AS doc_id,
       round(SUM(contrib), 6) AS bm25,
       count(*)::BIGINT AS n_terms_matched
FROM scored GROUP BY id
ORDER BY SUM(contrib) DESC, id
LIMIT 15
"""


@register("q46_bm25_search", _Q46_SQL)
def q46(spark, sf_dir):
    """Okapi BM25 keyword search over the corpus (query: filter hash
    join, k=15) — the inspect-your-training-data retrieval tool. The
    query-term filter lands BEFORE any shuffle, so the scored relation
    is |terms| x matching docs, never the corpus token stream; per-term
    document frequencies and corpus stats broadcast. The oracle
    recomputes the identical formula in SQL."""
    from soda_core_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, ["filter", "hash", "join"], k=15)


_Q47_SQL = """
SELECT doc_id,
       CASE WHEN lower(source) IN ('src3', 'src7') THEN 'host'
            WHEN len(list_filter(
                   list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                     '[ \t\n\r]+'),
                               x -> x <> ''),
                   x -> x IN ('slow', 'broken'))) > 0 THEN 'term'
            ELSE NULL END AS block_reason,
       CASE WHEN lower(source) IN ('src3', 'src7') THEN TRUE
            WHEN len(list_filter(
                   list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                     '[ \t\n\r]+'),
                               x -> x <> ''),
                   x -> x IN ('slow', 'broken'))) > 0 THEN TRUE
            ELSE FALSE END AS blocked
FROM documents
ORDER BY doc_id
"""


@register("q47_blocklist_filter", _Q47_SQL)
def q47(spark, sf_dir):
    """Source/term blocklist curation (RefinedWeb/UT1 style): blocked
    sources drop with reason 'host', token-exact blocked terms with
    reason 'term' (host precedence). Pure broadcast InSet probes +
    one exists() over the token array — no shuffle, no regex scans."""
    from soda_core_spark.operators.blocklist import blocklist_filter

    d = _t(spark, sf_dir, "documents")
    return blocklist_filter(
        d,
        blocked_hosts=["src3", "src7"],
        blocked_terms=["slow", "broken"],
        host_col="source",
    ).select("doc_id", "block_reason", "blocked")


_Q48_SQL = """
SELECT doc_id, source
FROM documents
WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       / 4294967296.0)
      < (CASE source WHEN 'src1' THEN 0.8 WHEN 'src3' THEN 0.25
                     WHEN 'src5' THEN 0.0 ELSE 0.1 END)
ORDER BY doc_id
"""


@register("q48_stratified_sample", _Q48_SQL)
def q48(spark, sf_dir):
    """Deterministic stratified sampling (training-mix construction):
    per-source keep rates applied through the portable md5 fraction —
    the SAME documents survive in any engine. Pure pushed-down filter,
    no shuffle."""
    from soda_core_spark.operators.sampling import stratified_hash_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(
        d,
        "source",
        {"src1": 0.8, "src3": 0.25, "src5": 0.0},
        key=F.col("doc_id").cast("string"),
        default_fraction=0.1,
    ).select("doc_id", "source").orderBy("doc_id")


_Q49_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM documents
)
SELECT doc_id, source, n_chars::BIGINT AS n_chars
FROM ranked WHERE cum <= 5000
ORDER BY doc_id
"""


@register("q49_token_budget_mix", _Q49_SQL)
def q49(spark, sf_dir):
    """Per-source token-budget selection (data mixing): documents enter
    in portable-hash order until each source's running character total
    crosses the budget — kept set identical across engines because both
    the order and the cumulative sum are hash-determined."""
    from soda_core_spark.operators.sampling import sample_to_token_budget

    d = _t(spark, sf_dir, "documents")
    return (
        sample_to_token_budget(
            d, budget_tokens=5000, token_col="n_chars", group_col="source"
        )
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


_Q43_SQL = """
WITH RECURSIVE edges AS (
  SELECT a.doc_id AS s, b.doc_id AS d
  FROM documents a JOIN documents b
    ON a.source = b.source AND abs(a.n_chars - b.n_chars) <= 10
   AND a.doc_id < b.doc_id
),
sym AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
reach AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
)
SELECT s AS node, LEAST(s, MIN(d)) AS component
FROM reach GROUP BY s ORDER BY node
"""


@register("q43_connected_components", _Q43_SQL)
def q43(spark, sf_dir):
    """Connected components over a near-dup pair table: the step between
    pairwise candidate generation (MinHash/SimHash emit PAIRS) and
    cluster survivor selection — A~B, B~C must land in ONE cluster.
    Spark side: iterative min-label propagation
    (operators/dedup.py connected_components); oracle: DuckDB recursive
    reachability closure + min-label — the same fixed point computed two
    entirely different ways. Edges here are a deterministic similarity
    surrogate (same source, |n_chars| within 10) so both engines build
    the identical graph from the shared table."""
    from soda_core_spark.operators.dedup import connected_components

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    a, b = d.alias("a"), d.alias("b")
    edges = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 10)
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    return connected_components(edges).orderBy("node")


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality/lineage summary over documents: heuristic keep
    flags + dedup + aggregate metrics in one grouped scan — the engine's
    signature shape (quality filter + lineage rollup)."""
    from soda_core_spark.functions.text import alnum_ratio

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    keep = ~(
        (F.length(t) < 150)
        | (F.size(words_col(t)) < 20)
        | (alnum_ratio(t) < 0.55)
    )
    return (
        d.withColumn("keep", keep)
        .withColumn("fp", F.md5(normalized_text(t)))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.countDistinct("fp").alias("n_distinct"),
            F.round(F.avg(F.length(t)), 4).alias("avg_chars"),
        )
        .orderBy("source")
    )


_Q50_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                  '[ \\t\\n\\r]+'),
                            x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (ln((1 + n.n) / (1 + dfreq.df)) + 1.0) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS kw_rank
  FROM scored
)
SELECT doc_id, term, tf::BIGINT AS tf, round(score, 6) AS score,
       kw_rank::INT AS kw_rank
FROM ranked WHERE kw_rank <= 5
ORDER BY doc_id, kw_rank
"""


@register("q50_tfidf_keywords", _Q50_SQL)
def q50(spark, sf_dir):
    """Top-5 TF-IDF keywords per document — smoothed idf, deterministic
    term-asc tie-break; the DuckDB oracle mirrors tokenization, idf
    formula, and ranking exactly (operators/keywords.py)."""
    from soda_core_spark.operators.keywords import tfidf_keywords

    d = _t(spark, sf_dir, "documents")
    out = tfidf_keywords(d, k=5)
    return out.select(
        "doc_id",
        "term",
        "tf",
        F.round("score", 6).alias("score"),
        F.col("rank").alias("kw_rank"),
    ).orderBy("doc_id", "kw_rank")


_Q51_SQL = r"""
WITH t AS (
  -- sf documents are single-paragraph; append a deterministic repeated
  -- paragraph per row so the dup fractions are non-trivial and the
  -- cross-engine compare exercises the whole formula on every document
  SELECT doc_id,
         coalesce(text, '') || chr(10) || chr(10) || 'para ' || source
           || chr(10) || chr(10) || 'uniq ' || doc_id::VARCHAR
           || chr(10) || chr(10) || 'para ' || source AS text2
  FROM documents
),
p AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text2, '\n\n+'),
                     x -> trim(x) <> '') AS paras
  FROM t
),
m AS (
  SELECT doc_id,
         len(paras) AS n,
         len(list_distinct(paras)) AS n_d,
         coalesce(list_sum(list_transform(paras, x -> length(x))), 0) AS tot,
         coalesce(list_sum(list_transform(list_distinct(paras),
                                          x -> length(x))), 0) AS dtot
  FROM p
)
SELECT doc_id,
       CASE WHEN n >= 2 THEN 1.0 - n_d::DOUBLE / n::DOUBLE
            ELSE 0.0 END AS dup_para_frac,
       CASE WHEN n >= 2 AND tot > 0 THEN (tot - dtot)::DOUBLE / tot::DOUBLE
            ELSE 0.0 END AS dup_para_char_frac
FROM m ORDER BY doc_id
"""


@register("q51_paragraph_repetition", _Q51_SQL)
def q51(spark, sf_dir):
    """Gopher-style duplicate-paragraph fractions (count- and
    char-weighted) per document — row-local column algebra, zero
    shuffle; DuckDB oracle mirrors split/trim/distinct/length exactly
    (functions/text.py with_paragraph_signals). A deterministic repeated
    paragraph is appended per row (sf documents are single-paragraph, so
    the compare would otherwise be all-zeros vacuous)."""
    from soda_core_spark.functions.text import with_paragraph_signals

    d = _t(spark, sf_dir, "documents")
    d = d.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\n\npara "), F.col("source"),
            F.lit("\n\nuniq "), F.col("doc_id").cast("string"),
            F.lit("\n\npara "), F.col("source"),
        ),
    )
    return with_paragraph_signals(d).select(
        "doc_id", "dup_para_frac", "dup_para_char_frac"
    ).orderBy("doc_id")


_Q52_SQL = r"""
WITH d AS (
  SELECT doc_id,
         length(coalesce(text, '')) AS nc,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                           '[ \t\n\r]+'),
                     x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, nc, ns.n, array_to_string(w[t.i:t.i + ns.n - 1], ' ') AS gram
  FROM d
  CROSS JOIN (VALUES (2), (3)) ns(n)
  CROSS JOIN LATERAL unnest(range(1, len(w) - ns.n + 2)) t(i)
  WHERE len(w) >= ns.n
),
cnt AS (
  SELECT doc_id, nc, n, gram, COUNT(*) AS cnt FROM grams GROUP BY ALL
),
top AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n
                               ORDER BY cnt DESC, gram ASC) AS rn
  FROM cnt
)
SELECT doc_id, n::BIGINT AS n, gram AS top_ngram, cnt::BIGINT AS top_ngram_count,
       round(least(1.0, (cnt * length(gram))::DOUBLE / nc::DOUBLE), 6)
         AS top_ngram_char_frac
FROM top WHERE rn = 1 ORDER BY doc_id, n
"""


@register("q52_top_ngram_repetition", _Q52_SQL)
def q52(spark, sf_dir):
    """Gopher top-n-gram signal at n=2,3 per document — single explode
    carrying both n values, map-side partial counts, deterministic
    gram-asc tie-break mirrored by the DuckDB oracle
    (functions/text.py top_ngram_char_fractions)."""
    from soda_core_spark.functions.text import top_ngram_char_fractions

    d = _t(spark, sf_dir, "documents")
    out = top_ngram_char_fractions(d, ns=(2, 3))
    return out.select(
        "doc_id",
        F.col("n").cast("long").alias("n"),
        "top_ngram",
        "top_ngram_count",
        F.round("top_ngram_char_frac", 6).alias("top_ngram_char_frac"),
    ).orderBy("doc_id", "n")


def _duck_sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _duck_estr(s: str) -> str:
    return (
        "e'"
        + s.replace("\\", "\\\\").replace("'", "''").replace("\x07", "\\x07")
        + "'"
    )


def _duck_html_chain(expr: str) -> str:
    """Replay functions/html.py HTML_EXTRACT_RULES as DuckDB SQL — built
    FROM the same rule table, so the oracle can never drift from the
    Spark chain."""
    from soda_core_spark.functions.html import (
        HTML_ENTITIES,
        HTML_EXTRACT_RULES,
        _ENTITY_STAGE,
    )

    for i, (pat, rep) in enumerate(HTML_EXTRACT_RULES):
        if i == _ENTITY_STAGE:
            for ent, lit in HTML_ENTITIES:
                expr = f"replace({expr}, {_duck_sq(ent)}, {_duck_sq(lit)})"
        expr = (
            f"regexp_replace({expr}, {_duck_estr(pat)}, "
            f"{_duck_estr(rep)}, 'g')"
        )
    return expr


def _duck_title_chain(expr: str) -> str:
    from soda_core_spark.functions.html import HTML_ENTITIES

    pat = _duck_estr(r"(?is)<title\b[^>]*>(.*?)</title\s*>")
    out = f"regexp_extract({expr}, {pat}, 1)"
    for ent, lit in HTML_ENTITIES:
        out = f"replace({out}, {_duck_sq(ent)}, {_duck_sq(lit)})"
    return rf"nullif(trim(regexp_replace({out}, e'\\s+', ' ', 'g')), '')"


def _q53_sql() -> str:
    html = (
        "'<html><head><title>Doc ' || doc_id::VARCHAR || "
        "' &amp; friends</title></head><body><h1>' || source || "
        "'</h1><p>' || coalesce(text, '') || "
        "'</p><a href=\"/next\">next&nbsp;page</a>"
        "<!-- footer --><div>nav menu</div></body></html>'"
    )
    anchors = (
        "array_to_string(regexp_extract_all(h, "
        + _duck_estr(r"(?is)<a\b[^>]*>(.*?)</a\s*>")
        + ", 1), ' ')"
    )
    return f"""
WITH src AS (SELECT doc_id, {html} AS h FROM documents),
ext AS (
  SELECT doc_id,
         {_duck_html_chain('h')} AS extracted_text,
         {_duck_title_chain('h')} AS title,
         length({_duck_html_chain(anchors)}) AS anchor_len
  FROM src
)
SELECT doc_id, extracted_text, title,
       round(CASE WHEN extracted_text IS NULL THEN NULL
                  WHEN length(extracted_text) > 0
                  THEN least(1.0, anchor_len::DOUBLE
                             / length(extracted_text)::DOUBLE)
                  ELSE 0.0 END, 6) AS link_density
FROM ext ORDER BY doc_id
"""


@register("q53_html_extraction", _q53_sql())
def q53(spark, sf_dir):
    """HTML → text extraction: wrap each document's text in a
    deterministic HTML template (title, heading, anchor, comment, nav
    div — built identically in both engines), then run the pure-JVM
    regexp extraction chain; the DuckDB oracle replays the SAME ordered
    rule table via _duck_html_chain (functions/html.py)."""
    from soda_core_spark.functions.html import with_extracted_text

    d = _t(spark, sf_dir, "documents")
    d = d.withColumn(
        "html",
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit(" &amp; friends</title></head><body><h1>"),
            F.col("source"),
            F.lit("</h1><p>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(
                '</p><a href="/next">next&nbsp;page</a>'
                "<!-- footer --><div>nav menu</div></body></html>"
            ),
        ),
    )
    out = with_extracted_text(d)
    return out.select(
        "doc_id",
        "extracted_text",
        "title",
        F.round("link_density", 6).alias("link_density"),
    ).orderBy("doc_id")


_Q54_SQL = r"""
WITH fp AS (
  SELECT doc_id, source,
         md5(lower(regexp_replace(trim(text), '[ \t\n\r]+', ' ', 'g'))) AS fp
  FROM documents
),
seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 7 = 0),
fresh AS (
  SELECT f.* FROM fp f
  WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = f.fp)
),
surv AS (SELECT fp, MIN(doc_id) AS doc_id FROM fresh GROUP BY fp)
SELECT f.doc_id, f.source FROM fresh f
JOIN surv s ON f.doc_id = s.doc_id
ORDER BY f.doc_id
"""


@register("q54_incremental_dedup", _Q54_SQL)
def q54(spark, sf_dir):
    """Cross-snapshot exact dedup: docs with doc_id % 7 == 0 play the
    already-ingested corpus (only their fingerprints are retained); the
    full table is the new batch. Anti-join on the 16-byte fingerprint +
    min-id in-batch survivor (operators/dedup.py
    incremental_exact_dedup / corpus_fingerprints)."""
    from soda_core_spark.operators.dedup import (
        corpus_fingerprints,
        incremental_exact_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    seen = corpus_fingerprints(d.where(F.col("doc_id") % 7 == 0))
    surv = incremental_exact_dedup(d, seen)
    return surv.select("doc_id", "source").orderBy("doc_id")


_Q55_SQL = r"""
WITH u AS (
  SELECT doc_id,
         'HTTPS://' || upper(source) || '.Example.COM:443/p/'
           || doc_id::VARCHAR
           || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1#frag'
                   WHEN doc_id % 3 = 1 THEN '?a=1&b=2'
                   ELSE '' END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url,
      '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)(?:\?([^#]*))?', 1))
      AS scheme,
    lower(regexp_extract(url,
      '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)(?:\?([^#]*))?', 2))
      AS host0,
    regexp_extract(url,
      '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)(?:\?([^#]*))?', 3)
      AS path0,
    regexp_extract(url,
      '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)(?:\?([^#]*))?', 4)
      AS query0
  FROM u
),
norm AS (
  SELECT doc_id,
    CASE WHEN scheme = 'http'  AND host0 LIKE '%:80'
           THEN substr(host0, 1, length(host0) - 3)
         WHEN scheme = 'https' AND host0 LIKE '%:443'
           THEN substr(host0, 1, length(host0) - 4)
         ELSE host0 END AS host,
    scheme,
    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
    array_to_string(list_sort(list_filter(str_split(query0, '&'),
      p -> p <> '' AND NOT regexp_matches(p,
             '^(utm_[^=]*|fbclid|gclid|msclkid|ref|ref_src)(=|$)'))), '&')
      AS q
  FROM parts
)
SELECT doc_id,
       CASE WHEN scheme <> '' AND host <> ''
            THEN scheme || '://' || host || path
                 || CASE WHEN q <> '' THEN '?' || q ELSE '' END
            END AS canonical_url,
       CASE WHEN regexp_replace(host, ':[0-9]+$', '') <> ''
            THEN regexp_replace(host, ':[0-9]+$', '') END AS url_host
FROM norm ORDER BY doc_id
"""


@register("q55_url_canonicalization", _Q55_SQL)
def q55(spark, sf_dir):
    """URL canonicalization over synthetic URLs built identically in
    both engines (upper-case scheme/host, default :443 port, tracking
    params, fragments): scheme/host lowering, default-port strip,
    fragment drop, tracking-param filter, bytewise param sort — pure
    column algebra (operators/urls.py)."""
    from soda_core_spark.operators.urls import with_canonical_urls

    d = _t(spark, sf_dir, "documents")
    d = d.withColumn(
        "url",
        F.concat(
            F.lit("HTTPS://"),
            F.upper(F.col("source")),
            F.lit(".Example.COM:443/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=x&b=2&a=1#frag"))
            .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2"))
            .otherwise(F.lit("")),
        ),
    )
    return (
        with_canonical_urls(d)
        .select("doc_id", "canonical_url", "url_host")
        .orderBy("doc_id")
    )


_Q56_SQL = r"""
WITH b AS (
  SELECT trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                                            '[^a-z ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS body
  FROM documents
),
tris AS (
  SELECT unnest(list_transform(range(1, length(body) - 1),
                               i -> substr(body, i, 3))) AS trigram
  FROM b WHERE length(body) >= 3
),
cnt AS (SELECT trigram, COUNT(*) AS cnt FROM tris GROUP BY trigram),
ctx AS (
  SELECT trigram, cnt,
         SUM(cnt) OVER (PARTITION BY substr(trigram, 1, 2)) AS ctx_cnt
  FROM cnt
)
SELECT trigram, cnt::BIGINT AS cnt, ctx_cnt::BIGINT AS ctx_cnt,
       round(ln((cnt + 0.1) / (ctx_cnt + 0.1 * 27)), 6) AS logp
FROM ctx ORDER BY trigram
"""


@register("q56_trigram_lm_training", _Q56_SQL)
def q56(spark, sf_dir):
    """Distributed char-trigram LM training (the KenLM lmplz step for
    the scorer's model family): row-local normalize + trigram explode,
    one bounded count shuffle (≤ 27³ keys), add-k conditional log-probs
    via a window sum over context groups
    (functions/perplexity.py train_char_trigram_lm)."""
    from soda_core_spark.functions.perplexity import train_char_trigram_lm

    d = _t(spark, sf_dir, "documents")
    out = train_char_trigram_lm(d)
    return out.select(
        "trigram",
        "cnt",
        F.col("ctx_cnt").cast("long").alias("ctx_cnt"),
        F.round("logp", 6).alias("logp"),
    ).orderBy("trigram")


_Q57_SQL = r"""
SELECT source, lang,
       COUNT(*)::BIGINT AS n_docs,
       SUM(length(coalesce(text, '')))::BIGINT AS total_chars,
       round(quantile_cont(length(coalesce(text, '')), 0.5), 4)
         AS median_chars,
       SUM(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))
           + length(regexp_replace(coalesce(text, ''),
                                   '[A-Za-z0-9 \t\n\r]', '', 'g')))::BIGINT
         AS total_tokens,
       COUNT(DISTINCT md5(lower(regexp_replace(trim(text),
                                               '[ \t\n\r]+', ' ', 'g'))))::BIGINT
         AS distinct_texts,
       round(1.0 - COUNT(DISTINCT md5(lower(regexp_replace(trim(text),
                            '[ \t\n\r]+', ' ', 'g'))))::DOUBLE / COUNT(*),
             6) AS dup_ratio
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""


@register("q57_corpus_profile", _Q57_SQL)
def q57(spark, sf_dir):
    """Dataset-card corpus profile per (source, lang): doc counts, char
    and BPE-ish token totals, exact median doc length, exact-dedup
    ratio — one groupBy with map-side partial aggregation; the exact
    median and COUNT DISTINCT are the only memory-heavy aggregates and
    both have approx twins (percentile_approx / approx_count_distinct)
    for the 10^12-doc regime, per the q25/q30 pattern."""
    from soda_core_spark.functions.text import token_count_bpe_ish
    from soda_core_spark.operators.dedup import normalized_text

    d = _t(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(text)).alias("total_chars"),
            F.round(F.expr("percentile(length(coalesce(text, '')), 0.5)"), 4)
              .alias("median_chars"),
            F.sum(token_count_bpe_ish(text)).cast("long").alias("total_tokens"),
            F.countDistinct(F.md5(normalized_text(F.col("text"))))
              .alias("distinct_texts"),
        )
        .withColumn(
            "dup_ratio",
            F.round(
                F.lit(1.0)
                - F.col("distinct_texts").cast("double") / F.col("n_docs"),
                6,
            ),
        )
        .orderBy("source", "lang")
    )


_Q58_SQL = f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT id, unnest(shl) AS s FROM sh),
sig AS (
  SELECT id, i, min(md5(i::VARCHAR || '|' || s)) AS m
  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS i) r
  GROUP BY id, i
),
band AS (
  SELECT id, md5((i // 4)::VARCHAR || ',' || string_agg(m, ',' ORDER BY i)) AS bk
  FROM sig GROUP BY id, (i // 4)
),
seen AS (SELECT DISTINCT bk FROM band WHERE id % 7 = 0),
hits AS (
  SELECT DISTINCT id FROM band
  WHERE bk IN (SELECT bk FROM seen)
)
SELECT d.doc_id, d.source FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.id = d.doc_id)
ORDER BY d.doc_id
"""


@register("q58_incremental_minhash", _Q58_SQL)
def q58(spark, sf_dir):
    """Cross-snapshot NEAR-dup gate: docs with doc_id % 7 == 0 play the
    already-ingested corpus, persisted only as distinct LSH band keys;
    the full table is the new batch and any document sharing a band
    bucket with history is dropped (candidate semantics, documented
    FP tradeoff). md5 portable mode so the DuckDB oracle replays
    signatures → bands → semi-probe verbatim (operators/dedup.py
    corpus_band_keys / incremental_minhash_dedup)."""
    from soda_core_spark.operators.dedup import (
        corpus_band_keys,
        incremental_minhash_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    seen = corpus_band_keys(
        d.where(F.col("doc_id") % 7 == 0),
        num_hashes=16, bands=4, portable_hash=True,
    )
    surv = incremental_minhash_dedup(
        d, seen, num_hashes=16, bands=4, portable_hash=True
    )
    return surv.select("doc_id", "source").orderBy("doc_id")


def _q59_sql() -> str:
    ph = _P_HASH_SQL.format(v="s")
    return f"""
    WITH {_SHINGLES_CTE},
    bench AS (
      SELECT DISTINCT {ph} AS h
      FROM (SELECT unnest(shl) AS s FROM sh WHERE id % 10 = 0)
    ),
    train AS (SELECT * FROM sh WHERE id % 10 <> 0),
    sizes AS (SELECT id, len(shl)::BIGINT AS n_sh FROM train),
    hits AS (
      SELECT t.id, count(*)::BIGINT AS n_overlap
      FROM (SELECT id, {ph} AS h
            FROM (SELECT id, unnest(shl) AS s FROM train)) t
      WHERE t.h IN (SELECT h FROM bench)
      GROUP BY t.id
    )
    SELECT sizes.id AS doc_id, n_sh,
           coalesce(n_overlap, 0)::BIGINT AS n_overlap,
           round(coalesce(n_overlap, 0)::DOUBLE / n_sh, 6) AS overlap,
           coalesce(n_overlap, 0)::DOUBLE / n_sh >= 0.5 AS contaminated
    FROM sizes LEFT JOIN hits ON sizes.id = hits.id
    """


@register("q59_cross_corpus_decontamination", _q59_sql())
def q59(spark, sf_dir):
    """Cross-corpus decontamination at the no-broadcast scale point: the
    held-out side (doc_id % 10 == 0 — one doc in ten, far beyond an eval
    suite) is NOT broadcast; the probe is a shuffle semi-join keyed on
    the 60-bit portable shingle hash, so the shuffle moves 8-byte keys
    instead of 20-40-byte shingle strings and AQE may still demote the
    join to broadcast when the bench side turns out small. The DuckDB
    oracle replays the hashing, so any hash collision over-counts
    identically in both engines (operators/dedup.py decontaminate,
    broadcast_bench=False)."""
    from soda_core_spark.operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 10 == 0)
    train = d.where(F.col("doc_id") % 10 != 0)
    return decontaminate(
        train,
        bench,
        n=3,
        overlap_threshold=0.5,
        broadcast_bench=False,
        hash_shingles="portable",
    )


def _q60_sql() -> str:
    s = _quality_score_sql()
    return f"""
    WITH scored AS (
      SELECT doc_id, round({s}, 6) AS weight FROM documents
    ),
    keyed AS (
      SELECT doc_id, weight,
             pow((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                  / 4294967296.0),
                 1.0 / weight) AS sel_key
      FROM scored WHERE weight > 0
    )
    SELECT doc_id, weight, round(sel_key, 6) AS sel_key
    FROM keyed ORDER BY keyed.sel_key DESC, doc_id LIMIT 40
    """


@register("q60_weighted_sample", _q60_sql())
def q60(spark, sf_dir):
    """Quality-weighted training-mix selection: Efraimidis-Spirakis
    weighted sampling WITHOUT replacement, k=40, weight = the q40
    classifier score — high-quality documents are proportionally more
    likely to be drawn, yet the draw is deterministic (u = md5 hash
    fraction of doc_id, select top-k of u^(1/w)), so re-runs and other
    engines select the identical set. Plans as TakeOrderedAndProject:
    per-partition top-k heaps, no global sort (operators/sampling.py
    weighted_hash_topk)."""
    from soda_core_spark.functions.classifier import quality_score
    from soda_core_spark.operators.sampling import weighted_hash_topk

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("weight")
    )
    out = weighted_hash_topk(
        scored, 40, F.col("weight"), F.col("doc_id").cast("string")
    )
    return out.select(
        "doc_id", "weight", F.round("__ws_key", 6).alias("sel_key")
    )


def _q61_sql() -> str:
    s = _quality_score_sql()
    return f"""
    WITH scored AS (
      SELECT doc_id, lang, round({s}, 6) AS quality_score FROM documents
    ),
    cuts AS (
      SELECT lang,
             quantile_cont(quality_score, 0.25) AS q_lo,
             quantile_cont(quality_score, 0.75) AS q_hi
      FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.quality_score,
           CASE WHEN s.quality_score > c.q_hi + 1e-9 THEN 'head'
                WHEN s.quality_score < c.q_lo - 1e-9 THEN 'tail'
                ELSE 'middle' END AS quality_bucket
    FROM scored s JOIN cuts c USING (lang)
    """


@register("q61_ccnet_buckets", _q61_sql())
def q61(spark, sf_dir):
    """CCNet-style per-language head/middle/tail quality tiers: each
    language is split by its OWN score quartiles (exact percentile for
    the oracle; percentile_approx is the documented 10^12-doc swap), so
    low-resource languages aren't starved by a global cutoff. One tiny
    per-lang aggregate broadcast back; bucket label is pure codegen
    CASE with a 1e-9 margin absorbing cross-engine interpolation ulp
    (functions/classifier.py ccnet_quality_buckets)."""
    from soda_core_spark.functions.classifier import (
        ccnet_quality_buckets,
        quality_score,
    )

    d = _t(spark, sf_dir, "documents")
    out = ccnet_quality_buckets(d, quality_score(F.col("text")))
    return out.select("doc_id", "lang", "quality_score", "quality_bucket")


# Deterministic crawl fixture for the link-graph queries: 17 hosts; each
# page links one absolute target, one protocol-relative target, and two
# page-internal targets (self-edges). Built identically in both engines.
_LG_URL_RE = (
    "^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)"
    "(?:\\?([^#]*))?"
)

_LINKS_CTE = f"""
    docs AS (
      SELECT doc_id,
             'host' || (doc_id % 17)::VARCHAR || '.example.com' AS src_host,
             '<html><body><p>' || coalesce(text, '') || '</p>'
             || '<a href="https://host' || ((doc_id * 3 + 1) % 17)::VARCHAR
             || '.example.com/a">x</a>'
             || '<a href="//host' || ((doc_id * 5 + 2) % 17)::VARCHAR
             || '.example.com/b">y</a>'
             || '<a href="/local">z</a><a href="#top">t</a></body></html>'
               AS html
      FROM documents
    ),
    lx AS (
      SELECT src_host,
             unnest(regexp_extract_all(html, '<a\\s[^>]*href="([^"]+)"', 1))
               AS href
      FROM docs
    ),
    resolved AS (
      SELECT src_host,
             CASE WHEN regexp_matches(href, '^[Hh][Tt][Tt][Pp][Ss]?://')
                    THEN nullif(regexp_replace(
                           lower(regexp_extract(href, '{_LG_URL_RE}', 2)),
                           ':[0-9]+$', ''), '')
                  WHEN href LIKE '//%'
                    THEN nullif(regexp_replace(
                           lower(regexp_extract('http:' || href,
                                                '{_LG_URL_RE}', 2)),
                           ':[0-9]+$', ''), '')
                  WHEN NOT regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:')
                    THEN src_host
                  ELSE NULL END AS dst_host
      FROM lx
    ),
    edges AS (
      SELECT src_host, dst_host, count(*)::BIGINT AS n_links
      FROM resolved WHERE dst_host IS NOT NULL
      GROUP BY src_host, dst_host
    )
"""


def _lg_frame(spark, sf_dir):
    """Spark twin of the _LINKS_CTE crawl fixture."""
    d = _t(spark, sf_dir, "documents")
    host = lambda e: F.concat(  # noqa: E731
        F.lit("host"), (e % 17).cast("string"), F.lit(".example.com")
    )
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(F.lit("https://"), host(did), F.lit("/page/"),
                 did.cast("string")).alias("url"),
        F.concat(
            F.lit("<html><body><p>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit('</p><a href="https://'),
            host(did * 3 + 1),
            F.lit('/a">x</a><a href="//'),
            host(did * 5 + 2),
            F.lit('/b">y</a><a href="/local">z</a>'
                  '<a href="#top">t</a></body></html>'),
        ).alias("html"),
    )


_Q62_SQL = f"""
WITH {_LINKS_CTE},
outd AS (
  SELECT src_host AS host, count(*)::BIGINT AS out_hosts,
         sum(n_links)::BIGINT AS out_links
  FROM edges GROUP BY src_host
),
ind AS (
  SELECT dst_host AS host, count(*)::BIGINT AS in_hosts,
         sum(n_links)::BIGINT AS in_links
  FROM edges GROUP BY dst_host
)
SELECT coalesce(o.host, i.host) AS host,
       coalesce(out_hosts, 0)::BIGINT AS out_hosts,
       coalesce(out_links, 0)::BIGINT AS out_links,
       coalesce(in_hosts, 0)::BIGINT AS in_hosts,
       coalesce(in_links, 0)::BIGINT AS in_links
FROM outd o FULL OUTER JOIN ind i ON o.host = i.host
ORDER BY host
"""


@register("q62_host_link_graph", _Q62_SQL)
def q62(spark, sf_dir):
    """Host-level link graph from crawled HTML: regexp outlink
    extraction (pure JVM, fuses with the scan), relative links resolved
    to the source host, page edges collapsed to weighted host edges by
    one partial-agg groupBy, then per-host in/out degree profiles — the
    crawl-policy / spam-prior input. (operators/linkgraph.py)."""
    from soda_core_spark.operators.linkgraph import (
        host_degrees,
        host_edges,
        outlink_hosts,
    )

    lg = _lg_frame(spark, sf_dir)
    edges = host_edges(outlink_hosts(lg))
    return host_degrees(edges).orderBy("host")


def _q63_sql(iterations: int = 3, d: float = 0.85) -> str:
    # unrolled PageRank: rank'(v) = (1-d) + d*sum_in(rank(u)*w(u,v)),
    # per-iteration 12dp rounding keeps both engines on one trajectory.
    # (1.0 - d) is spelled as arithmetic so both engines use the exact
    # same double (a 0.15 literal parses to a DIFFERENT double than the
    # Spark side's computed 1.0 - 0.85).
    it = [
        "r0 AS (SELECT host, 1.0 AS rank FROM nodes)"
    ]
    for i in range(iterations):
        it.append(f"""
    r{i + 1} AS (
      SELECT n.host,
             round((1.0 - {d!r}) + {d!r} * coalesce(t.c, 0.0), 12) AS rank
      FROM nodes n LEFT JOIN (
        SELECT w.dst_host, sum(r.rank * w.w) AS c
        FROM w JOIN r{i} r ON w.src_host = r.host
        GROUP BY w.dst_host
      ) t ON n.host = t.dst_host
    )""")
    return f"""
    WITH {_LINKS_CTE},
    nodes AS (
      SELECT DISTINCT host FROM (
        SELECT src_host AS host FROM edges
        UNION ALL SELECT dst_host FROM edges
      )
    ),
    w AS (
      SELECT src_host, dst_host,
             n_links::DOUBLE
               / (sum(n_links) OVER (PARTITION BY src_host))::DOUBLE AS w
      FROM edges
    ),
    {",".join(it)}
    SELECT host, round(rank, 8) AS pagerank FROM r{iterations}
    ORDER BY host
    """


@register("q63_host_pagerank", _q63_sql())
def q63(spark, sf_dir):
    """PageRank host authority over the q62 host graph (3 iterations,
    d=0.85, link-count-weighted) — the spam/SEO quality prior. Each
    iteration is one join + one groupBy on the HOST graph (4 orders
    smaller than the page graph); localCheckpoint truncates lineage on
    long runs; 12dp per-iteration rounding pins the trajectory across
    engines and partitionings (operators/linkgraph.py host_pagerank)."""
    from soda_core_spark.operators.linkgraph import (
        host_edges,
        host_pagerank,
        outlink_hosts,
    )

    lg = _lg_frame(spark, sf_dir)
    edges = host_edges(outlink_hosts(lg))
    pr = host_pagerank(edges, iterations=3, damping=0.85, weighted=True)
    return pr.select("host", F.round("rank", 8).alias("pagerank")).orderBy(
        "host"
    )


_Q64_SQL = """
WITH c AS (
  SELECT doc_id, n_chars,
         SUM(n_chars) OVER (
           ORDER BY md5(doc_id::VARCHAR), doc_id
           ROWS UNBOUNDED PRECEDING
         ) - n_chars AS excl
  FROM documents
)
SELECT doc_id, n_chars::BIGINT AS n_chars,
       (excl // 20000)::BIGINT AS shard_id
FROM c ORDER BY doc_id
"""


@register("q64_token_shard_packing", _Q64_SQL)
def q64(spark, sf_dir):
    """Fixed-token training-shard assignment: documents laid out in
    portable-hash order and cut greedily into 20k-token shards
    (shard_id = exclusive running total // shard size — here n_chars as
    the token weight, matching q49). The oracle is the one-window form;
    the Spark plan is the two-stage distributed cumsum (per-bucket sums
    → broadcast prefix offsets → 1024-way parallel windows), provably
    identical because bucket boundaries align with the hash order
    (operators/sampling.py pack_token_shards)."""
    from soda_core_spark.operators.sampling import pack_token_shards

    d = _t(spark, sf_dir, "documents")
    out = pack_token_shards(
        d.select("doc_id", "n_chars"),
        shard_tokens=20000,
        token_col="n_chars",
    )
    return out.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"), "shard_id"
    ).orderBy("doc_id")


def _q65_sql(alpha: float = 0.6, tf: float = 0.4) -> str:
    return f"""
    WITH counts AS (
      SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source
    ),
    norm AS (
      SELECT sum(n)::DOUBLE AS nn, sum(pow(n::DOUBLE, {alpha!r})) AS z
      FROM counts
    ),
    rates AS (
      SELECT source,
             round(least(1.0, {tf!r} * nn * pow(n::DOUBLE, {alpha!r})
                              / z / n::DOUBLE), 9) AS rate
      FROM counts CROSS JOIN norm
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r USING (source)
    WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
           / 4294967296.0) < r.rate
    ORDER BY doc_id
    """


@register("q65_temperature_mix", _q65_sql())
def q65(spark, sf_dir):
    """Temperature-scaled source mixing (the n^alpha rebalancing rule of
    multilingual corpus pipelines, alpha=0.6, target 40 % of corpus):
    per-source keep rates computed from one tiny count aggregate +
    1-row normalizer, broadcast back, rows kept by the deterministic
    hash-fraction predicate — small sources up-sampled relative to
    their raw share, zero wide shuffles, no collect
    (operators/sampling.py temperature_mixed_sample)."""
    from soda_core_spark.operators.sampling import temperature_mixed_sample

    d = _t(spark, sf_dir, "documents")
    out = temperature_mixed_sample(
        d,
        "source",
        key=F.col("doc_id").cast("string"),
        alpha=0.6,
        target_fraction=0.4,
    )
    return out.select("doc_id", "source").orderBy("doc_id")


# thresholds spelled as arithmetic in BOTH engines: python 0.8 + 0.1 and
# DuckDB (0.8 + 0.1) are the same IEEE double, while a 0.9 literal is NOT
_Q66_SQL = """
WITH RECURSIVE edges AS (
  SELECT a.doc_id AS s, b.doc_id AS d
  FROM documents a JOIN documents b
    ON a.source = b.source AND abs(a.n_chars - b.n_chars) <= 10
   AND a.doc_id < b.doc_id
),
sym AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
reach AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
),
comp AS (
  SELECT s AS node, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s
),
assigned AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
frac AS (
  SELECT doc_id, component,
         (('0x' || substr(md5(component::VARCHAR), 1, 8))::BIGINT
          / 4294967296.0) AS u
  FROM assigned
)
SELECT doc_id, component,
       CASE WHEN u < 0.8 THEN 'train'
            WHEN u < (0.8 + 0.1) THEN 'val'
            ELSE 'test' END AS split
FROM frac ORDER BY doc_id
"""


@register("q66_leakage_free_split", _Q66_SQL)
def q66(spark, sf_dir):
    """Leakage-free train/val/test split: near-dup clusters (q43's
    deterministic edge rule → connected components) are assigned WHOLE
    to one split by the portable hash of the cluster representative, so
    a document and its near-copies can never straddle train and test.
    Singletons are their own cluster. One id-keyed join + codegen CASE
    (operators/sampling.py leakage_free_split)."""
    from soda_core_spark.operators.dedup import connected_components
    from soda_core_spark.operators.sampling import leakage_free_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    a, b = d.alias("a"), d.alias("b")
    edges = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 10)
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    comps = connected_components(edges)
    out = leakage_free_split(
        d, comps, train_frac=0.8, val_frac=0.1
    )
    return out.select("doc_id", "component", "split").orderBy("doc_id")


_Q67_SQL = """
WITH c AS (
  SELECT doc_id, n_chars, coalesce(text, '') AS text,
         SUM(n_chars) OVER (
           ORDER BY md5(doc_id::VARCHAR), doc_id
           ROWS UNBOUNDED PRECEDING
         ) - n_chars AS excl
  FROM documents
)
SELECT (excl // 20000)::BIGINT AS shard,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS shard_tokens,
       md5(string_agg(text, chr(10) || chr(10)
           ORDER BY md5(doc_id::VARCHAR), doc_id)) AS shard_md5
FROM c GROUP BY shard ORDER BY shard
"""


@register("q67_materialize_shards", _Q67_SQL)
def q67(spark, sf_dir):
    """Shard materialization — the writer step after q64's assignment:
    each shard's documents concatenated in the packer's hash order into
    one training sequence, byte-identical across engines/restarts (the
    oracle compares md5 of the assembled text). One groupBy whose
    per-group state the packer already budget-bounded
    (operators/sampling.py materialize_shards)."""
    from soda_core_spark.operators.sampling import (
        materialize_shards,
        pack_token_shards,
    )

    d = _t(spark, sf_dir, "documents")
    packed = pack_token_shards(
        d.select("doc_id", "n_chars", "text"),
        shard_tokens=20000,
        token_col="n_chars",
    )
    out = materialize_shards(packed, token_col="n_chars")
    return out.select(
        "shard",
        "n_docs",
        "shard_tokens",
        F.md5("shard_text").alias("shard_md5"),
    ).orderBy("shard")


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/dsir.py)
# ---------------------------------------------------------------------------

#: target-corpus stand-in for the oracle-checked DSIR run: three sources
#: play the role of Wikipedia/books; everything else is the raw pool.
_DSIR_TARGET_SOURCES = ("src0", "src1", "src2")


def _q68_sql(buckets: int = 256, k: int = 100) -> str:
    ph = _P_HASH_SQL.format(v="w")
    tgt = ", ".join(f"'{s}'" for s in _DSIR_TARGET_SOURCES)
    return f"""
    WITH tok AS (
      SELECT doc_id, (source IN ({tgt})) AS is_target,
             unnest(list_filter(
               regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\r]+'),
               x -> x <> '')) AS w
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, is_target, ({ph}) % {buckets} AS bucket,
             count(*) AS n
      FROM tok GROUP BY doc_id, is_target, bucket
    ),
    pb AS (
      SELECT bucket, sum(n)::DOUBLE AS raw_c,
             sum(CASE WHEN is_target THEN n ELSE 0 END)::DOUBLE AS tgt_c
      FROM cnt GROUP BY bucket
    ),
    tot AS (SELECT sum(raw_c) AS raw_t, sum(tgt_c) AS tgt_t FROM pb),
    lr AS (
      SELECT bucket,
             round(ln((tgt_c + 1.0) / (tgt_t + 1.0 * {buckets}))
                 - ln((raw_c + 1.0) / (raw_t + 1.0 * {buckets})), 12) AS lr
      FROM pb, tot
    ),
    score AS (
      SELECT c.doc_id, round(sum(c.n * l.lr), 6) AS dsir_score
      FROM cnt c JOIN lr l USING (bucket)
      WHERE NOT c.is_target
      GROUP BY c.doc_id
    )
    SELECT doc_id, dsir_score FROM score
    ORDER BY dsir_score DESC, doc_id
    LIMIT {k}
    """


@register("q68_dsir_selection", _q68_sql())
def q68(spark, sf_dir):
    """DSIR data selection (arXiv:2302.03169): hashed-unigram importance
    log-weights of the raw pool against a target-corpus stand-in, top-100
    survivors pinned across engines. One explode pass, O(buckets) model
    tables broadcast back, TakeOrdered top-k — no post-tokenize shuffle
    of text (operators/dsir.py)."""
    from soda_core_spark.operators.dsir import dsir_select

    d = _t(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("source").isin(*_DSIR_TARGET_SOURCES)
    )
    return dsir_select(d, k=100, buckets=256)


# ---------------------------------------------------------------------------
# Bloom-filter membership pre-filter (operators/bloom.py)
# ---------------------------------------------------------------------------


def _q69_sql(m: int = 1 << 16, k: int = 3) -> str:
    def ph(v: str) -> str:
        return _P_HASH_SQL.format(v=v)

    return f"""
    WITH seen AS (
      SELECT md5(coalesce(text, '')) AS key
      FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
      SELECT doc_id, md5(coalesce(text, '')) AS key
      FROM documents WHERE doc_id % 2 = 1
    ),
    sbits AS (
      SELECT DISTINCT ({ph("s.key || '#' || hi::VARCHAR")}) % {m} AS pos
      FROM seen s, range({k}) t(hi)
    ),
    bpos AS (
      SELECT b.doc_id, ({ph("b.key || '#' || hi::VARCHAR")}) % {m} AS pos
      FROM batch b, range({k}) t(hi)
    ),
    maybe AS (
      SELECT p.doc_id, bool_and(s.pos IS NOT NULL) AS bloom_maybe
      FROM bpos p LEFT JOIN sbits s ON p.pos = s.pos
      GROUP BY p.doc_id
    ),
    exact AS (
      SELECT b.doc_id,
             EXISTS(SELECT 1 FROM seen s WHERE s.key = b.key) AS exact_dup
      FROM batch b
    )
    SELECT m.doc_id, m.bloom_maybe, e.exact_dup
    FROM maybe m JOIN exact e USING (doc_id)
    ORDER BY doc_id
    """


@register("q69_bloom_membership", _q69_sql())
def q69(spark, sf_dir):
    """Bloom-filter crawl dedup pre-filter: seen-set (even doc_ids) packed
    into a broadcastable (word, bits) frame; the new batch (odd doc_ids)
    probes it with k shuffle-free broadcast joins, alongside the exact
    answer so the no-false-negative invariant is oracle-checked — the
    oracle reproduces membership *including deterministic false
    positives* (operators/bloom.py)."""
    from soda_core_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )

    m, k = 1 << 16, 3
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("key")
    )
    seen = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)
    bl = bloom_build(seen, "key", m=m, k=k)
    probed = bloom_might_contain(batch, bl, "key", m=m, k=k)
    sk = (
        seen.select("key").distinct().withColumn("__dup", F.lit(True))
    )
    return (
        probed.join(F.broadcast(sk), "key", "left")
        .select(
            "doc_id",
            "bloom_maybe",
            F.coalesce(F.col("__dup"), F.lit(False)).alias("exact_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Unicode char-class / script profile (functions/text.py script_profile)
# ---------------------------------------------------------------------------

_Q71_SQL = """
WITH c AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
),
n AS (
  SELECT doc_id,
    length(t) AS n_cp,
    length(t) - length(regexp_replace(t, '[a-z]', '', 'g')) AS lo,
    length(t) - length(regexp_replace(t, '[A-Z]', '', 'g')) AS up,
    length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS dg,
    length(t) - length(regexp_replace(t, '[ \\t\\n\\r]', '', 'g')) AS sp,
    length(t) - length(regexp_replace(t, '[ -~]', '', 'g')) AS pr,
    length(t) - length(regexp_replace(t, '[ ]', '', 'g')) AS sp0,
    length(t) - length(regexp_replace(t, '[\\x{00c0}-\\x{024f}]', '', 'g')) AS lx,
    length(t) - length(regexp_replace(t, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS cj,
    length(t) - length(regexp_replace(t, '[\\x{0400}-\\x{04ff}]', '', 'g')) AS cy,
    length(t) - length(regexp_replace(t, '[\\x{0600}-\\x{06ff}]', '', 'g')) AS ar
  FROM c
),
d AS (
  SELECT *, lo + up AS lat, pr - lo - up - dg - sp0 AS pu,
         greatest(lo + up, lx, cj, cy, ar) AS mx
  FROM n
)
SELECT doc_id, n_cp::BIGINT AS n_cp,
  round(CASE WHEN n_cp > 0 THEN lat::DOUBLE / n_cp ELSE 0.0 END, 6) AS letter_frac,
  round(CASE WHEN n_cp > 0 THEN dg::DOUBLE / n_cp ELSE 0.0 END, 6) AS digit_frac,
  round(CASE WHEN n_cp > 0 THEN sp::DOUBLE / n_cp ELSE 0.0 END, 6) AS space_frac,
  round(CASE WHEN n_cp > 0 THEN pu::DOUBLE / n_cp ELSE 0.0 END, 6) AS punct_frac,
  round(CASE WHEN n_cp > 0 THEN
    (n_cp - lat - dg - sp - pu - lx - cj - cy - ar)::DOUBLE / n_cp
    ELSE 0.0 END, 6) AS other_frac,
  CASE WHEN mx <= 0 THEN 'none'
       WHEN lat = mx THEN 'latin'
       WHEN lx = mx THEN 'latin_ext'
       WHEN cj = mx THEN 'cjk'
       WHEN cy = mx THEN 'cyrillic'
       WHEN ar = mx THEN 'arabic'
  END AS dominant_script
FROM d
"""


@register("q71_script_profile", _Q71_SQL)
def q71(spark, sf_dir):
    """Char-class / Unicode-script mix per document — the
    garbled-encoding and script-vs-declared-lang quality signal. Explicit
    codepoint ranges (not \\p{Script=...}) so Java regex and RE2 count
    identically; punctuation derived arithmetically from printable ASCII
    so no engine ever escapes punctuation (functions/text.py
    script_profile)."""
    from soda_core_spark.functions.text import script_profile

    return script_profile(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# SemDeDup: k-means + intra-cluster cosine dedup (operators/semdedup.py)
# ---------------------------------------------------------------------------


def _q70_sql(
    k: int = 8, iterations: int = 3, dim: int = 64, tau: float = 0.35
) -> str:
    # distances fold dims left-to-right exactly like the Spark side's
    # F.aggregate-over-zip_with (0.0 + d1 + d2 + ... == list_reduce's
    # d1 + d2 + ...), so arg-min can compare raw doubles; centroid means
    # are 12dp-rounded per iteration (trajectory pin).
    dist = (
        f"list_reduce(list_transform(range(1, {dim + 1}),"
        " j -> (p.e[j]-c.c[j])*(p.e[j]-c.c[j])), (x,y) -> x+y)"
    )
    ctes = [
        # NULL embeddings are excluded (mirrors semdedup's input policy)
        "pts AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings"
        " WHERE embedding IS NOT NULL AND len(embedding) > 0)",
        f"""c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, e AS c
          FROM (SELECT * FROM pts ORDER BY vec_id LIMIT {k})
        )""",
        f"""a0 AS (
          SELECT vec_id, e, cl FROM (
            SELECT vec_id, e, cl,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY d, cl) AS rn
            FROM (SELECT p.vec_id, p.e, c.cl, {dist} AS d
                  FROM pts p, c0 c) dd
          ) t WHERE rn = 1
        )""",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""u{i} AS (
          SELECT a.cl, r.j, round(sum(a.e[r.j]) / count(*), 12) AS m
          FROM a{i - 1} a, range(1, {dim + 1}) r(j)
          GROUP BY a.cl, r.j
        )""")
        ctes.append(f"""c{i} AS (
          SELECT c.cl, coalesce(n.c, c.c) AS c
          FROM c{i - 1} c LEFT JOIN (
            SELECT cl, array_agg(m ORDER BY j) AS c FROM u{i} GROUP BY cl
          ) n ON n.cl = c.cl
        )""")
        ctes.append(f"""a{i} AS (
          SELECT vec_id, e, cl FROM (
            SELECT vec_id, e, cl,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY d, cl) AS rn
            FROM (SELECT p.vec_id, p.e, c.cl, {dist} AS d
                  FROM pts p, c{i} c) dd
          ) t WHERE rn = 1
        )""")
    last = f"a{iterations}"
    return f"""
    WITH {",".join(ctes)},
    pr AS (
      SELECT DISTINCT b.vec_id AS dup_id
      FROM {last} a JOIN {last} b
        ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.e, b.e), 4) >= {tau!r}
    )
    SELECT v.vec_id, v.cl::BIGINT AS cluster,
           EXISTS(SELECT 1 FROM pr WHERE pr.dup_id = v.vec_id) AS is_semdup
    FROM {last} v
    ORDER BY v.vec_id
    """


@register("q70_semdedup", _q70_sql())
def q70(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540): deterministic fixed-iteration k-means
    over the embedding table, then cosine near-dup search ONLY within
    clusters — Σ|c|² instead of n². Assignment is a shuffle-free
    projection against driver-held centroid literals; update is one
    partial-aggregated (cluster, dim) groupBy; the pair join's key is the
    cluster id (operators/semdedup.py)."""
    from soda_core_spark.operators.semdedup import semdedup

    e = _t(spark, sf_dir, "embeddings")
    return semdedup(e, k=8, iterations=3, threshold=0.35)


# ---------------------------------------------------------------------------
# Distilled quality-classifier training (operators/training.py)
# ---------------------------------------------------------------------------


def _q72_sql(lr: float = 1.0, iterations: int = 20) -> str:
    feats = _signal_feats_sql()
    names = list(feats)  # insertion order == Spark feature order
    d = len(names)
    fcols = ", ".join(f"({feats[n]}) AS r{j + 1}" for j, n in enumerate(names))
    label = f"""CASE WHEN NOT (length(text) < 150
                 OR len({_WORDS_SQL}) < 20
                 OR length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
                    / length(text) < 0.55)
           THEN 1.0 ELSE 0.0 END"""
    stats = ", ".join(
        f"round(avg(r{j + 1}), 12) AS m{j + 1},"
        f" round(stddev_pop(r{j + 1}), 12) AS s{j + 1}"
        for j in range(d)
    )
    std = ", ".join(
        f"(raw.r{j + 1} - st.m{j + 1})"
        f" / (CASE WHEN st.s{j + 1} > 0 THEN st.s{j + 1} ELSE 1.0 END)"
        f" AS f{j + 1}"
        for j in range(d)
    )
    zeros = ", ".join(f"0.0 AS w{j + 1}" for j in range(d)) + ", 0.0 AS b"
    z = "w.b + " + " + ".join(f"w.w{j + 1} * f{j + 1}" for j in range(d))
    ctes = [
        # MATERIALIZED: the unrolled iterations reference f ~2x each;
        # without it DuckDB re-inlines the parquet scan per reference and
        # exhausts the open-file limit at 20 iterations.
        f"raw AS MATERIALIZED (SELECT doc_id, {fcols}, ({label}) AS y"
        " FROM documents)",
        f"st AS MATERIALIZED (SELECT {stats} FROM raw)",
        f"f AS MATERIALIZED (SELECT raw.doc_id, raw.y, {std} FROM raw, st)",
        f"w0 AS MATERIALIZED (SELECT {zeros})",
    ]
    for i in range(1, iterations + 1):
        gsel = ", ".join(
            f"avg((p - y) * f{j + 1}) AS g{j + 1}" for j in range(d)
        )
        wsel = ", ".join(
            f"round(w.w{j + 1} - {lr!r} * g.g{j + 1}, 12) AS w{j + 1}"
            for j in range(d)
        )
        # every per-iteration CTE MATERIALIZED: w{{i-1}} is referenced
        # twice (predict + update), so inlining would expand 2^iterations
        ctes.append(f"""p{i} AS MATERIALIZED (
          SELECT f.*, 1.0 / (1.0 + exp(-({z}))) AS p
          FROM f, w{i - 1} w
        )""")
        ctes.append(
            f"g{i} AS MATERIALIZED ("
            f"SELECT {gsel}, avg(p - y) AS g0 FROM p{i})"
        )
        ctes.append(f"""w{i} AS MATERIALIZED (
          SELECT {wsel}, round(w.b - {lr!r} * g.g0, 12) AS b
          FROM w{i - 1} w, g{i} g
        )""")
    return f"""
    WITH {",".join(ctes)},
    scored AS (
      SELECT f.doc_id, f.y, 1.0 / (1.0 + exp(-({z}))) AS p
      FROM f, w{iterations} w
    )
    SELECT doc_id, round(p, 6) AS distill_score,
           (p >= 0.5) AS pred_keep, y::BIGINT AS label
    FROM scored
    """


@register("q72_distill_classifier", _q72_sql())
def q72(spark, sf_dir):
    """Distributed classifier distillation: heuristic keep-rule labels →
    5 batch-GD iterations of logistic regression, each ONE partial-
    aggregated whole-corpus avg (no row shuffle, weights on the driver
    like MLlib's treeAggregate), trajectory 12dp-pinned so the DuckDB
    oracle replays training step for step (operators/training.py)."""
    from soda_core_spark.functions.classifier import quality_features
    from soda_core_spark.functions.text import alnum_ratio
    from soda_core_spark.operators.training import (
        distill_quality_classifier,
    )

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    feats = quality_features(t)
    names = list(feats)
    label = (
        ~(
            (F.length(t) < 150)
            | (F.size(words_col(t)) < 20)
            | (alnum_ratio(t) < 0.55)
        )
    ).cast("double")
    base = d.select(
        "doc_id", *[feats[n].alias(n) for n in names], label.alias("y")
    )
    out = distill_quality_classifier(base, names, "y", lr=1.0, iterations=20)
    return out.select(
        "doc_id",
        F.round("score", 6).alias("distill_score"),
        "pred_keep",
        F.col("y").cast("long").alias("label"),
    )


def _q73_sql(n_bins: int = 20) -> str:
    score = _quality_score_sql()
    label = f"""CASE WHEN NOT (length(text) < 150
                 OR len({_WORDS_SQL}) < 20
                 OR length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
                    / length(text) < 0.55)
           THEN 1 ELSE 0 END"""
    return f"""
    WITH scored AS (
      SELECT least(CAST(floor(round({score}, 6) * {n_bins}) AS BIGINT),
                   {n_bins}) AS b,
             ({label}) AS y
      FROM documents
      WHERE text IS NOT NULL
    ),
    agg AS (
      SELECT b, sum(y)::BIGINT AS pos, count(*)::BIGINT AS n
      FROM scored GROUP BY b
    ),
    tot AS (
      SELECT coalesce(sum(pos), 0)::BIGINT AS tot_pos,
             coalesce(sum(n), 0)::BIGINT AS tot_n
      FROM agg
    ),
    grid AS (SELECT range AS t FROM range(0, {n_bins} + 1)),
    per AS (
      SELECT g.t,
             coalesce(sum(a.pos), 0)::BIGINT AS tp,
             coalesce(sum(a.n), 0)::BIGINT AS pp
      FROM grid g LEFT JOIN agg a ON a.b >= g.t
      GROUP BY g.t
    )
    SELECT round(t / {n_bins}.0, 6) AS threshold,
           tp,
           (pp - tp)::BIGINT AS fp,
           (tot_pos - tp)::BIGINT AS fn,
           (tot_n - pp - (tot_pos - tp))::BIGINT AS tn,
           CASE WHEN pp > 0 THEN round(tp::DOUBLE / pp, 6) END AS "precision",
           CASE WHEN tot_pos > 0 THEN round(tp::DOUBLE / tot_pos, 6) END
             AS recall,
           CASE WHEN (tp + pp + tot_pos) > 0
                THEN round((2 * tp)::DOUBLE / (pp + tot_pos), 6) END AS f1
    FROM per, tot
    """


@register("q73_threshold_sweep", _q73_sql())
def q73(spark, sf_dir):
    """Classifier calibration sweep: P/R/F1 of the frozen quality
    classifier against the heuristic keep rule at 21 thresholds — the
    query that picks the operating point for the north rule's F1≥0.99
    criterion. One corpus pass (bucketed counts), everything after runs
    on a ≤21-row aggregate (operators/calibration.py)."""
    from soda_core_spark.functions.classifier import quality_score
    from soda_core_spark.functions.text import alnum_ratio
    from soda_core_spark.operators.calibration import threshold_sweep

    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = F.col("text")
    label = ~(
        (F.length(t) < 150)
        | (F.size(words_col(t)) < 20)
        | (alnum_ratio(t) < 0.55)
    )
    return threshold_sweep(d, quality_score(t), label, n_bins=20)


def _q74_sql() -> str:
    old_digits = ", ".join(f"'{c}'" for c in "0123456789ab")
    new_digits = ", ".join(f"'{c}'" for c in "456789abcdef")
    return f"""
    WITH o AS (
      SELECT doc_id, md5(coalesce(text, '')) AS old_fp
      FROM documents
      WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ({old_digits})
    ),
    n AS (
      SELECT doc_id,
             md5(CASE WHEN substr(md5(doc_id::VARCHAR), 2, 1) < '8'
                  THEN coalesce(text, '') || ' v2'
                  ELSE coalesce(text, '') END) AS new_fp
      FROM documents
      WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ({new_digits})
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           o.old_fp, n.new_fp,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_fp = n.new_fp THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """


@register("q74_crawl_delta", _q74_sql())
def q74(spark, sf_dir):
    """Crawl-to-crawl delta: two deterministic hash-derived snapshots of
    the documents table (an overlapping old/new crawl pair with a
    hash-chosen 'changed' subset) adjudicated added / removed / changed
    / unchanged by ONE full-outer join on the key — the incremental-
    ingestion primitive (operators/crawl_delta.py)."""
    from soda_core_spark.operators.crawl_delta import crawl_delta

    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    h1 = F.substring(h, 1, 1)
    h2 = F.substring(h, 2, 1)
    text = F.coalesce(F.col("text"), F.lit(""))
    old = d.where(h1.isin(*"0123456789ab")).select(
        "doc_id", F.md5(text).alias("fingerprint")
    )
    new_text = F.when(h2 < "8", F.concat(text, F.lit(" v2"))).otherwise(text)
    new = d.where(h1.isin(*"456789abcdef")).select(
        "doc_id", F.md5(new_text).alias("fingerprint")
    )
    return crawl_delta(old, new, key_col="doc_id")


def _q75_sql() -> str:
    # decorated text appends decomposed sequences (e+U+0301, A+U+030A,
    # a+U+0308) so NFC composition is actually exercised on every row
    deco = (
        "coalesce(text, '') || ' caf' || chr(101) || chr(769) || ' ' ||"
        " chr(65) || chr(778) || chr(97) || chr(776)"
    )
    return f"""
    SELECT doc_id,
           md5(nfc_normalize({deco})) AS nfc_md5,
           length(nfc_normalize({deco}))::BIGINT AS n_chars_nfc,
           length({deco})::BIGINT AS n_chars_raw
    FROM documents
    """


@register("q75_nfc_normalize", _q75_sql())
def q75(spark, sf_dir):
    """Unicode NFC normalization (functions/normalize.py): every row's
    text gets decomposed combining sequences appended, the Arrow-batched
    UDF composes them, and the oracle pins Python unicodedata byte-equal
    to DuckDB's utf8proc via md5 + codepoint counts (raw is 3 codepoints
    longer than NFC on every row by construction)."""
    from soda_core_spark.functions.normalize import nfc_normalize_col

    d = _t(spark, sf_dir, "documents")
    deco = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" cafe\u0301 A\u030aa\u0308"),
    )
    norm = nfc_normalize_col(deco)
    return d.select(
        "doc_id",
        F.md5(norm).alias("nfc_md5"),
        F.length(norm).cast("long").alias("n_chars_nfc"),
        F.length(deco).cast("long").alias("n_chars_raw"),
    )


@register(
    "q76_key_skew",
    """
    WITH counts AS (
      SELECT user_id, count(*)::BIGINT AS n_rows
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT sum(n_rows)::BIGINT AS total, count(*)::BIGINT AS keys
      FROM counts
    ),
    top AS (
      SELECT user_id, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, user_id) AS rank
      FROM counts ORDER BY n_rows DESC, user_id LIMIT 15
    )
    SELECT rank::BIGINT AS rank, user_id, n_rows,
           round(n_rows::DOUBLE / total, 6) AS share,
           round(n_rows::DOUBLE * keys / total, 4) AS skew_x
    FROM top, tot
    """,
)
def q76(spark, sf_dir):
    """Join-key skew diagnostic: the 15 hottest user_ids with row share
    and skew factor — the pre-flight query that decides salting/AQE for
    a keyed shuffle. One partial-agg groupBy + TakeOrdered top-k
    (operators/profiling.py)."""
    from soda_core_spark.operators.profiling import key_skew_stats

    return key_skew_stats(_t(spark, sf_dir, "events"), "user_id", top_k=15)


@register(
    "q77_value_histogram",
    """
    WITH clean AS (
      SELECT value::DOUBLE AS v FROM events
      WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
    ),
    st AS (
      SELECT min(v) AS mn, max(v) AS mx,
             CASE WHEN max(v) > min(v) THEN (max(v) - min(v)) / 20.0
                  ELSE 1.0 END AS width
      FROM clean
    ),
    binned AS (
      SELECT least(CAST(floor((v - mn) / width) AS BIGINT), 19) AS bin,
             count(*)::BIGINT AS n_rows
      FROM clean, st GROUP BY 1
    ),
    grid AS (SELECT range AS bin FROM range(0, 20))
    SELECT g.bin, round(mn + g.bin * width, 6) AS lo,
           round(mn + (g.bin + 1) * width, 6) AS hi,
           coalesce(b.n_rows, 0)::BIGINT AS n_rows
    FROM grid g LEFT JOIN binned b ON g.bin = b.bin, st
    """,
)
def q77(spark, sf_dir):
    """Equal-width 20-bin histogram of events.value: 1-row min/max pass
    broadcast back, one partial-agg groupBy on the bin index, empty bins
    kept via the range() grid (operators/profiling.py). Bin boundaries
    are identical IEEE double arithmetic on both engines."""
    from soda_core_spark.operators.profiling import numeric_histogram

    return numeric_histogram(
        _t(spark, sf_dir, "events"), F.col("value"), n_bins=20
    )


def _q78_sql(n_bins: int = 10) -> str:
    score = f"round({_quality_score_sql()}, 6)"
    return f"""
    WITH r AS (
      SELECT {score} AS v FROM documents
      WHERE substr(md5(doc_id::VARCHAR), 1, 1) < '8'
    ),
    c AS (
      SELECT {score} AS v FROM documents
      WHERE substr(md5(doc_id::VARCHAR), 1, 1) >= '8'
    ),
    st AS (
      SELECT min(v) AS mn,
             CASE WHEN max(v) > min(v) THEN (max(v) - min(v)) / {n_bins}.0
                  ELSE 1.0 END AS width
      FROM r
    ),
    u AS (
      SELECT v, 'ref' AS side FROM r
      UNION ALL SELECT v, 'cur' AS side FROM c
    ),
    b AS (
      SELECT least(greatest(CAST(floor((v - mn) / width) AS BIGINT), 0),
                   {n_bins} - 1) AS bin,
             sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)::BIGINT AS ref_n,
             sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END)::BIGINT AS cur_n
      FROM u, st GROUP BY 1
    ),
    grid AS (SELECT range AS bin FROM range(0, {n_bins})),
    f AS (
      SELECT g.bin, coalesce(b.ref_n, 0)::BIGINT AS ref_n,
             coalesce(b.cur_n, 0)::BIGINT AS cur_n
      FROM grid g LEFT JOIN b ON g.bin = b.bin
    ),
    t AS (SELECT sum(ref_n)::BIGINT AS rt, sum(cur_n)::BIGINT AS ct FROM f)
    SELECT f.bin,
           round(mn + f.bin * width, 6) AS lo,
           round(mn + (f.bin + 1) * width, 6) AS hi,
           round((ref_n + 0.5) / (rt + {n_bins} * 0.5), 6) AS ref_share,
           round((cur_n + 0.5) / (ct + {n_bins} * 0.5), 6) AS cur_share,
           round(((ref_n + 0.5) / (rt + {n_bins} * 0.5)
                  - (cur_n + 0.5) / (ct + {n_bins} * 0.5))
                 * ln(((ref_n + 0.5) / (rt + {n_bins} * 0.5))
                      / ((cur_n + 0.5) / (ct + {n_bins} * 0.5))), 6)
             AS psi_term
    FROM f, t, st
    """


@register("q78_psi_drift", _q78_sql())
def q78(spark, sf_dir):
    """Quality-score drift between two hash-split crawl windows as
    per-bin PSI contributions (operators/profiling.py): reference
    window defines the bins, current clamps into edges, +0.5 Laplace
    smoothing keeps empty-bin terms finite and engine-identical. The
    score is rounded to 6dp BEFORE binning so both engines bin the
    exact same doubles (q40 proves 6dp-rounded scores hash-identical)."""
    from soda_core_spark.functions.classifier import quality_score
    from soda_core_spark.operators.profiling import (
        population_stability_index,
    )

    d = _t(spark, sf_dir, "documents")
    h1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    scored = d.select(
        h1.alias("h1"), F.round(quality_score(F.col("text")), 6).alias("v")
    )
    ref = scored.where(F.col("h1") < "8")
    cur = scored.where(F.col("h1") >= "8")
    return population_stability_index(ref, cur, F.col("v"), n_bins=10)


#: shared robots fixture for q79 — the same data builds the Spark rules
#: frame and the SQL VALUES list. Shapes exercised: disallow-all with a
#: deeper allow carve-out (longest match), allow/disallow at EQUAL length
#: (allow wins the tie), disallow of one language subtree, and hosts with
#: no rules at all (default allow).
_Q79_ROBOTS_RULES: list[tuple[str, str, bool]] = [
    ("src0", "/", False),
    ("src0", "/en/", True),
    ("src1", "/fr/", False),
    ("src2", "/en/", False),
    ("src2", "/en/", True),
    ("src3", "/de/doc", False),
]


def _q79_sql() -> str:
    values = ", ".join(
        f"('{h}', '{p}', {str(a).lower()})" for h, p, a in _Q79_ROBOTS_RULES
    )
    return f"""
    WITH pages AS (
      SELECT doc_id, source AS host,
             '/' || lang || '/doc' || doc_id::VARCHAR AS path
      FROM documents
    ),
    rules(host, rule_path, allow) AS (VALUES {values}),
    matched AS (
      SELECT p.doc_id, p.host, p.path,
             max(2 * length(r.rule_path)
                 + CASE WHEN r.allow THEN 1 ELSE 0 END) AS best
      FROM pages p
      LEFT JOIN rules r
        ON p.host = r.host AND starts_with(p.path, r.rule_path)
      GROUP BY p.doc_id, p.host, p.path
    )
    SELECT doc_id, host, path,
           CASE WHEN best IS NULL THEN true ELSE best % 2 = 1 END AS allowed
    FROM matched
    """


@register("q79_robots_filter", _q79_sql())
def q79(spark, sf_dir):
    """robots.txt compliance gate (operators/robots.py): longest-prefix-
    match allow/disallow per RFC 9309 — rules pre-collected into per-host
    arrays, ONE broadcast equi-join on host, decision folded over the
    array (corpus never shuffled). The oracle replays the same
    longest-wins/allow-tie max-encoding via a join + group."""
    from soda_core_spark.operators.robots import apply_robots_rules

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.col("source").alias("host"),
        F.concat(
            F.lit("/"),
            F.col("lang"),
            F.lit("/doc"),
            F.col("doc_id").cast("string"),
        ).alias("path"),
    )
    rules = spark.createDataFrame(
        _Q79_ROBOTS_RULES, "host string, rule_path string, allow boolean"
    )
    return apply_robots_rules(pages, rules)


# ---------------------------------------------------------------------------
# Published rule packs: C4 line cleaning + Gopher document rules
# ---------------------------------------------------------------------------

_Q80_GOOD = "This is a proper sentence with enough words to survive."
_Q80_LINES = (
    "too short.",
    "Please enable javascript to view the comments powered here.",
    "this line has plenty of words but no terminal punctuation at all",
)
_Q80_BRACE = "A curly brace appears, so C4 drops this page {."
_Q80_LOREM = "Lorem Ipsum filler text means boilerplate pages."


def _q80_sql() -> str:
    # decorate every document with hash-chosen line structure so line
    # keeps, line drops, and page-level failures all actually occur
    nl = "chr(10)"
    mids = f" || {nl} || ".join(f"'{s}'" for s in _Q80_LINES)
    deco = (
        f"coalesce(text, '') || {nl} || '{_Q80_GOOD}' || {nl} || {mids}"
        f" || {nl} || CASE"
        " WHEN substr(md5(doc_id::VARCHAR), 1, 1) < '4'"
        f" THEN '{_Q80_BRACE}'"
        " WHEN substr(md5(doc_id::VARCHAR), 1, 1) < '8'"
        f" THEN '{_Q80_LOREM}'"
        f" ELSE '{_Q80_GOOD}' END"
    )
    term = "'[.!?\"' || chr(8217) || chr(8221) || ']$'"
    return f"""
    WITH arr AS (
      SELECT doc_id, {deco} AS t,
             list_transform(string_split({deco}, chr(10)), x -> trim(x))
               AS lines
      FROM documents
    ),
    keptl AS (
      SELECT doc_id, t, lines,
             list_filter(lines, x ->
               regexp_matches(x, {term})
               AND len(list_filter(regexp_split_to_array(x, '[ \\t]+'),
                                   w -> w <> '')) >= 5
               AND NOT contains(lower(x), 'javascript')) AS kept
      FROM arr
    ),
    built AS (
      SELECT doc_id, t, lines, kept,
             array_to_string(kept, chr(10)) AS clean_text
      FROM keptl
    )
    SELECT doc_id,
           md5(clean_text) AS clean_md5,
           len(list_filter(lines, x -> x <> ''))::BIGINT AS n_lines_total,
           len(kept)::BIGINT AS n_lines_kept,
           ((length(clean_text)
             - length(translate(clean_text, '.!?', ''))) >= 3
            AND NOT contains(lower(t), 'lorem ipsum')
            AND NOT contains(t, '{{')) AS page_keep
    FROM built
    """


@register("q80_c4_line_clean", _q80_sql())
def q80(spark, sf_dir):
    """C4 line-level cleaning (functions/rulepacks.py; Raffel et al.
    2020 S2.2): keep lines ending in terminal punctuation with >= 5
    words and no 'javascript'; page fails on < 3 sentences, 'lorem
    ipsum', or '{'. Pure column algebra over one split — zero Python,
    zero shuffle — and the oracle byte-checks the cleaned text via
    md5 (the same byte-identity discipline as the scrub query)."""
    from soda_core_spark.functions.rulepacks import c4_line_clean

    d = _t(spark, sf_dir, "documents")
    h1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    tail = (
        F.when(h1 < "4", F.lit(_Q80_BRACE))
        .when(h1 < "8", F.lit(_Q80_LOREM))
        .otherwise(F.lit(_Q80_GOOD))
    )
    deco = F.concat_ws(
        "\n",
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(_Q80_GOOD),
        *(F.lit(s) for s in _Q80_LINES),
        tail,
    )
    staged = d.select("doc_id", deco.alias("__t"))
    return c4_line_clean(staged, text_col="__t").select(
        "doc_id",
        F.md5(F.col("clean_text")).alias("clean_md5"),
        "n_lines_total",
        "n_lines_kept",
        "page_keep",
    )


_Q81_BULLET_DOC = (
    "- one two three\n- four five six\n- seven eight nine"
    "\n- ten eleven twelve"
)
_Q81_HASHES = " " + " ".join(["#"] * 20)
_Q81_ELLIPSIS = "\nto be continued...\nmore light...\nwait…"
_Q81_STOPS = " the be to of and that have with"


def _q81_sql() -> str:
    from soda_core_spark.functions.rulepacks import (
        GOPHER_STOPWORDS,
        GOPHER_THRESHOLDS,
    )

    ell = _Q81_ELLIPSIS.replace("\n", "' || chr(10) || '").replace(
        "…", "' || chr(8230) || '"
    )
    bullets = _Q81_BULLET_DOC.replace("\n", "' || chr(10) || '")
    deco = (
        "CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < '3'"
        f" THEN '{bullets}'"
        " WHEN substr(md5(doc_id::VARCHAR), 1, 1) < '6'"
        f" THEN coalesce(text, '') || '{_Q81_HASHES}'"
        " WHEN substr(md5(doc_id::VARCHAR), 1, 1) < '9'"
        f" THEN coalesce(text, '') || '{ell}'"
        " WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'c'"
        " THEN coalesce(text, '')"
        f" ELSE coalesce(text, '') || '{_Q81_STOPS}' END"
    )
    stops = " + ".join(
        "list_contains(list_transform(w, x -> lower(x)),"
        f" '{sw}')::INT"
        for sw in GOPHER_STOPWORDS
    )
    th = GOPHER_THRESHOLDS
    lo_wc, hi_wc = th["word_count"]
    lo_mwl, hi_mwl = th["mean_word_len"]
    return f"""
    WITH feat AS (
      SELECT doc_id, {deco} AS t,
             list_filter(regexp_split_to_array({deco},
                 '[ \\t\\n\\r]+'), x -> x <> '') AS w,
             list_filter(list_transform(string_split({deco}, chr(10)),
                 x -> trim(x)), x -> x <> '') AS lines
      FROM documents
    ),
    m AS (
      SELECT doc_id, t, w, lines,
             len(w)::BIGINT AS nw, len(lines)::BIGINT AS nl,
             length(array_to_string(w, '')) AS wchars,
             (length(t) - length(replace(t, '#', ''))) / 1
               + (length(t) - length(replace(t, chr(8230), ''))) / 1
               + (length(t) - length(replace(t, '...', ''))) / 3 AS nsym
      FROM feat
    )
    SELECT doc_id,
      (nw < {lo_wc} OR nw > {hi_wc}) AS fail_word_count,
      CASE WHEN nw > 0 THEN (wchars / nw::DOUBLE) < {lo_mwl}
             OR (wchars / nw::DOUBLE) > {hi_mwl}
           ELSE true END AS fail_mean_word_len,
      CASE WHEN nw > 0 THEN (nsym / nw::DOUBLE) > {th['symbol_word_ratio']}
           ELSE true END AS fail_symbol_ratio,
      CASE WHEN nl > 0 THEN
             len(list_filter(lines, x -> starts_with(x, chr(8226))
                 OR starts_with(x, '- ') OR starts_with(x, '* ')))::DOUBLE
               / nl > {th['bullet_line_frac']}
           ELSE false END AS fail_bullet,
      CASE WHEN nl > 0 THEN
             len(list_filter(lines, x -> ends_with(x, '...')
                 OR ends_with(x, chr(8230))))::DOUBLE
               / nl > {th['ellipsis_line_frac']}
           ELSE false END AS fail_ellipsis,
      CASE WHEN nw > 0 THEN
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
               / nw < {th['alpha_word_frac']}
           ELSE true END AS fail_alpha_words,
      ({stops}) < {th['min_stopwords']} AS fail_stopwords,
      NOT ((nw < {lo_wc} OR nw > {hi_wc})
        OR CASE WHEN nw > 0 THEN (wchars / nw::DOUBLE) < {lo_mwl}
                  OR (wchars / nw::DOUBLE) > {hi_mwl}
                ELSE true END
        OR CASE WHEN nw > 0 THEN (nsym / nw::DOUBLE)
                  > {th['symbol_word_ratio']} ELSE true END
        OR CASE WHEN nl > 0 THEN
                  len(list_filter(lines, x -> starts_with(x, chr(8226))
                      OR starts_with(x, '- ')
                      OR starts_with(x, '* ')))::DOUBLE
                    / nl > {th['bullet_line_frac']} ELSE false END
        OR CASE WHEN nl > 0 THEN
                  len(list_filter(lines, x -> ends_with(x, '...')
                      OR ends_with(x, chr(8230))))::DOUBLE
                    / nl > {th['ellipsis_line_frac']} ELSE false END
        OR CASE WHEN nw > 0 THEN
                  len(list_filter(w, x ->
                      regexp_matches(x, '[A-Za-z]')))::DOUBLE
                    / nw < {th['alpha_word_frac']} ELSE true END
        OR ({stops}) < {th['min_stopwords']}) AS keep
    FROM m
    """


@register("q81_gopher_rules", _q81_sql())
def q81(spark, sf_dir):
    """The Gopher document-quality rule pack (functions/rulepacks.py;
    Rae et al. 2021 Appendix A.1.1): seven per-document failure flags
    + keep, every ratio a division of identical integer counts so the
    booleans are bit-identical across engines. Hash-chosen decoration
    variants (bullet doc / symbol spam / ellipsis lines / raw /
    stopword boost) make every rule fire on some subset."""
    from soda_core_spark.functions.rulepacks import with_gopher_flags

    d = _t(spark, sf_dir, "documents")
    h1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    base = F.coalesce(F.col("text"), F.lit(""))
    deco = (
        F.when(h1 < "3", F.lit(_Q81_BULLET_DOC))
        .when(h1 < "6", F.concat(base, F.lit(_Q81_HASHES)))
        .when(h1 < "9", F.concat(base, F.lit(_Q81_ELLIPSIS)))
        .when(h1 < "c", base)
        .otherwise(F.concat(base, F.lit(_Q81_STOPS)))
    )
    staged = d.select("doc_id", deco.alias("__t"))
    return with_gopher_flags(staged, "__t").drop("__t")


# clean source -> its UTF-8 bytes mis-decoded as Latin-1 and as cp1252:
# the two real-web mojibake variants (deterministic at import time).
# NOTE: must stay cp1252-decodable — chars whose UTF-8 bytes hit the
# five undefined cp1252 slots (0x81 0x8D 0x8F 0x90 0x9D), e.g. the
# closing curly quote U+201D (byte 0x9D), would raise at import.
_Q82_CLEAN = (
    "été déjà — «naïve»"
    " “quoted’…"
)
_Q82_MOJI_L1 = _Q82_CLEAN.encode("utf-8").decode("latin-1")
_Q82_MOJI_CP = _Q82_CLEAN.encode("utf-8").decode("cp1252")


def _sql_chr_literal(s: str) -> str:
    """A DuckDB expression reproducing ``s`` exactly, control chars and
    all, without relying on literal-escaping rules."""
    return "(" + " || ".join(f"chr({ord(c)})" for c in s) + ")"


def _q82_sql() -> str:
    deco = (
        "CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < '5'"
        f" THEN coalesce(text, '') || ' ' || {_sql_chr_literal(_Q82_MOJI_L1)}"
        " WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'a'"
        f" THEN coalesce(text, '') || ' ' || {_sql_chr_literal(_Q82_MOJI_CP)}"
        " ELSE coalesce(text, '') END"
    )
    a_c3 = "chr(195)"  # 'Ã'
    a_c2 = "chr(194)"  # 'Â'
    a_e2 = "(chr(226) || chr(8364))"  # 'â€' (cp1252 face of E2 80)
    return f"""
    WITH deco AS (SELECT doc_id, {deco} AS t FROM documents),
    m AS (
      SELECT doc_id, t,
             ((length(t) - length(replace(t, {a_c3}, ''))) / 1
              + (length(t) - length(replace(t, {a_c2}, ''))) / 1
              + (length(t) - length(replace(t, {a_e2}, ''))) / 2)::BIGINT
               AS n_artifacts,
             length(t) AS nc
      FROM deco
    )
    SELECT doc_id, n_artifacts,
           round(CASE WHEN nc > 0 THEN n_artifacts::DOUBLE / nc
                      ELSE 0.0 END, 6) AS mojibake_ratio,
           (n_artifacts >= 2
            AND round(CASE WHEN nc > 0 THEN n_artifacts::DOUBLE / nc
                           ELSE 0.0 END, 6) > 0.005) AS is_mojibake
    FROM m
    """


@register("q82_mojibake", _q82_sql())
def q82(spark, sf_dir):
    """Encoding-artifact (mojibake) detection (functions/mojibake.py):
    replace-diff counts of the UTF-8-read-as-Latin-1/cp1252 telltales,
    ratio + flag — pure codegen, no UDF. Half the corpus gets a
    Latin-1-flavoured artifact suffix, a quarter the cp1252 flavour
    (hash-chosen), so both variants and the clean path are exercised.
    The ftfy-style repair itself is JVM translate+encode+decode and is
    python-oracled in tests (DuckDB has no Latin-1 codec)."""
    from soda_core_spark.functions.mojibake import mojibake_signals

    d = _t(spark, sf_dir, "documents")
    h1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    base = F.coalesce(F.col("text"), F.lit(""))
    deco = (
        F.when(h1 < "5", F.concat(base, F.lit(" " + _Q82_MOJI_L1)))
        .when(h1 < "a", F.concat(base, F.lit(" " + _Q82_MOJI_CP)))
        .otherwise(base)
    )
    sig = mojibake_signals(deco)
    # the ratio-vs-threshold compare must see the same 6dp-rounded value
    # as the oracle (is_mojibake in mojibake_signals already compares
    # the rounded ratio)
    return d.select(
        "doc_id",
        sig["n_artifacts"].alias("n_artifacts"),
        sig["mojibake_ratio"].alias("mojibake_ratio"),
        sig["is_mojibake"].alias("is_mojibake"),
    )


# ---------------------------------------------------------------------------
# fastText-style hashed n-gram NB classifier (operators/nbgram.py)
# ---------------------------------------------------------------------------


def _q83_sql(buckets: int = 1024, alpha: float = 1.0) -> str:
    ph = _P_HASH_SQL.format(v="g")
    a = float(alpha)
    return f"""
    WITH base AS (
      SELECT doc_id, (lang = 'en') AS label,
             list_filter(
               regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\r]+'),
               x -> x <> '') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id, label,
             unnest(list_concat(
               ws,
               list_transform(range(1, len(ws)),
                              i -> ws[i] || chr(31) || ws[i + 1]))) AS g
      FROM base
    ),
    cnt AS (
      SELECT doc_id, label, ({ph}) % {buckets} AS bucket, count(*) AS n
      FROM grams GROUP BY doc_id, label, bucket
    ),
    pb AS (
      SELECT bucket,
             sum(CASE WHEN label THEN n ELSE 0 END)::DOUBLE AS pos_c,
             sum(CASE WHEN NOT label THEN n ELSE 0 END)::DOUBLE AS neg_c
      FROM cnt GROUP BY bucket
    ),
    tot AS (SELECT sum(pos_c) AS pos_t, sum(neg_c) AS neg_t FROM pb),
    llr AS (
      SELECT bucket,
             round(ln((pos_c + {a}) / (pos_t + {a} * {buckets}))
                 - ln((neg_c + {a}) / (neg_t + {a} * {buckets})), 12) AS llr
      FROM pb, tot
    ),
    prior AS (
      SELECT round(ln(sum(CASE WHEN label THEN 1 ELSE 0 END) + {a})
                 - ln(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) + {a}),
                   12) AS prior
      FROM base
    ),
    score AS (
      SELECT c.doc_id,
             round(sum(c.n * l.llr) + any_value(p.prior), 6) AS nb_score
      FROM cnt c JOIN llr l USING (bucket), prior p
      GROUP BY c.doc_id
    )
    SELECT doc_id, nb_score, nb_score > 0.0 AS nb_pred FROM score
    """


@register("q83_nbgram_classifier", _q83_sql())
def q83(spark, sf_dir):
    """fastText-style hashed uni+bigram quality classifier, NB
    parametrization (operators/nbgram.py — the DCLM/FineWeb model-filter
    shape): closed-form per-bucket log-likelihood-ratio weights from ONE
    aggregation pass, broadcast back onto integer (doc, bucket) counts,
    per-doc linear score + keep/drop prediction. Labels here: lang='en'
    (learnable from n-grams, so the prediction column is meaningful)."""
    from soda_core_spark.operators.nbgram import nb_quality_classifier

    d = _t(spark, sf_dir, "documents").withColumn(
        "label", F.col("lang") == "en"
    )
    return nb_quality_classifier(d, buckets=1024)


# ---------------------------------------------------------------------------
# jusText boilerplate block classification (operators/justext.py)
# ---------------------------------------------------------------------------


def _duck_frag_chain(expr: str) -> str:
    """Fragment → text: the justext module's frag_text as DuckDB SQL,
    built FROM the same rule strings."""
    from soda_core_spark.functions.html import HTML_ENTITIES
    from soda_core_spark.operators.justext import FRAG_TAG_PATTERN

    out = f"regexp_replace({expr}, {_duck_estr(FRAG_TAG_PATTERN)}, ' ', 'g')"
    for ent, lit in HTML_ENTITIES:
        out = f"replace({out}, {_duck_sq(ent)}, {_duck_sq(lit)})"
    return f"trim(regexp_replace({out}, ' +', ' ', 'g'), ' ')"


def _q84_sql() -> str:
    from soda_core_spark.operators.justext import (
        ANCHOR_PATTERN,
        BLOCK_BOUNDARY_PATTERN,
        PRE_RULES,
    )

    html = (
        "'<html><body><div><a href=\"/\">Home</a> "
        "<a href=\"/a\">About us</a> <a href=\"/c\">Contact</a></div><p>' || "
        "substr(coalesce(text, ''), 1, 40) || '</p><p>' || "
        "coalesce(text, '') || "
        "'</p><p>Share this</p><div>' || chr(169) || "
        "' 2026 Example Corp</div></body></html>'"
    )
    pre = html
    for pat, rep in PRE_RULES:
        pre = f"regexp_replace({pre}, {_duck_estr(pat)}, {_duck_estr(rep)}, 'g')"
    # coalesce: DuckDB's array_to_string([]) is NULL, not '' — a NULL
    # alen would silently become link_density 1.0 through NULL-skipping
    # least()
    anchors = (
        "coalesce(array_to_string(regexp_extract_all(frag, "
        + _duck_estr(ANCHOR_PATTERN)
        + ", 1), ' '), '')"
    )
    sw = f"list_contains({_SW_LIST_SQL}, lower(x))"
    gb = "CASE WHEN cf_class IN ('good', 'bad') THEN cf_class END"
    ng = "CASE WHEN cf_class IN ('good', 'bad', 'neargood') THEN cf_class END"
    return f"""
    WITH src AS (SELECT doc_id, {pre} AS s FROM documents),
    fr0 AS (
      SELECT doc_id,
             unnest(list_transform(range(len(fl)),
                    j -> {{'i': j + 1, 'frag': fl[j + 1]}})) AS u
      FROM (SELECT doc_id,
                   regexp_split_to_array(s,
                     {_duck_estr(BLOCK_BOUNDARY_PATTERN)}) AS fl
            FROM src) x
    ),
    fr AS (SELECT doc_id, u.i AS i, u.frag AS frag FROM fr0),
    blk AS (
      SELECT doc_id, i, {_duck_frag_chain('frag')} AS t,
             length({_duck_frag_chain(anchors)}) AS alen
      FROM fr
    ),
    nz AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos,
             t, alen, length(t) AS L,
             list_filter(regexp_split_to_array(t, '[ \\t\\n\\r]+'),
                         x -> x <> '') AS ws
      FROM blk WHERE t <> ''
    ),
    cf AS (
      SELECT doc_id, pos, L,
             CASE
               WHEN (CASE WHEN L > 0
                          THEN least(1.0, alen::DOUBLE / L) ELSE 0.0 END)
                    > 0.2 THEN 'bad'
               WHEN contains(t, chr(169)) THEN 'bad'
               WHEN L < 70 THEN
                 CASE WHEN alen > 0 THEN 'bad' ELSE 'short' END
               WHEN (CASE WHEN len(ws) > 0
                          THEN len(list_filter(ws, x -> {sw}))::DOUBLE
                               / len(ws) ELSE 0.0 END) >= 0.32 THEN
                 CASE WHEN L > 200 THEN 'good' ELSE 'neargood' END
               WHEN (CASE WHEN len(ws) > 0
                          THEN len(list_filter(ws, x -> {sw}))::DOUBLE
                               / len(ws) ELSE 0.0 END) >= 0.30
                 THEN 'neargood'
               ELSE 'bad'
             END AS cf_class
      FROM nz
    ),
    nb AS (
      SELECT doc_id, pos, L, cf_class,
             coalesce(last_value({gb} IGNORE NULLS) OVER wp, 'bad') AS pgb,
             coalesce(first_value({gb} IGNORE NULLS) OVER wn, 'bad') AS ngb,
             coalesce(last_value({ng} IGNORE NULLS) OVER wp, 'bad') AS png,
             coalesce(first_value({ng} IGNORE NULLS) OVER wn, 'bad') AS nng
      FROM cf
      WINDOW wp AS (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wn AS (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT doc_id, pos, cf_class,
           CASE
             WHEN cf_class = 'short' THEN
               CASE
                 WHEN pgb = 'good' AND ngb = 'good' THEN 'good'
                 WHEN pgb = 'bad' AND ngb = 'bad' THEN 'bad'
                 WHEN (pgb = 'bad' AND png = 'neargood')
                   OR (ngb = 'bad' AND nng = 'neargood') THEN 'good'
                 ELSE 'bad'
               END
             WHEN cf_class = 'neargood' THEN
               CASE WHEN pgb = 'bad' AND ngb = 'bad'
                    THEN 'bad' ELSE 'good' END
             ELSE cf_class
           END AS block_class,
           L::BIGINT AS block_len
    FROM nb
    """


@register("q84_justext_blocks", _q84_sql())
def q84(spark, sf_dir):
    """jusText-style boilerplate block classification
    (operators/justext.py): each document wrapped in a deterministic
    page template (link nav, a 40-char teaser block, the full text, a
    short share block, a copyright footer — built identically in both
    engines), segmented at block tags, classified context-free
    (link density / copyright / length / stopword density) and revised
    from nearest decided neighbours. Spark runs the whole algorithm
    row-locally (prefix-scan HOFs, zero shuffle); the oracle is an
    independent window-function formulation."""
    from soda_core_spark.operators.justext import justext_blocks

    d = _t(spark, sf_dir, "documents")
    d = d.withColumn(
        "html",
        F.concat(
            F.lit(
                '<html><body><div><a href="/">Home</a> '
                '<a href="/a">About us</a> <a href="/c">Contact</a></div><p>'
            ),
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
            F.lit("</p><p>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("</p><p>Share this</p><div>\u00a9 2026 Example Corp</div>"
                  "</body></html>"),
        ),
    )
    b = justext_blocks(d)
    return b.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        "cf_class",
        "block_class",
        F.length("block_text").cast("bigint").alias("block_len"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer (functions/bpe.py). The registry entry applies a FIXED,
# import-time-learned merge table (so the oracle is sf-independent);
# the distributed training half is oracled separately as
# q126_bpe_training_table, and full corpus-trained end-to-end runs stay
# pinned by tests/test_bpe.py's python-replay parity.
# ---------------------------------------------------------------------------

#: Fixed BPE training table: the deterministic generator's full
#: document vocabulary with fixed synthetic frequencies (a literal —
#: NOT data-derived at runtime, so the learned merges are identical at
#: every scale factor and the oracle can embed them as constants).
_Q85_TRAIN_FREQS: list[tuple[str, int]] = [
    (w, 1000 - 13 * i)
    for i, w in enumerate([
        "spark", "window", "merge", "table", "column", "vector", "stream",
        "value", "data", "small", "join", "filter", "big", "group", "hash",
        "customer", "sort", "order", "slow", "line", "part", "fast", "row",
        "the", "agg", "key", "query", "a", "scan", "batch", "dup",
    ])
]

_Q85_NUM_MERGES = 60  # partial coverage: some words fully merge, some don't


def _q85_merges() -> list[tuple[str, str]]:
    from soda_core_spark.functions.bpe import learn_bpe_from_counts

    return learn_bpe_from_counts(_Q85_TRAIN_FREQS, _Q85_NUM_MERGES)


def _q85_sql() -> str:
    """Greedy BPE segmentation as a recursive CTE. Each recursion step
    merges the LEFTMOST occurrence of the minimal-rank pair present —
    provably identical to the operator's pass-based all-occurrence
    left-to-right loop, because any pair CREATED by merging (a,b)
    involves the new symbol ab and was therefore learned after (a,b),
    i.e. always has a higher rank: the current best pair stays best
    until exhausted, and one-at-a-time order equals pass order. The
    ' '-joined pair key is collision-proof: symbols come from
    whitespace-split words, so no symbol ever contains a space. The
    terminal state per word is its unique minimal-length row, so
    tokens(word) = min(len(syms))."""
    merges = _q85_merges()
    keys = ", ".join(
        "'" + (a + " " + b).replace("'", "''") + "'" for a, b in merges
    )
    vals = ", ".join(str(i) for i in range(len(merges)))
    rankmap = f"map([{keys}], [{vals}])"
    return f"""
    WITH RECURSIVE dw AS (
      SELECT DISTINCT unnest(list_filter(regexp_split_to_array(
             coalesce(text,''), '[ \t\n\r]+'), x -> x <> '')) AS word
      FROM documents
    ),
    seg AS (
      SELECT word, list_append(regexp_extract_all(word, '.'), '</w>') AS syms
      FROM dw
      UNION ALL
      SELECT word,
             syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:] AS syms
      FROM (
        SELECT word, syms,
               (list_sort(list_filter(list_transform(range(1, len(syms)),
                  j -> {{'r': ({rankmap})[syms[j] || ' ' || syms[j+1]][1],
                         'i': j}}),
                  x -> x.r IS NOT NULL)))[1].i AS bi
        FROM seg
      ) WHERE bi IS NOT NULL
    ),
    wtok AS (
      SELECT word, min(len(syms))::BIGINT AS n_tok FROM seg GROUP BY word
    ),
    toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(
             coalesce(text,''), '[ \t\n\r]+'), x -> x <> '')) AS word
      FROM documents
    ),
    per_doc AS (
      SELECT t.doc_id, sum(w.n_tok)::BIGINT AS s
      FROM toks t JOIN wtok w USING(word) GROUP BY t.doc_id
    )
    SELECT d.doc_id, coalesce(p.s, 0)::BIGINT AS bpe_tokens
    FROM documents d LEFT JOIN per_doc p USING(doc_id)
    """


@register("q85_bpe_token_count", _q85_sql())
def q85(spark, sf_dir):
    """Tokenizer-accurate token counts: a fixed import-time-learned BPE
    merge table (ties pinned — bit-reproducible) applied via the
    Arrow-batched mapInPandas with a per-batch word cache
    (functions/bpe.py bpe_token_counts). The merge table is learned
    from a literal word-frequency table so it is identical at every
    scale factor; the DISTRIBUTED training table (the exact sufficient
    statistic) is oracled separately as q126_bpe_training_table, and
    corpus-trained end-to-end runs are pinned by tests/test_bpe.py."""
    from soda_core_spark.functions.bpe import bpe_token_counts

    d = _t(spark, sf_dir, "documents")
    return bpe_token_counts(d, _q85_merges())


# ---------------------------------------------------------------------------
# anchor-text aggregation (operators/linkgraph.py)
# ---------------------------------------------------------------------------


def _q86_sql(k: int = 3) -> str:
    from soda_core_spark.operators.linkgraph import ANCHOR_HREF_TEXT_PATTERN

    pat = _duck_estr(ANCHOR_HREF_TEXT_PATTERN)
    host = "'host' || (doc_id % 17)::VARCHAR || '.example.com'"
    h1 = "((doc_id * 3 + 1) % 17)::VARCHAR"
    h2 = "((doc_id * 5 + 2) % 17)::VARCHAR"
    html = (
        "'<p>' || coalesce(text, '') || '</p>'"
        f" || '<a href=\"https://host' || {h1} || '.example.com/a\">"
        f"<b>Read</b> host ' || {h1} || '</a>'"
        f" || '<a href=\"//host' || {h2} || '.example.com/b\">"
        "news &amp; views</a>'"
        " || '<a href=\"/local\">home</a>'"
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, {host} AS src_host, {html} AS html FROM documents
    ),
    x AS (
      SELECT src_host,
             unnest(regexp_extract_all(html, {pat}, 1)) AS href,
             unnest(regexp_extract_all(html, {pat}, 2)) AS raw
      FROM docs
    ),
    resolved AS (
      SELECT src_host,
             CASE WHEN regexp_matches(href, '^[Hh][Tt][Tt][Pp][Ss]?://')
                    THEN nullif(regexp_replace(
                           lower(regexp_extract(href, '{_LG_URL_RE}', 2)),
                           ':[0-9]+$', ''), '')
                  WHEN href LIKE '//%'
                    THEN nullif(regexp_replace(
                           lower(regexp_extract('http:' || href,
                                                '{_LG_URL_RE}', 2)),
                           ':[0-9]+$', ''), '')
                  WHEN NOT regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:')
                    THEN src_host
                  ELSE NULL END AS dst_host,
             {_duck_frag_chain('raw')} AS anchor_text
      FROM x
    ),
    cnt AS (
      SELECT dst_host, anchor_text, count(*)::BIGINT AS n
      FROM resolved
      WHERE dst_host IS NOT NULL AND anchor_text <> ''
        AND dst_host <> src_host
      GROUP BY dst_host, anchor_text
    )
    SELECT dst_host, anchor_text, n, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY dst_host ORDER BY n DESC, anchor_text
      )::BIGINT AS rank FROM cnt
    ) WHERE rank <= {k}
    """


@register("q86_host_anchor_texts", _q86_sql())
def q86(spark, sf_dir):
    """Anchor-text aggregation onto target hosts
    (operators/linkgraph.py): href + inner text extracted from the SAME
    match via two group extractions zipped positionally, destinations
    resolved like the link graph (http/protocol-relative/other-scheme),
    inline markup stripped and entities decoded by the shared fragment
    rules, external anchors counted per (host, text) and top-3 ranked —
    the classic document-augmentation signal."""
    from soda_core_spark.operators.linkgraph import (
        host_anchor_texts,
        top_host_anchors,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host = lambda e: F.concat(  # noqa: E731
        F.lit("host"), (e % 17).cast("string"), F.lit(".example.com")
    )
    pages = d.select(
        F.concat(
            F.lit("https://"), host(did), F.lit("/page/"), did.cast("string")
        ).alias("url"),
        F.concat(
            F.lit("<p>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit('</p><a href="https://'),
            host(did * 3 + 1),
            F.lit('/a"><b>Read</b> host '),
            ((did * 3 + 1) % 17).cast("string"),
            F.lit('</a><a href="//'),
            host(did * 5 + 2),
            F.lit('/b">news &amp; views</a><a href="/local">home</a>'),
        ).alias("html"),
    )
    return top_host_anchors(host_anchor_texts(pages), k=3)


# ---------------------------------------------------------------------------
# quality-ranked cluster survivor selection (operators/dedup.py)
# ---------------------------------------------------------------------------


_Q87_SQL = """
WITH RECURSIVE edges AS (
  SELECT a.doc_id AS s, b.doc_id AS d
  FROM documents a JOIN documents b
    ON a.source = b.source AND abs(a.n_chars - b.n_chars) <= 10
   AND a.doc_id < b.doc_id
),
sym AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
reach AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
),
comp AS (
  SELECT s AS node, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s
),
m AS (
  SELECT c.component, c.node AS doc_id,
         length(coalesce(d.text, '')) AS score
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
mx AS (SELECT component, max(score) AS smax FROM m GROUP BY component),
surv AS (
  SELECT m.component, min(m.doc_id) AS doc_id
  FROM m JOIN mx USING (component) WHERE m.score = mx.smax
  GROUP BY m.component
),
losers AS (
  SELECT node AS doc_id FROM comp
  WHERE node NOT IN (SELECT doc_id FROM surv)
)
SELECT doc_id, length(coalesce(text, ''))::BIGINT AS text_len
FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM losers)
ORDER BY doc_id
"""


@register("q87_best_of_cluster", _Q87_SQL)
def q87(spark, sf_dir):
    """Quality-ranked near-dup survivor selection
    (operators/dedup.py best_of_cluster): connected components over the
    q43 similarity-surrogate graph, then keep the LONGEST member of
    every cluster (ties → lowest id) plus all unclustered docs — the
    keep-the-best-duplicate rule production dedup uses instead of
    min-id. Membership joins move only (id, score) pairs; oracle is the
    recursive-CTE closure plus max/min-id selection."""
    from soda_core_spark.operators.dedup import (
        best_of_cluster,
        connected_components,
    )

    d = _t(spark, sf_dir, "documents")
    a, b = d.alias("a"), d.alias("b")
    edges = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 10)
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    comps = connected_components(edges)
    kept = best_of_cluster(
        d, comps, F.length(F.coalesce(F.col("text"), F.lit("")))
    )
    return kept.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("bigint")
        .alias("text_len"),
    )


# ---------------------------------------------------------------------------
# OOV / rare-word rate (operators/profiling.py)
# ---------------------------------------------------------------------------


def _q88_sql(k: int = 200) -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(
               regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\r]+'),
               x -> x <> '')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS n FROM tok GROUP BY w
        ORDER BY n DESC, w LIMIT {k}
      )
    ),
    per AS (
      SELECT t.doc_id, count(*) AS n,
             sum(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END) AS hits
      FROM tok t LEFT JOIN vocab v ON t.w = v.w
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n, 0)::BIGINT AS n_words,
           CASE WHEN coalesce(p.n, 0) > 0
                THEN round(1.0 - p.hits::DOUBLE / p.n, 6)
                ELSE 0.0 END AS oov_rate
    FROM documents d LEFT JOIN per p USING (doc_id)
    """


@register("q88_oov_rate", _q88_sql())
def q88(spark, sf_dir):
    """Rare-word (OOV) density against the corpus top-200 vocabulary
    (operators/profiling.py): vocabulary from ONE bounded aggregate,
    folded back as an InSet literal so per-doc scoring is a zero-shuffle
    row-local projection; the oracle computes the same rate via an
    explicit vocab join (independent formulation)."""
    from soda_core_spark.operators.profiling import (
        top_vocabulary,
        with_oov_rate,
    )

    d = _t(spark, sf_dir, "documents")
    vocab = top_vocabulary(d, k=200)
    return with_oov_rate(d, vocab).select("doc_id", "n_words", "oov_rate")


# ---------------------------------------------------------------------------
# per-language stopword density (functions/langid.py)
# ---------------------------------------------------------------------------


def _q89_sql() -> str:
    from soda_core_spark.functions.langid import LANGS, LANG_WORDS

    branches = []
    for L in LANGS:
        words = ", ".join(f"'{w}'" for w in sorted(LANG_WORDS[L]))
        dens = (
            f"CASE WHEN len(wl) > 0 THEN "
            f"round(len(list_filter(wl, x -> list_contains([{words}], x)))"
            f"::DOUBLE / len(wl), 6) ELSE 0.0 END"
        )
        branches.append(f"WHEN '{L}' THEN {dens}")
    case = "CASE lang " + " ".join(branches) + " ELSE NULL END"
    return f"""
    WITH w AS (
      SELECT doc_id, lang,
             list_transform(
               list_filter(
                 regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\r]+'),
                 x -> x <> ''),
               x -> lower(x)) AS wl
      FROM documents
    )
    SELECT doc_id, lang, {case} AS lang_stopword_density FROM w
    """


@register("q89_lang_stopword_density", _q89_sql())
def q89(spark, sf_dir):
    """Per-language stopword density (functions/langid.py
    lang_stopword_density): each document measured against ITS OWN
    language's function-word pack — the multilingual form of the
    CCNet/Gopher stopword signal; pack-less languages (zh) surface NULL
    ("signal unavailable"), never zero-quality. Shares the LANG_WORDS
    tables with the SQL oracle as data."""
    from soda_core_spark.functions.langid import lang_stopword_density
    from soda_core_spark.functions.text import text_counts

    d = _t(spark, sf_dir, "documents")
    staged = d.select("doc_id", "lang", text_counts(F.col("text")).alias("__counts"))
    return staged.select(
        "doc_id",
        "lang",
        lang_stopword_density(F.col("__counts"), F.col("lang")).alias(
            "lang_stopword_density"
        ),
    )


# ---------------------------------------------------------------------------
# corpus data-card rollup (operators/profiling.py)
# ---------------------------------------------------------------------------


_Q90_SQL = """
SELECT lang, source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_text,
       round(avg(length(text)), 4) AS avg_chars,
       round(quantile_cont(length(text), 0.5), 4) AS p50_chars,
       max(length(text))::BIGINT AS max_chars
FROM documents GROUP BY lang, source
"""


@register("q90_corpus_report", _Q90_SQL)
def q90(spark, sf_dir):
    """Data-card rollup per (lang, source)
    (operators/profiling.py corpus_report): doc counts, NULL-text
    counts, char-length mean/median/max — one partial-agg groupBy, the
    first table of every corpus release card."""
    from soda_core_spark.operators.profiling import corpus_report

    d = _t(spark, sf_dir, "documents")
    r = corpus_report(d, ["lang", "source"])
    return r.select(
        "lang",
        "source",
        "n_docs",
        "null_text",
        "avg_chars",
        F.round("p50_chars", 4).alias("p50_chars"),
        "max_chars",
    )


# ---------------------------------------------------------------------------
# embedding sanity checks (functions/embeddings_qc.py)
# ---------------------------------------------------------------------------


def _q91_sql() -> str:
    # NULL-input guard first: a NULL embedding stays NULL through the
    # corruption stage on BOTH engines (DuckDB's list_concat treats a
    # NULL operand as empty — ['nan'] — while Spark's concat propagates
    # NULL; without the guard the %10=2 branch diverges on NULL input)
    deco = """
      CASE WHEN embedding IS NULL THEN NULL
           WHEN vec_id % 10 = 0 THEN NULL
           WHEN vec_id % 10 = 1 THEN embedding[1:63]
           WHEN vec_id % 10 = 2 THEN
             list_concat(['nan'::FLOAT], embedding[2:])
           WHEN vec_id % 10 = 3 THEN
             list_transform(embedding, x -> 0.0::FLOAT)
           ELSE embedding END
    """
    norm = (
        "CASE WHEN len(v) = 0 THEN 0.0 ELSE "
        "round(sqrt(list_reduce(list_transform(v, x -> x::DOUBLE * x), "
        "(a, b) -> a + b) + 0.0), 6) END"
    )
    return f"""
    WITH deco AS (SELECT vec_id, ({deco}) AS raw FROM embeddings),
    c AS (
      SELECT vec_id, coalesce(raw, []::FLOAT[]) AS v FROM deco
    ),
    d AS (
      SELECT vec_id, len(v)::BIGINT AS dim,
             len(list_filter(v, x -> isnan(x))) > 0 AS has_nan,
             {norm} AS raw_norm
      FROM c
    )
    SELECT vec_id, dim, dim = 64 AS dim_ok, has_nan,
           coalesce((CASE WHEN NOT has_nan THEN raw_norm END) = 0.0,
                    TRUE) AS is_zero,
           CASE WHEN NOT has_nan THEN raw_norm END AS l2_norm,
           (dim = 64 AND NOT has_nan
            AND NOT coalesce(
                  (CASE WHEN NOT has_nan THEN raw_norm END) = 0.0, TRUE))
             AS vec_valid
    FROM d
    """


@register("q91_embedding_sanity", _q91_sql())
def q91(spark, sf_dir):
    """Embedding-column sanity checks (functions/embeddings_qc.py):
    NULL vectors, dimension drift, NaN components, zero vectors — the
    vector extension of missing/invalid semantics, all row-local column
    algebra (aggregate-fold norm, exists NaN scan). Corruption is
    hash-injected per row so every flag fires: NULL / truncated /
    NaN-poisoned / zeroed variants, built identically in both engines."""
    from soda_core_spark.functions.embeddings_qc import (
        with_embedding_diagnostics,
    )

    e = _t(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    emb = F.col("embedding")
    deco = (
        F.when(vid % 10 == 0, F.lit(None).cast("array<float>"))
        .when(vid % 10 == 1, F.slice(emb, 1, 63))
        .when(
            vid % 10 == 2,
            F.concat(
                F.array(F.lit(float("nan")).cast("float")),
                F.slice(emb, 2, 63),
            ),
        )
        .when(vid % 10 == 3, F.transform(emb, lambda x: F.lit(0.0).cast("float")))
        .otherwise(emb)
    )
    staged = e.select("vec_id", deco.alias("embedding"))
    out = with_embedding_diagnostics(staged, "embedding", expected_dim=64)
    return out.select(
        "vec_id", "dim", "dim_ok", "has_nan", "is_zero", "l2_norm", "vec_valid"
    )


# ---------------------------------------------------------------------------
# length-bucketed batching (operators/sampling.py)
# ---------------------------------------------------------------------------


def _q92_sql(bounds=(8, 16, 32, 64)) -> str:
    b = list(bounds)
    bucket = "CASE " + " ".join(
        f"WHEN n <= {v} THEN {i}" for i, v in enumerate(b)
    ) + f" ELSE {len(b)} END"
    ceil = "CASE " + " ".join(
        f"WHEN n <= {v} THEN {v}" for v in b
    ) + " ELSE NULL END"
    return f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(
               regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\r]+'),
               x -> x <> ''))::BIGINT AS n
      FROM documents
    ),
    a AS (
      SELECT doc_id, n, ({bucket})::BIGINT AS len_bucket,
             coalesce(({ceil}) - n, 0)::BIGINT AS pad
      FROM t
    )
    SELECT len_bucket, count(*)::BIGINT AS n_rows,
           sum(n)::BIGINT AS real_tokens,
           sum(pad)::BIGINT AS pad_tokens,
           round(sum(pad)::DOUBLE / (sum(pad) + sum(n)), 6) AS waste_frac
    FROM a GROUP BY len_bucket
    """


@register("q92_length_buckets", _q92_sql())
def q92(spark, sf_dir):
    """Length-bucketed batching audit (operators/sampling.py
    assign_length_buckets + padding_waste_report): docs assigned to
    token-length buckets by pure CASE algebra (zero shuffle), then the
    per-bucket padding-waste fractions that drive boundary tuning —
    the standard batched-inference padding reducer."""
    from soda_core_spark.operators.sampling import (
        assign_length_buckets,
        padding_waste_report,
    )

    d = _t(spark, sf_dir, "documents")
    n = F.size(words_col(F.coalesce(F.col("text"), F.lit("")))).cast("long")
    staged = d.select("doc_id", n.alias("n_tokens"))
    b = assign_length_buckets(staged, [8, 16, 32, 64])
    return padding_waste_report(b)


# ---------------------------------------------------------------------------
# HTML head metadata + canonical dedup classes (functions/html.py)
# ---------------------------------------------------------------------------


def _q93_sql() -> str:
    from soda_core_spark.functions.html import (
        CANONICAL_PATTERN,
        PUBLISHED_PATTERNS,
    )

    canon_pat = _duck_estr(CANONICAL_PATTERN)
    pub_pat = _duck_estr(PUBLISHED_PATTERNS[0])
    day = "lpad(((doc_id % 27) + 1)::VARCHAR, 2, '0')"
    html = (
        "'<html><head><link rel=\"canonical\" href=\"https://host' || "
        "(doc_id % 17)::VARCHAR || '.example.com/canon/' || "
        "(doc_id % 100)::VARCHAR || '\"/>' || "
        "'<meta property=\"article:published_time\" content=\"2026-08-' || "
        f"{day} || 'T08:15:00\"/></head><body><p>' || "
        "coalesce(text, '') || '</p></body></html>'"
    )
    return f"""
    WITH src AS (SELECT doc_id, {html} AS h FROM documents),
    meta AS (
      SELECT doc_id,
             nullif(regexp_extract(h, {canon_pat}, 1), '') AS canonical_href,
             try_cast(nullif(regexp_extract(h, {pub_pat}, 1), '')
                      AS TIMESTAMP) AS published_ts
      FROM src
    )
    SELECT canonical_href,
           count(*)::BIGINT AS n_pages,
           min(doc_id) AS survivor_doc,
           max(published_ts) AS latest_pub
    FROM meta WHERE canonical_href IS NOT NULL
    GROUP BY canonical_href
    """


@register("q93_canonical_dedup", _q93_sql())
def q93(spark, sf_dir):
    """Canonical-link dedup classes (functions/html.py
    with_html_metadata): pages declare their canonical URL in markup —
    grouping on it collapses print/AMP/tracking variants BEFORE any
    content hashing; per class: page count, min-id survivor, latest
    published_time (head-metadata regexes, try_to_timestamp, zero
    shuffle until the one groupBy)."""
    from soda_core_spark.functions.html import with_html_metadata

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    day = F.lpad(((did % 27) + 1).cast("string"), 2, "0")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><link rel="canonical" href="https://host'),
            (did % 17).cast("string"),
            F.lit(".example.com/canon/"),
            (did % 100).cast("string"),
            F.lit('"/><meta property="article:published_time" '
                  'content="2026-08-'),
            day,
            F.lit('T08:15:00"/></head><body><p>'),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    m = with_html_metadata(pages)
    return (
        m.where(F.col("canonical_href").isNotNull())
        .groupBy("canonical_href")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.min("doc_id").alias("survivor_doc"),
            F.max("published_ts").alias("latest_pub"),
        )
    )


# ---------------------------------------------------------------------------
# sentence-level perplexity trim (functions/perplexity.py)
# ---------------------------------------------------------------------------


def _q94_sql(threshold: float = 3.35) -> str:
    from soda_core_spark.functions.perplexity import (
        _ALPHABET,
        _K,
        _normalize,
        _SEED_CORPUS,
    )

    seed_body = " ".join(_normalize(_SEED_CORPUS).split())
    kv = _K * len(_ALPHABET)
    deco = "coalesce(text, '') || '. wqjx vqzk xjwq. ok.'"
    pre = f"regexp_replace({deco}, '[\\t\\n\\r]+', ' ', 'g')"
    marked = (
        f"regexp_replace({pre}, '([.!?]) ', '\\1' || chr(7), 'g')"
    )
    norm = (
        "trim(regexp_replace(regexp_replace(lower(s),"
        " '[^a-z ]', ' ', 'g'), ' +', ' ', 'g'))"
    )
    return f"""
    WITH seed(body) AS (SELECT '{seed_body}'),
    st AS (
      SELECT unnest(list_transform(range(1, length(body) - 1),
                                   i -> substr(body, i, 3))) AS t
      FROM seed
    ),
    tri AS (SELECT t, count(*)::DOUBLE AS c FROM st GROUP BY t),
    bi AS (SELECT substr(t, 1, 2) AS b, count(*)::DOUBLE AS c
           FROM st GROUP BY substr(t, 1, 2)),
    sent0 AS (
      SELECT doc_id,
             unnest(list_transform(range(len(lst)),
                    j -> {{'i': j + 1, 's': lst[j + 1]}})) AS u
      FROM (SELECT doc_id,
                   list_filter(
                     list_transform(
                       regexp_split_to_array({marked}, chr(7)),
                       x -> trim(x, ' ')),
                     x -> x <> '') AS lst
            FROM documents) x
    ),
    sent AS (
      SELECT doc_id, u.i AS idx, u.s AS s, {norm} AS body FROM sent0
    ),
    dt AS (
      SELECT doc_id, idx,
             unnest(list_transform(range(1, length(body) - 1),
                                   i -> substr(body, i, 3))) AS t
      FROM sent WHERE length(body) >= 3
    ),
    lp AS (
      SELECT dt.doc_id, dt.idx,
             ln((coalesce(tri.c, 0) + {_K}) / (coalesce(bi.c, 0) + {kv}))
               AS lp
      FROM dt
      LEFT JOIN tri ON dt.t = tri.t
      LEFT JOIN bi ON substr(dt.t, 1, 2) = bi.b
    ),
    sc AS (
      SELECT doc_id, idx, round(-avg(lp), 6) AS score
      FROM lp GROUP BY doc_id, idx
    ),
    scored AS (
      SELECT s.doc_id, s.idx, s.s,
             coalesce(sc.score, 20.0) AS score
      FROM sent s LEFT JOIN sc USING (doc_id, idx)
    ),
    agg AS (
      SELECT doc_id,
             count(*)::INTEGER AS n_sentences,
             sum(CASE WHEN score <= {threshold} THEN 1 ELSE 0 END)
               ::INTEGER AS n_kept,
             md5(string_agg(s, ' ' ORDER BY idx)
                 FILTER (WHERE score <= {threshold})) AS cleaned_md5
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_sentences, n_kept, cleaned_md5 FROM agg
    """


@register("q94_sentence_trim", _q94_sql())
def q94(spark, sf_dir):
    """Sentence-level perplexity surgery (functions/perplexity.py
    sentence_trim_udf): trim the worst sentences instead of dropping the
    document — each doc decorated with a high-perplexity junk sentence
    and a sub-3-char fragment (both engines build the same bytes), each
    sentence scored with the shared char-trigram LM, survivors rejoined;
    the oracle re-trains the LM in SQL and replays the split/score/trim
    per sentence (the q22 discipline at sentence granularity)."""
    from soda_core_spark.functions.perplexity import sentence_trim_udf

    d = _t(spark, sf_dir, "documents")
    deco = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(". wqjx vqzk xjwq. ok."),
    )
    udf = sentence_trim_udf(3.35)
    staged = d.select("doc_id", udf(deco).alias("r"))
    return staged.select(
        "doc_id",
        F.col("r.n_sentences").alias("n_sentences"),
        F.col("r.n_kept").alias("n_kept"),
        F.md5(F.col("r.cleaned")).alias("cleaned_md5"),
    )


# ---------------------------------------------------------------------------
# intra-document paragraph dedup (functions/rulepacks.py)
# ---------------------------------------------------------------------------


_Q95_SQL = """
WITH deco AS (
  SELECT doc_id,
         substr(coalesce(text, ''), 1, 50) || chr(10) ||
         coalesce(text, '') || chr(10) ||
         substr(coalesce(text, ''), 1, 50) || chr(10) ||
         'footer widget' || chr(10) || 'footer widget' AS t
  FROM documents
),
p AS (
  SELECT doc_id,
         list_filter(
           list_transform(string_split(t, chr(10)), x -> trim(x, ' ')),
           x -> x <> '') AS paras
  FROM deco
),
u AS (
  SELECT doc_id, paras,
         list_filter(paras, (x, i) -> list_position(paras, x) = i) AS uniq
  FROM p
)
SELECT doc_id,
       len(paras)::BIGINT AS n_paras,
       len(uniq)::BIGINT AS n_unique,
       md5(array_to_string(uniq, chr(10))) AS dedup_md5
FROM u
"""


@register("q95_paragraph_dedup", _Q95_SQL)
def q95(spark, sf_dir):
    """Intra-document paragraph dedup (functions/rulepacks.py
    dedup_paragraphs_from): repeated blocks inside one page collapse to
    their first occurrence via array_position — zero shuffle, no corpus
    pass. Each doc is decorated with a duplicated leading snippet and a
    doubled footer (identical bytes both engines) so survivors and
    order are meaningfully exercised."""
    from soda_core_spark.functions.rulepacks import (
        dedup_paragraphs_from,
        paragraphs_col,
    )

    d = _t(spark, sf_dir, "documents")
    base = F.coalesce(F.col("text"), F.lit(""))
    snip = F.substring(base, 1, 50)
    deco = F.concat_ws(
        "\n", snip, base, snip, F.lit("footer widget"), F.lit("footer widget")
    )
    staged = d.select("doc_id", paragraphs_col(deco).alias("__paras"))
    cols = dedup_paragraphs_from(F.col("__paras"))
    return staged.select(
        "doc_id",
        cols["n_paras"].alias("n_paras"),
        cols["n_unique"].alias("n_unique"),
        F.md5(cols["dedup_text"]).alias("dedup_md5"),
    )


# ---------------------------------------------------------------------------
# asymmetric containment pairs (operators/dedup.py)
# ---------------------------------------------------------------------------


#: the shared shingles CTE re-rooted on the q96 corpus (docs + excerpts)
_SHINGLES_CTE_CORPUS = _SHINGLES_CTE.replace("FROM documents", "FROM corpus")

_Q96_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, substr(coalesce(text, ''), 1, 80)
  FROM documents WHERE doc_id % 10 = 0
),
{_SHINGLES_CTE_CORPUS},
sizes AS (SELECT id, len(shl)::BIGINT AS n_sh FROM sh),
ex AS (SELECT id, unnest(shl) AS s FROM sh),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
),
j AS (
  SELECT id_a, id_b, n_shared,
         n_shared::DOUBLE / na.n_sh AS ca,
         n_shared::DOUBLE / nb.n_sh AS cb,
         na.n_sh AS n_a, nb.n_sh AS n_b
  FROM inter
  JOIN sizes na ON inter.id_a = na.id
  JOIN sizes nb ON inter.id_b = nb.id
)
SELECT id_a, id_b, n_shared,
       round(ca, 6) AS containment_a,
       round(cb, 6) AS containment_b,
       CASE WHEN ca > cb THEN id_a WHEN cb > ca THEN id_b
            WHEN n_a <= n_b THEN id_a ELSE id_b END AS contained_id
FROM j WHERE greatest(ca, cb) >= 0.6
"""


@register("q96_containment_pairs", _Q96_SQL)
def q96(spark, sf_dir):
    """Asymmetric containment pairs (operators/dedup.py
    ngram_containment_pairs): the excerpt/syndication detector — an
    80-char excerpt row is injected for every 10th document (built
    identically in both engines); its shingles are ~all contained in the
    source, so the pair surfaces at containment ≥ 0.6 where Jaccard
    would stay ≈ |excerpt|/|doc|. Exact mode for the oracle; the
    posting-list cap is the default at scale."""
    from soda_core_spark.operators.dedup import ngram_containment_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ex = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 80).alias(
                "text"
            ),
        )
    )
    corpus = d.unionByName(ex)
    return ngram_containment_pairs(
        corpus, n=3, threshold=0.6, max_doc_freq=None
    )


# ---------------------------------------------------------------------------
# per-rule drop attribution (operators/attribution.py)
# ---------------------------------------------------------------------------


def _q97_sql() -> str:
    feats = _signal_feats_sql()
    flags = {
        "min_chars": "length(coalesce(text, '')) < 200",
        "low_stopword": f"({feats['stopword_density']}) < 0.10",
        "low_alnum": f"({feats['alnum_ratio']}) < 0.815",
        "high_repetition": f"({feats['bigram_repetition']}) > 0.08",
    }
    names = list(flags)
    cols = ", ".join(
        f"CASE WHEN {expr} THEN 1 ELSE 0 END AS f_{n}"
        for n, expr in flags.items()
    )
    tot = " + ".join(f"f_{n}" for n in names)
    rows = []
    for i, n in enumerate(names):
        earlier = " + ".join(f"f_{m}" for m in names[:i]) or "0"
        rows.append(f"""
  SELECT '{n}' AS rule,
         sum(f_{n})::BIGINT AS n_fail,
         sum(CASE WHEN f_{n} = 1 AND tot = 1 THEN 1 ELSE 0 END)::BIGINT AS n_only_fail,
         sum(CASE WHEN f_{n} = 1 AND ({earlier}) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_first_fail,
         round(sum(f_{n})::DOUBLE / greatest(count(*), 1), 6) AS fail_rate
  FROM f""")
    union = "\n  UNION ALL\n".join(rows)
    return f"WITH f AS (SELECT {cols}, ({tot}) AS tot FROM documents)\n{union}"


@register("q97_rule_attribution", _q97_sql())
def q97(spark, sf_dir):
    """Per-rule drop attribution (operators/attribution.py): for each
    heuristic rule — n_fail, n_only_fail (docs won back by deleting the
    rule), n_first_fail (short-circuit cascade view), fail_rate. The
    four rules reuse the already-oracled q11/q14/q15 signal
    formulations; the whole table is ONE partial aggregation over one
    corpus scan, unpivoted with inline() — rule count never multiplies
    passes. soda-core analogue: per-check failed counts
    (contract_verification_result), generalized to the overlap
    structure a corpus-pipeline ablation report needs."""
    from soda_core_spark.functions.text import (
        alnum_ratio,
        bigram_repetition,
        stopword_density,
    )
    from soda_core_spark.operators.attribution import rule_attribution

    d = _t(spark, sf_dir, "documents")
    text = F.col("text")
    w = words_col(text)
    rules = {
        "min_chars": F.length(F.coalesce(text, F.lit(""))) < 200,
        "low_stopword": stopword_density(w) < 0.10,
        "low_alnum": alnum_ratio(text) < 0.815,
        "high_repetition": bigram_repetition(w) > 0.08,
    }
    return rule_attribution(d, rules)


# ---------------------------------------------------------------------------
# learned host-reputation gate (operators/blocklist.py)
# ---------------------------------------------------------------------------


def _q98_sql() -> str:
    s = _quality_score_sql()
    return f"""
WITH s AS (
  SELECT doc_id, 'h' || floor(sqrt(doc_id))::BIGINT AS host, round({s}, 6) AS sc
  FROM documents
),
v AS (
  SELECT host, count(*)::BIGINT AS host_n_docs,
         round(avg(sc), 6) AS host_mean_score
  FROM s GROUP BY host
)
SELECT s.doc_id, s.host, v.host_n_docs, v.host_mean_score,
       (v.host_n_docs >= 20 AND v.host_mean_score < 0.60) AS host_blocked
FROM s JOIN v USING (host)
"""


@register("q98_host_reputation", _q98_sql())
def q98(spark, sf_dir):
    """Learned host-reputation gate (operators/blocklist.py
    host_reputation_gate): per-host mean quality with a support floor —
    hosts with >= 20 scored documents and mean score < 0.60 are blocked
    wholesale, low-support hosts pass through (no evidence, no verdict).
    Hosts derive deterministically from doc_id (host h owns the doc_id
    range [h^2, (h+1)^2) -- sizes 2h+1, so BOTH gate branches are
    exercised at every SF); scores reuse the q40 classifier. Verdicts are one tiny partial-agg groupBy broadcast
    back — the corpus never shuffles."""
    from soda_core_spark.functions.classifier import quality_score
    from soda_core_spark.operators.blocklist import host_reputation_gate

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("h"), F.floor(F.sqrt(F.col("doc_id"))).cast("long").cast("string")
        ).alias("host"),
        "text",
    )
    gated = host_reputation_gate(
        d,
        quality_score(F.col("text")),
        host_col="host",
        min_support=20,
        min_mean_score=0.60,
    )
    return gated.select(
        "doc_id", "host", "host_n_docs", "host_mean_score", "host_blocked"
    )


# ---------------------------------------------------------------------------
# cross-document paragraph dedup (operators/dedup.py corpus_paragraph_dedup)
# ---------------------------------------------------------------------------

_Q99_SQL = """
WITH deco AS (
  SELECT doc_id,
         coalesce(text, '') || chr(10) || chr(10) ||
         'group header ' || (doc_id % 7)::VARCHAR || chr(10) || chr(10) ||
         'released under license X' AS text
  FROM documents
),
p0 AS (
  SELECT doc_id,
         list_filter(
           list_transform(string_split(coalesce(text, ''), chr(10)),
                          x -> trim(x)),
           x -> x <> '') AS paras
  FROM deco
),
p AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(paras) + 1),
                               i -> {'pos': i, 'para': paras[i]}),
                recursive := true)
  FROM p0
),
f AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, pos) AS rn
  FROM p
)
SELECT d.doc_id,
       md5(coalesce(agg.t, '')) AS dedup_md5,
       coalesce(agg.n_paras, 0)::BIGINT AS n_paras,
       coalesce(agg.n_kept, 0)::BIGINT AS n_kept
FROM documents d
LEFT JOIN (
  SELECT doc_id, count(*) AS n_paras,
         sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
         string_agg(CASE WHEN rn = 1 THEN para END,
                    chr(10) || chr(10) ORDER BY pos) AS t
  FROM f GROUP BY doc_id
) agg USING (doc_id)
"""


@register("q99_corpus_paragraph_dedup", _Q99_SQL)
def q99(spark, sf_dir):
    """Cross-document paragraph dedup (operators/dedup.py
    corpus_paragraph_dedup): Dolma-style identity semantics — each
    distinct paragraph survives only at its first (doc_id, position)
    occurrence corpus-wide. The corpus is decorated with a per-class
    shared header (doc_id % 7 -> first doc of each class keeps it) and a
    global licence line (exactly ONE survivor corpus-wide), built
    identically in both engines. First-owner resolution is a partial-agg
    min(struct) groupBy, never a window — hot paragraphs combine
    map-side. Oracle replays it with a row_number window (fine for
    DuckDB; melts at scale, which is the point of the Spark shape)."""
    from soda_core_spark.operators.dedup import corpus_paragraph_dedup

    d = _t(spark, sf_dir, "documents")
    deco = F.concat_ws(
        "\n\n",
        F.coalesce(F.col("text"), F.lit("")),
        F.concat(
            F.lit("group header "), (F.col("doc_id") % 7).cast("string")
        ),
        F.lit("released under license X"),
    )
    out = corpus_paragraph_dedup(d.select("doc_id", deco.alias("text")))
    return out.select(
        "doc_id",
        F.md5(F.col("text_deduped")).alias("dedup_md5"),
        "n_paras",
        "n_kept",
    )


# ---------------------------------------------------------------------------
# filter-rule pack A/B diff (operators/attribution.py rule_pack_diff)
# ---------------------------------------------------------------------------


def _q100_sql() -> str:
    feats = _signal_feats_sql()
    pack_a = {
        "min_chars": "length(coalesce(text, '')) < 200",
        "low_stopword": f"({feats['stopword_density']}) < 0.10",
        "low_alnum": f"({feats['alnum_ratio']}) < 0.815",
        "high_repetition": f"({feats['bigram_repetition']}) > 0.08",
    }
    pack_b = {
        "min_chars": "length(coalesce(text, '')) < 300",
        "low_stopword": f"({feats['stopword_density']}) < 0.12",
        "low_alnum": f"({feats['alnum_ratio']}) < 0.818",
        "max_chars": "length(coalesce(text, '')) > 480",
    }
    names = list(pack_a) + [n for n in pack_b if n not in pack_a]
    cols = []
    for n in names:
        ea = pack_a.get(n)
        eb = pack_b.get(n)
        cols.append(
            f"CASE WHEN {ea} THEN 1 ELSE 0 END AS a_{n}"
            if ea else f"0 AS a_{n}"
        )
        cols.append(
            f"CASE WHEN {eb} THEN 1 ELSE 0 END AS b_{n}"
            if eb else f"0 AS b_{n}"
        )
    any_a = "greatest(" + ", ".join(f"a_{n}" for n in names) + ")"
    any_b = "greatest(" + ", ".join(f"b_{n}" for n in names) + ")"
    rows = []
    for n in names + ["__any__"]:
        a = f"a_{n}" if n != "__any__" else any_a
        b = f"b_{n}" if n != "__any__" else any_b
        rows.append(f"""
  SELECT '{n}' AS rule,
         sum({a})::BIGINT AS n_fail_a,
         sum({b})::BIGINT AS n_fail_b,
         sum(CASE WHEN {a} = 0 AND {b} = 1 THEN 1 ELSE 0 END)::BIGINT AS n_newly_fail,
         sum(CASE WHEN {a} = 1 AND {b} = 0 THEN 1 ELSE 0 END)::BIGINT AS n_newly_pass
  FROM f""")
    union = "\n  UNION ALL\n".join(rows)
    return f"WITH f AS (SELECT {', '.join(cols)} FROM documents)\n{union}"


@register("q100_rule_pack_diff", _q100_sql())
def q100(spark, sf_dir):
    """Rule-pack A/B diff (operators/attribution.py rule_pack_diff):
    upgrade audit from the q97 pack (v1) to a v2 that tightens
    min_chars/low_stopword/low_alnum, retires high_repetition, and
    introduces max_chars. Per rule: fail counts under each version plus
    newly-failing (v2 regressions to review) and newly-passing (docs won
    back); the `__any__` row's flip columns are the upgrade's exact
    keep->drop / drop->keep document counts. One partial-agg pass
    regardless of pack sizes."""
    from soda_core_spark.functions.text import (
        alnum_ratio,
        bigram_repetition,
        stopword_density,
    )
    from soda_core_spark.operators.attribution import rule_pack_diff

    d = _t(spark, sf_dir, "documents")
    text = F.col("text")
    w = words_col(text)
    n = F.length(F.coalesce(text, F.lit("")))
    pack_a = {
        "min_chars": n < 200,
        "low_stopword": stopword_density(w) < 0.10,
        "low_alnum": alnum_ratio(text) < 0.815,
        "high_repetition": bigram_repetition(w) > 0.08,
    }
    pack_b = {
        "min_chars": n < 300,
        "low_stopword": stopword_density(w) < 0.12,
        "low_alnum": alnum_ratio(text) < 0.818,
        "max_chars": n > 480,
    }
    return rule_pack_diff(d, pack_a, pack_b)


# ---------------------------------------------------------------------------
# dedup-yield report (operators/dedup.py cluster_size_histogram)
# ---------------------------------------------------------------------------

_Q101_SQL = """
WITH RECURSIVE edges AS (
  SELECT a.doc_id AS s, b.doc_id AS d
  FROM documents a JOIN documents b
    ON a.source = b.source AND abs(a.n_chars - b.n_chars) <= 10
   AND a.doc_id < b.doc_id
),
sym AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
reach AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
),
comp AS (SELECT s AS node, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s),
sizes AS (SELECT component, count(*)::BIGINT AS sz FROM comp GROUP BY component),
hist AS (
  SELECT sz::BIGINT AS cluster_size, count(*)::BIGINT AS n_clusters,
         (sz * count(*))::BIGINT AS n_docs,
         ((sz - 1) * count(*))::BIGINT AS n_dropped
  FROM sizes GROUP BY sz
)
SELECT * FROM hist
UNION ALL
SELECT 1::BIGINT, count(*)::BIGINT, count(*)::BIGINT, 0::BIGINT
FROM documents WHERE doc_id NOT IN (SELECT node FROM comp)
"""


@register("q101_dedup_yield", _Q101_SQL)
def q101(spark, sf_dir):
    """Dedup-yield report (operators/dedup.py cluster_size_histogram):
    cluster-size histogram + exact keep-one-survivor yield over the q43
    component graph (same deterministic edge surrogate, so both engines
    cluster the identical graph). Σ n_docs = corpus size, Σ n_dropped =
    documents the dedup removes — the first table any dedup run is asked
    for. Text never moves: component sizes and the histogram are two
    partial aggregations over id-width rows."""
    from soda_core_spark.operators.dedup import (
        cluster_size_histogram,
        connected_components,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    a, b = d.alias("a"), d.alias("b")
    edges = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 10)
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    comps = connected_components(edges)
    return cluster_size_histogram(comps, all_ids=d.select("doc_id"))


# ---------------------------------------------------------------------------
# shard diversity audit (operators/profiling.py group_diversity)
# ---------------------------------------------------------------------------

_Q102_SQL = """
WITH c AS (
  SELECT doc_id % 8 AS shard, source, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
)
SELECT shard,
       sum(c)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_keys,
       round(ln(sum(c)::DOUBLE) - sum(c * ln(c::DOUBLE)) / sum(c), 6) AS entropy,
       round(max(c)::DOUBLE / sum(c), 6) AS top_share,
       (round(ln(sum(c)::DOUBLE) - sum(c * ln(c::DOUBLE)) / sum(c), 6) < 1.0)
         AS low_diversity
FROM c GROUP BY shard
"""


@register("q102_shard_diversity", _Q102_SQL)
def q102(spark, sf_dir):
    """Per-shard source-diversity audit (operators/profiling.py
    group_diversity): Shannon entropy + top-key share of the source mix
    inside each training shard — a shard dominated by one host trains
    like an epoch of that host. Entropy uses the single-fold algebraic
    form ln(n) - Σ c·ln(c)/n in BOTH engines (summation-order ulps only,
    absorbed by 6dp rounding); two stacked partial aggregations, no
    window. Shards derive from doc_id % 8 identically in both engines."""
    from soda_core_spark.operators.profiling import group_diversity

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 8).alias("shard"), "source"
    )
    return group_diversity(d, "shard", "source", min_entropy=1.0)


# ---------------------------------------------------------------------------
# crawl-health daily trend (operators/profiling.py daily_trend)
# ---------------------------------------------------------------------------

_Q103_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         count(*)::BIGINT AS n, round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, sum_value,
       round(avg(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
         AS ma7_n,
       (n - lag(n, 1) OVER (PARTITION BY event_type ORDER BY day))::BIGINT
         AS delta_n
FROM daily
"""


@register("q103_daily_trend", _Q103_SQL)
def q103(spark, sf_dir):
    """Crawl-health daily trend (operators/profiling.py daily_trend):
    per-type daily rollup with a 7-row moving average and day-over-day
    delta — the dashboard table that catches a collapsing fetcher or an
    exploding spam host. Partial-agg rollup first, window only over the
    tiny |types × days| frame partitioned by type (no key sees more than
    its own calendar)."""
    from soda_core_spark.operators.profiling import daily_trend

    e = _t(spark, sf_dir, "events")
    out = daily_trend(e, "ts", "event_type", "value", ma_days=7)
    # dates serialize differently across engines; compare as ISO strings
    return out.withColumn("day", F.col("day").cast("string"))


# ---------------------------------------------------------------------------
# robots meta directives (functions/html.py with_robots_directives)
# ---------------------------------------------------------------------------

_Q104_SQL = r"""
WITH pages AS (
  SELECT doc_id,
         '<html><head>' ||
         CASE WHEN doc_id % 5 = 0
                THEN '<meta name="robots" content="noindex"/>'
              WHEN doc_id % 5 = 1
                THEN '<meta name="robots" content="nofollow"/>'
              WHEN doc_id % 5 = 2
                THEN '<meta name="robots" content="none"/>'
              WHEN doc_id % 5 = 3
                THEN '<meta name="robots" content=" NoIndex ,archive"/>'
              ELSE '' END ||
         '</head><body><p>x</p></body></html>' AS html
  FROM documents
),
flags AS (
  SELECT doc_id,
         list_transform(
           string_split(
             lower(regexp_extract(html,
               '(?is)<meta\s[^>]*name="robots"[^>]*content="([^"]*)"', 1)),
             ','),
           x -> trim(x)) AS toks
  FROM pages
)
SELECT doc_id,
       coalesce(list_contains(toks, 'noindex'), false)
         OR coalesce(list_contains(toks, 'none'), false) AS meta_noindex,
       coalesce(list_contains(toks, 'nofollow'), false)
         OR coalesce(list_contains(toks, 'none'), false) AS meta_nofollow
FROM flags ORDER BY doc_id
"""


@register("q104_robots_meta", _Q104_SQL)
def q104(spark, sf_dir):
    """Page-level robots meta directive flags (functions/html.py
    with_robots_directives): token-exact membership over the
    comma-separated content list (split + trim + equality — prose
    containing "noindexing" can never fire), ``none`` implies both
    directives, absent markup means false (crawler semantics). The
    page-level complement to the host-level RFC 9309 gate
    (operators/robots.py); zero shuffle, zero Python. Fixture html
    exercises every directive shape incl. mixed case + stray spaces."""
    from soda_core_spark.functions.html import with_robots_directives

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    meta = F.when(
        did % 5 == 0, F.lit('<meta name="robots" content="noindex"/>')
    ).when(
        did % 5 == 1, F.lit('<meta name="robots" content="nofollow"/>')
    ).when(
        did % 5 == 2, F.lit('<meta name="robots" content="none"/>')
    ).when(
        did % 5 == 3,
        F.lit('<meta name="robots" content=" NoIndex ,archive"/>'),
    ).otherwise(F.lit(""))
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><head>"), meta,
            F.lit("</head><body><p>x</p></body></html>"),
        ).alias("html"),
    )
    return with_robots_directives(pages).select(
        "doc_id", "meta_noindex", "meta_nofollow"
    )


# ---------------------------------------------------------------------------
# declared-vs-detected language mismatch (functions/html.py)
# ---------------------------------------------------------------------------

_Q105_SQL = r"""
WITH pages AS (
  SELECT doc_id, lang,
         '<html' ||
         CASE WHEN doc_id % 4 = 0 THEN ' lang="en-US"'
              WHEN doc_id % 4 = 1 THEN ' lang="FR"'
              WHEN doc_id % 4 = 2 THEN ' lang="zh-Hans"'
              ELSE '' END ||
         '><body></body></html>' AS html
  FROM documents
),
ext AS (
  SELECT doc_id, lang,
         nullif(lower(regexp_extract(
           nullif(regexp_extract(html,
             '(?is)<html\s[^>]*lang="([^"]+)"', 1), ''),
           '^([A-Za-z]+)', 1)), '') AS declared_lang
  FROM pages
)
SELECT doc_id, declared_lang, lang,
       CASE WHEN declared_lang IS NOT NULL AND lang IS NOT NULL
            THEN declared_lang <> lower(lang) END AS lang_mismatch
FROM ext ORDER BY doc_id
"""


@register("q105_lang_mismatch", _Q105_SQL)
def q105(spark, sf_dir):
    """Declared-vs-detected language disagreement (functions/html.py
    with_lang_mismatch): the page's own ``<html lang>`` claim (BCP 47
    primary subtag, case-folded) against the table's lang column.
    Disagreement is a contract-able evidence signal, not a drop rule;
    either side missing → NULL (signal unavailable), never a fake
    mismatch. Pure column algebra over one regexp_extract."""
    from soda_core_spark.functions.html import with_lang_mismatch

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    attr = F.when(did % 4 == 0, F.lit(' lang="en-US"')).when(
        did % 4 == 1, F.lit(' lang="FR"')
    ).when(did % 4 == 2, F.lit(' lang="zh-Hans"')).otherwise(F.lit(""))
    pages = d.select(
        "doc_id",
        "lang",
        F.concat(F.lit("<html"), attr, F.lit("><body></body></html>")).alias(
            "html"
        ),
    )
    return with_lang_mismatch(pages).select(
        "doc_id", "declared_lang", "lang", "lang_mismatch"
    )


# ---------------------------------------------------------------------------
# site-mirror detection (operators/dedup.py mirror_hosts)
# ---------------------------------------------------------------------------

_Q106_SQL = r"""
WITH pages AS (
  SELECT 'm' || (doc_id % 11)::VARCHAR || '.example.com' AS host,
         md5(CASE WHEN doc_id % 2 = 0
                  THEN 'shared content block ' || (doc_id % 37)::VARCHAR
                  ELSE 'unique page ' || doc_id::VARCHAR END) AS fp
  FROM documents
),
hf AS (SELECT DISTINCT host, fp FROM pages),
tot AS (SELECT host, count(*)::BIGINT AS n_fps FROM hf GROUP BY host),
elig AS (
  SELECT fp FROM hf GROUP BY fp
  HAVING count(*) >= 2 AND count(*) <= 64
),
pairs AS (
  SELECT a.host AS host_a, b.host AS host_b,
         count(*)::BIGINT AS shared_fps
  FROM hf a JOIN hf b ON a.fp = b.fp AND a.host < b.host
  JOIN elig e ON e.fp = a.fp
  GROUP BY 1, 2
)
SELECT p.host_a, p.host_b, p.shared_fps,
       ta.n_fps AS n_a, tb.n_fps AS n_b,
       round(p.shared_fps / least(ta.n_fps, tb.n_fps)::DOUBLE, 6)
         AS containment
FROM pairs p
JOIN tot ta ON ta.host = p.host_a
JOIN tot tb ON tb.host = p.host_b
WHERE p.shared_fps >= 2
  AND round(p.shared_fps / least(ta.n_fps, tb.n_fps)::DOUBLE, 6) >= 0.2
"""


@register("q106_mirror_hosts", _Q106_SQL)
def q106(spark, sf_dir):
    """Site-mirror detection (operators/dedup.py mirror_hosts): host
    pairs ranked by content containment |fps(a)∩fps(b)| /
    min(|fps(a)|,|fps(b)|) over exact-dedup fingerprints — catches CDN
    mirrors and scraper sites whose individual URLs are all unique.
    Only (host, 16-byte fp) rows shuffle; the fingerprint self-join is
    bounded by ``host_cap`` against boilerplate fps (the q33 posting-cap
    discipline). Fixture: 11 hosts, even docs share 37 content blocks,
    odd docs unique — partial overlap on every pair."""
    from soda_core_spark.operators.dedup import mirror_hosts

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pages = d.select(
        F.concat(
            F.lit("https://m"), (did % 11).cast("string"),
            F.lit(".example.com/p/"), did.cast("string"),
        ).alias("url"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit("shared content block "), (did % 37).cast("string")
            ),
        )
        .otherwise(F.concat(F.lit("unique page "), did.cast("string")))
        .alias("text"),
    )
    return mirror_hosts(
        pages, min_shared=2, min_containment=0.2, host_cap=64
    )


# ---------------------------------------------------------------------------
# Round 4: readability, HITS, paragraph-level language segmentation,
# registered-domain rollup
# ---------------------------------------------------------------------------

_Q107_SQL = r"""
WITH deco AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN coalesce(text, '')
           WHEN 1 THEN coalesce(text, '') || '. One more sentence here!'
           WHEN 2 THEN coalesce(text, '') || '? Yes... maybe not?!'
           ELSE 'Dr smith went home. ' || coalesce(text, '')
         END AS t
  FROM documents
),
w AS (
  SELECT doc_id, t,
         list_filter(regexp_split_to_array(t, '[ \t\n\r]+'),
                     x -> x <> '') AS toks
  FROM deco
),
c AS (
  SELECT doc_id,
         len(toks)::BIGINT AS n_words,
         greatest(len(regexp_extract_all(t, '[.!?]+')), 1)::BIGINT
           AS n_sentences,
         (len(regexp_extract_all(lower(t), '[aeiouy]+'))
          + len(list_filter(toks,
                x -> NOT regexp_matches(lower(x), '[aeiouy]+'))))::BIGINT
           AS n_syllables
  FROM w
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
               - 84.6 * (n_syllables::DOUBLE / n_words), 6) END
         AS flesch_reading_ease,
       CASE WHEN n_words > 0 THEN
         round(0.39 * (n_words::DOUBLE / n_sentences)
               + 11.8 * (n_syllables::DOUBLE / n_words) - 15.59, 6) END
         AS fk_grade
FROM c ORDER BY doc_id
"""


@register("q107_readability", _Q107_SQL)
def q107(spark, sf_dir):
    """Flesch Reading Ease + Flesch-Kincaid grade as pure JVM column
    algebra (functions/readability.py): whitespace words, [.!?]+ runs as
    sentences (floor 1), vowel-group syllables (floor 1/word) — the
    sentence-structure quality prior the C4/Gopher rule families lack.
    Docs are decorated with deterministic punctuation variants so the
    sentence counter is actually exercised. Zero shuffle, zero Python."""
    from soda_core_spark.functions.readability import with_readability

    d = _t(spark, sf_dir, "documents")
    base = F.coalesce(F.col("text"), F.lit(""))
    deco = (
        F.when(F.col("doc_id") % 4 == 0, base)
        .when(F.col("doc_id") % 4 == 1,
              F.concat(base, F.lit(". One more sentence here!")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(base, F.lit("? Yes... maybe not?!")))
        .otherwise(F.concat(F.lit("Dr smith went home. "), base))
    )
    staged = d.select("doc_id", deco.alias("t"))
    return (
        with_readability(staged, text_col="t")
        .select(
            "doc_id", "n_words", "n_sentences", "n_syllables",
            "flesch_reading_ease", "fk_grade",
        )
        .orderBy("doc_id")
    )


def _q108_sql(iterations: int = 3) -> str:
    # unrolled weighted HITS with per-step 12dp rounding and
    # max-normalization — mirrors operators/linkgraph.host_hits exactly:
    # raw contribution rounds to 12dp, the max is taken over the ROUNDED
    # column, the normalized value rounds to 12dp again.
    steps = ["h0 AS (SELECT host, 1.0 AS hub FROM nodes)"]
    for i in range(iterations):
        steps.append(f"""
    a{i + 1}r AS (
      SELECT n.host, round(coalesce(t.c, 0.0), 12) AS authority
      FROM nodes n LEFT JOIN (
        SELECT w.dst_host, sum(h.hub * w.w) AS c
        FROM w JOIN h{i} h ON w.src_host = h.host
        GROUP BY w.dst_host
      ) t ON n.host = t.dst_host
    ),
    a{i + 1}m AS (SELECT max(authority) AS m FROM a{i + 1}r),
    a{i + 1} AS (
      SELECT host, round(CASE WHEN m > 0 THEN authority / m
                              ELSE 0.0 END, 12) AS authority
      FROM a{i + 1}r CROSS JOIN a{i + 1}m
    ),
    h{i + 1}r AS (
      SELECT n.host, round(coalesce(t.c, 0.0), 12) AS hub
      FROM nodes n LEFT JOIN (
        SELECT w.src_host, sum(a.authority * w.w) AS c
        FROM w JOIN a{i + 1} a ON w.dst_host = a.host
        GROUP BY w.src_host
      ) t ON n.host = t.src_host
    ),
    h{i + 1}m AS (SELECT max(hub) AS m FROM h{i + 1}r),
    h{i + 1} AS (
      SELECT host, round(CASE WHEN m > 0 THEN hub / m
                              ELSE 0.0 END, 12) AS hub
      FROM h{i + 1}r CROSS JOIN h{i + 1}m
    )""")
    return f"""
    WITH {_LINKS_CTE},
    nodes AS (
      SELECT DISTINCT host FROM (
        SELECT src_host AS host FROM edges
        UNION ALL SELECT dst_host FROM edges
      )
    ),
    w AS (
      SELECT src_host, dst_host,
             n_links::DOUBLE
               / (sum(n_links) OVER (PARTITION BY src_host))::DOUBLE AS w
      FROM edges
    ),
    {",".join(steps)}
    SELECT a.host, round(a.authority, 8) AS authority,
           round(h.hub, 8) AS hub
    FROM a{iterations} a JOIN h{iterations} h ON a.host = h.host
    ORDER BY a.host
    """


@register("q108_host_hits", _q108_sql())
def q108(spark, sf_dir):
    """HITS hubs/authorities over the q62 host graph (3 iterations,
    link-weighted, max-normalized) — the complementary prior to q63
    PageRank: directories/aggregators score as hubs, content hosts as
    authorities; link farms split the axes. Each iteration is two
    join+groupBy passes on the HOST graph plus two broadcast 1-row max
    aggregates; per-step 12dp rounding pins the trajectory cross-engine
    (operators/linkgraph.py host_hits)."""
    from soda_core_spark.operators.linkgraph import (
        host_edges,
        host_hits,
        outlink_hosts,
    )

    lg = _lg_frame(spark, sf_dir)
    edges = host_edges(outlink_hosts(lg))
    out = host_hits(edges, iterations=3, weighted=True)
    return out.select(
        "host",
        F.round("authority", 8).alias("authority"),
        F.round("hub", 8).alias("hub"),
    ).orderBy("host")


def _q109_sql() -> str:
    from soda_core_spark.functions.langid import LANGS, LANG_WORDS

    counts = ",\n           ".join(
        "len(list_filter(toks, x -> list_contains(["
        + ",".join(f"'{w}'" for w in sorted(LANG_WORDS[lang]))
        + f"], x)))::BIGINT AS c_{lang}"
        for lang in LANGS
    )
    fracs = ",\n           ".join(
        f"CASE WHEN n > 0 THEN c_{lang}::DOUBLE / n ELSE 0.0 END AS f_{lang}"
        for lang in LANGS
    )
    conf = "greatest(" + ", ".join(f"f_{lang}" for lang in LANGS) + ")"
    pred = "CASE WHEN conf <= 0.0 THEN 'und' " + " ".join(
        f"WHEN f_{lang} = conf THEN '{lang}'" for lang in LANGS
    ) + " END"
    return f"""
    WITH staged AS (
      SELECT doc_id,
             concat_ws(chr(10) || chr(10), coalesce(text, ''),
               CASE WHEN doc_id % 2 = 0 THEN '{_Q109_FR}' END,
               CASE WHEN doc_id % 3 = 0 THEN '{_Q109_DE}' END) AS t2
      FROM documents
    ),
    paras AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(t2, '\n\n+'),
                                p -> trim(p) <> '')) AS para
      FROM staged
    ),
    tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(para), '[ \t\n\r]+'),
                         x -> x <> '') AS toks
      FROM paras
    ),
    sc AS (
      SELECT doc_id, len(toks)::BIGINT AS n,
           {counts}
      FROM tk
    ),
    fr2 AS (
      SELECT doc_id, n,
           {fracs}
      FROM sc
    ),
    agg AS (SELECT doc_id, {conf} AS conf, * EXCLUDE (doc_id, n) FROM fr2),
    pr AS (SELECT doc_id, {pred} AS plang FROM agg),
    cnt AS (
      SELECT doc_id, plang, count(*)::BIGINT AS c
      FROM pr GROUP BY doc_id, plang
    ),
    rk AS (
      SELECT doc_id, plang, c,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, plang ASC) AS rn,
             sum(c) OVER (PARTITION BY doc_id) AS tot
      FROM cnt
    )
    SELECT doc_id, tot::BIGINT AS n_paragraphs, plang AS dominant_lang,
           (tot - c)::BIGINT AS n_other,
           round((tot - c)::DOUBLE / tot, 6) AS other_fraction
    FROM rk WHERE rn = 1 ORDER BY doc_id
    """


_Q109_FR = (
    "le la les de des un une et est que qui dans pour pas sur avec"
)
_Q109_DE = (
    "der die das und ist ich nicht mit ein eine zu den von sie er es"
)


@register("q109_paragraph_langs", _q109_sql())
def q109(spark, sf_dir):
    """Paragraph-level language segmentation (functions/langid.py
    paragraph_lang_profile) — the multilingual-page detector: docs gain
    deterministic French/German paragraphs, per-paragraph langid
    rolls up to dominant language + minority-paragraph fraction. One
    groupBy(doc, lang) with map-side combine, argmax via a unique
    (count, priority) struct key — no window over the corpus."""
    from soda_core_spark.functions.langid import paragraph_lang_profile

    d = _t(spark, sf_dir, "documents")
    base = F.coalesce(F.col("text"), F.lit(""))
    staged = d.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            base,
            F.when(F.col("doc_id") % 2 == 0, F.lit(_Q109_FR)),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_Q109_DE)),
        ).alias("t2"),
    )
    return paragraph_lang_profile(staged, text_col="t2").orderBy("doc_id")


def _q110_sql() -> str:
    from soda_core_spark.operators.urls import MULTI_LABEL_SUFFIXES

    suffixes = ",".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    return f"""
    WITH hosts AS (
      SELECT doc_id,
             CASE doc_id % 6
               WHEN 0 THEN 'a' || (doc_id % 7)::VARCHAR || '.shop.co.uk'
               WHEN 1 THEN 'b' || (doc_id % 5)::VARCHAR || '.shop.co.uk'
               WHEN 2 THEN 'www.example' || (doc_id % 3)::VARCHAR || '.com'
               WHEN 3 THEN 'example' || (doc_id % 3)::VARCHAR || '.com'
               WHEN 4 THEN 'deep.sub.site' || (doc_id % 2)::VARCHAR
                           || '.com.au'
               ELSE CASE WHEN doc_id % 2 = 0 THEN 'localhost'
                         ELSE '10.' || (doc_id % 4)::VARCHAR || '.0.1' END
             END AS host
      FROM documents
    ),
    rd AS (
      SELECT doc_id, host,
             CASE
               WHEN regexp_matches(host, '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$')
                 THEN host
               WHEN len(string_split(host, '.')) >= 3
                    AND list_contains([{suffixes}],
                      string_split(host, '.')[len(string_split(host, '.')) - 1]
                      || '.' ||
                      string_split(host, '.')[len(string_split(host, '.'))])
                 THEN string_split(host, '.')[len(string_split(host, '.')) - 2]
                      || '.' ||
                      string_split(host, '.')[len(string_split(host, '.')) - 1]
                      || '.' ||
                      string_split(host, '.')[len(string_split(host, '.'))]
               WHEN len(string_split(host, '.')) >= 2
                 THEN string_split(host, '.')[len(string_split(host, '.')) - 1]
                      || '.' ||
                      string_split(host, '.')[len(string_split(host, '.'))]
               ELSE host
             END AS registered_domain
      FROM hosts
    )
    SELECT registered_domain,
           count(*)::BIGINT AS n_pages,
           count(DISTINCT host)::BIGINT AS n_hosts
    FROM rd GROUP BY registered_domain ORDER BY registered_domain
    """


@register("q110_registered_domains", _q110_sql())
def q110(spark, sf_dir):
    """eTLD+1 rollup (operators/urls.py registered_domain_col): hosts
    collapse to their registered domain before per-site accounting, so a
    site sharding itself across subdomains (a1.shop.co.uk, b2.shop.co.uk)
    is ONE registrant for caps/reputation/dedup. Pure label-array column
    algebra + one groupBy; the suffix table is module data (full PSL is
    a data swap). Fixture exercises multi-label ccTLD suffixes, www
    subdomains, bare domains, single-label hosts, and IPv4 literal
    hosts (which pass through unchanged — no registrant hierarchy)."""
    from soda_core_spark.operators.urls import registered_domain_col

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    hosts = d.select(
        "doc_id",
        F.when(did % 6 == 0,
               F.concat(F.lit("a"), (did % 7).cast("string"),
                        F.lit(".shop.co.uk")))
        .when(did % 6 == 1,
              F.concat(F.lit("b"), (did % 5).cast("string"),
                       F.lit(".shop.co.uk")))
        .when(did % 6 == 2,
              F.concat(F.lit("www.example"), (did % 3).cast("string"),
                       F.lit(".com")))
        .when(did % 6 == 3,
              F.concat(F.lit("example"), (did % 3).cast("string"),
                       F.lit(".com")))
        .when(did % 6 == 4,
              F.concat(F.lit("deep.sub.site"), (did % 2).cast("string"),
                       F.lit(".com.au")))
        .when(did % 2 == 0, F.lit("localhost"))
        .otherwise(
            F.concat(F.lit("10."), (did % 4).cast("string"), F.lit(".0.1"))
        )
        .alias("host"),
    )
    return (
        hosts.withColumn(
            "registered_domain", registered_domain_col(F.col("host"))
        )
        .groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
        .orderBy("registered_domain")
    )


_Q111_SQL = """
WITH pages AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 < 2
           THEN 'https://t' || (doc_id % 4)::VARCHAR || '.example.com/cal/'
                || (doc_id % 12)::VARCHAR || '/' || (doc_id % 28)::VARCHAR
           ELSE 'https://t' || (doc_id % 4)::VARCHAR || '.example.com/p/'
                || substr(md5(doc_id::VARCHAR), 1, 6)
         END AS url
  FROM documents
),
pairs AS (
  SELECT lower(regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)', 2))
           AS host,
         regexp_replace(
           CASE WHEN regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)', 3)
             = '' THEN '/'
           ELSE regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)', 3)
           END, '[0-9]+', 'N', 'g') AS tmpl
  FROM pages
),
per_host AS (
  SELECT host, count(*)::BIGINT AS n_pages,
         count(DISTINCT tmpl)::BIGINT AS n_templates
  FROM pairs WHERE host IS NOT NULL AND host <> '' GROUP BY host
)
SELECT host, n_pages, n_templates,
       round(n_templates::DOUBLE / n_pages, 6) AS template_ratio,
       (round(n_templates::DOUBLE / n_pages, 6) <= 0.05) AS is_trap
FROM per_host WHERE n_pages >= 50 ORDER BY host
"""


@register("q111_crawl_traps", _Q111_SQL)
def q111(spark, sf_dir):
    """Crawl-trap detection (operators/urls.py crawl_trap_hosts): hosts
    whose distinct PATH-TEMPLATE count (digit runs collapsed) is tiny
    relative to their page count — calendars/session-ids/faceted traps.
    Fixture: two hosts emit one '/cal/N/N' template across all pages
    (traps), two emit md5-derived diverse paths (clean). Two stacked
    partial aggs over (host, template); page text never shuffles."""
    from soda_core_spark.operators.urls import crawl_trap_hosts

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pages = d.select(
        F.when(
            did % 4 < 2,
            F.concat(
                F.lit("https://t"), (did % 4).cast("string"),
                F.lit(".example.com/cal/"), (did % 12).cast("string"),
                F.lit("/"), (did % 28).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://t"), (did % 4).cast("string"),
                F.lit(".example.com/p/"),
                F.substring(F.md5(did.cast("string")), 1, 6),
            )
        )
        .alias("url"),
    )
    return crawl_trap_hosts(
        pages, min_pages=50, max_template_ratio=0.05
    ).orderBy("host")


_Q112_SQL = """
WITH toks AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '[ \t\n\r]+'),
           x -> x <> '')) AS tok
  FROM documents
),
counts AS (SELECT tok, count(*)::BIGINT AS n FROM toks GROUP BY tok),
top AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 300),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank FROM top
),
fit AS (
  SELECT count(*)::BIGINT AS n_terms_fit,
         covar_pop(ln(n::DOUBLE), ln(rank::DOUBLE)) AS cxy,
         var_pop(ln(rank::DOUBLE)) AS vx,
         var_pop(ln(n::DOUBLE)) AS vy
  FROM ranked WHERE rank >= 5
)
SELECT n_terms_fit,
       round(cxy / vx, 6) AS zipf_slope,
       round(cxy * cxy / (vx * vy), 6) AS zipf_r2
FROM fit
"""


@register("q112_zipf_fit", _Q112_SQL)
def q112(spark, sf_dir):
    """Zipf's-law corpus sanity (operators/profiling.py zipf_fit): OLS
    slope/R² of ln(freq)~ln(rank) over the top-300 terms (head ranks <5
    dropped) — natural text slopes near −1; template-dominated or
    synthetic corpora bend it. One token groupBy + distributed top-k;
    the rank window runs over ≤300 rows, never the vocabulary."""
    from soda_core_spark.operators.profiling import zipf_fit

    d = _t(spark, sf_dir, "documents")
    return zipf_fit(d, text_col="text", top_k=300, min_rank=5)


_Q113_SQL = """
WITH flags AS (
  SELECT (n_chars >= 400) AS a,
         (len(list_filter(regexp_split_to_array(coalesce(text, ''),
              '[ \t\n\r]+'), x -> x <> '')) >= 80) AS b
  FROM documents
),
agg AS (
  -- mirror decision_kappa's NULL policy: NULL-flag rows carry no
  -- agreement evidence and are excluded from n and all four cells
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS n11,
         sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n10,
         sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT AS n01,
         sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n00
  FROM flags
  WHERE a IS NOT NULL AND b IS NOT NULL
)
SELECT n,
       round((n11 + n00)::DOUBLE / n, 6) AS po,
       round(((n11 + n10)::DOUBLE / n) * ((n11 + n01)::DOUBLE / n)
             + (1 - (n11 + n10)::DOUBLE / n)
               * (1 - (n11 + n01)::DOUBLE / n), 6) AS pe,
       CASE WHEN ((n11 + n10)::DOUBLE / n) * ((n11 + n01)::DOUBLE / n)
                 + (1 - (n11 + n10)::DOUBLE / n)
                   * (1 - (n11 + n01)::DOUBLE / n) < 1.0
         THEN round((((n11 + n00)::DOUBLE / n)
                     - (((n11 + n10)::DOUBLE / n) * ((n11 + n01)::DOUBLE / n)
                        + (1 - (n11 + n10)::DOUBLE / n)
                          * (1 - (n11 + n01)::DOUBLE / n)))
                    / (1 - (((n11 + n10)::DOUBLE / n)
                            * ((n11 + n01)::DOUBLE / n)
                            + (1 - (n11 + n10)::DOUBLE / n)
                              * (1 - (n11 + n01)::DOUBLE / n))), 6)
       END AS kappa
FROM agg
"""


@register("q113_decision_kappa", _Q113_SQL)
def q113(spark, sf_dir):
    """Cohen's kappa between two keep-rule variants (operators/
    attribution.py decision_kappa) — chance-corrected agreement as the
    one-number upgrade-CI gate beside q100's flip table. Fixture: a
    char-length rule vs a word-count rule over documents. One fused
    aggregate (count + four CASE sums), one-row shuffle."""
    from soda_core_spark.operators.attribution import decision_kappa

    d = _t(spark, sf_dir, "documents")
    words = words_col(F.coalesce(F.col("text"), F.lit("")))
    flags = d.select(
        (F.col("n_chars") >= 400).alias("a"),
        (F.size(words) >= 80).alias("b"),
    )
    return decision_kappa(flags, "a", "b")


_Q114_SQL = """
WITH ex AS (
  -- parallel unnests zip positionally (DuckDB has no WITH ORDINALITY)
  SELECT vec_id, label,
         unnest(embedding) AS x,
         unnest(generate_series(1, len(embedding))) AS ord
  FROM embeddings
  WHERE embedding IS NOT NULL
),
cent AS (
  SELECT label, ord, round(avg(x::DOUBLE), 12) AS c
  FROM ex GROUP BY label, ord
),
dots AS (
  SELECT e.vec_id, e.label,
         sum(e.x::DOUBLE * c.c) AS dot,
         sum(e.x::DOUBLE * e.x::DOUBLE) AS nv2,
         sum(c.c * c.c) AS nc2
  FROM ex e JOIN cent c ON e.label = c.label AND e.ord = c.ord
  GROUP BY e.vec_id, e.label
),
cosd AS (
  SELECT label,
         CASE WHEN nv2 > 0 AND nc2 > 0
           THEN round(round(dot / (sqrt(nv2) * sqrt(nc2)), 6)
                      * 1000000.0)::BIGINT END AS ic
  FROM dots
)
-- integer-sum aggregation: means of 6dp-quantized doubles land on half
-- boundaries often enough that 1-ulp drift flips the rounded digit;
-- summing the exact scaled integers makes both engines divide the same
-- values (functions/embeddings_qc.py group_coherence, same contract)
SELECT label AS "group", count(*)::BIGINT AS n_vecs,
       round(sum(ic)::DOUBLE / count(ic)::DOUBLE / 1000000.0, 6)
         AS coherence,
       round(min(ic)::DOUBLE / 1000000.0, 6) AS min_cos
FROM cosd GROUP BY label ORDER BY label
"""


@register("q114_group_coherence", _Q114_SQL)
def q114(spark, sf_dir):
    """Per-group embedding coherence (functions/embeddings_qc.py
    group_coherence): mean/min cosine to the group centroid — the
    mixed-or-mislabeled-source detector scalar checks can't see.
    Centroids via posexplode + partial-agg (12 dp pinned), broadcast
    back, dot as a per-row zip_with fold — no dims×rows shuffle."""
    from soda_core_spark.functions.embeddings_qc import group_coherence

    e = _t(spark, sf_dir, "embeddings")
    return group_coherence(e, vec_col="embedding", group_col="label").orderBy(
        "group"
    )


_Q115_SQL = """
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[ \t\n\r]+'), x -> x <> '') AS toks
  FROM documents
),
sc AS (
  SELECT doc_id, len(toks)::BIGINT AS n,
         len(list_filter(toks, x ->
           list_contains(['join', 'slow', 'spark'], x)))::BIGINT AS lex_hits,
         -- weights are multiples of 0.25 (exact doubles), so the weight
         -- sum is order-independent and exact on both engines
         len(list_filter(toks, x -> x = 'slow'))::DOUBLE * 2.5
         + len(list_filter(toks, x -> x = 'join'))::DOUBLE * 1.0
         + len(list_filter(toks, x -> x = 'spark'))::DOUBLE * 0.5
           AS wsum
  FROM w
)
SELECT doc_id, lex_hits,
       round(wsum, 6) AS lex_weight,
       CASE WHEN n > 0 THEN round(wsum * 1000.0 / n, 6)
            ELSE 0.0 END AS lex_score
FROM sc ORDER BY doc_id
"""


@register("q115_lexicon_score", _Q115_SQL)
def q115(spark, sf_dir):
    """Weighted-lexicon scoring (operators/blocklist.py lexicon_score):
    the graded form of the q47 binary term blocklist — severity-weighted
    token hits per 1000 tokens. Lexicon rides as one map literal (CASE
    tree after codegen — no join, no Python); per-row fold over the
    shared token array. Exact cross-engine: weights are multiples of
    0.25, so the weight sum is order-independent in IEEE doubles."""
    from soda_core_spark.operators.blocklist import lexicon_score

    d = _t(spark, sf_dir, "documents")
    out = lexicon_score(
        d,
        weights={"slow": 2.5, "join": 1.0, "spark": 0.5},
        text_col="text",
        per_tokens=1000,
    )
    return out.select(
        "doc_id", "lex_hits", "lex_weight", "lex_score"
    ).orderBy("doc_id")


def _q116_sql() -> str:
    # exact ground truth: inverted-index shared-shingle candidates (a
    # pair has Jaccard > 0 iff it shares a shingle — complete, never
    # quadratic), verified at 0.5; LSH side: the q18 signature → band →
    # candidate → verify pipeline verbatim (16 hashes / 4 bands,
    # portable md5 mode); recall = 1 − |exact \ lsh| / |exact|.
    return f"""
    WITH {_SHINGLES_CTE},
    ex AS (SELECT id, unnest(shl) AS s FROM sh),
    exact_cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
    ),
    exact_pairs AS (
      SELECT c.id_a, c.id_b
      FROM exact_cand c
      JOIN sh sa ON sa.id = c.id_a
      JOIN sh sb ON sb.id = c.id_b
      WHERE len(list_intersect(sa.shl, sb.shl))::DOUBLE
              / len(list_distinct(sa.shl || sb.shl)) >= 0.5
    ),
    sig AS (
      SELECT id, i, min(md5(i::VARCHAR || '|' || s)) AS m
      FROM ex CROSS JOIN (SELECT unnest(range(16)) AS i) r
      GROUP BY id, i
    ),
    band AS (
      SELECT id, md5((i // 4)::VARCHAR || ',' ||
                     string_agg(m, ',' ORDER BY i)) AS bk
      FROM sig GROUP BY id, (i // 4)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM band a JOIN band b ON a.bk = b.bk AND a.id < b.id
    ),
    lsh_pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh sa ON sa.id = c.id_a
      JOIN sh sb ON sb.id = c.id_b
      WHERE len(list_intersect(sa.shl, sb.shl))::DOUBLE
              / len(list_distinct(sa.shl || sb.shl)) >= 0.5
    ),
    missed AS (
      SELECT id_a, id_b FROM exact_pairs
      EXCEPT SELECT id_a, id_b FROM lsh_pairs
    )
    SELECT
      (SELECT count(*) FROM exact_pairs)::BIGINT AS n_exact_pairs,
      (SELECT count(*) FROM lsh_pairs)::BIGINT AS n_lsh_pairs,
      (SELECT count(*) FROM missed)::BIGINT AS n_missed,
      CASE WHEN (SELECT count(*) FROM exact_pairs) > 0
        THEN round(1.0 - (SELECT count(*) FROM missed)::DOUBLE
                         / (SELECT count(*) FROM exact_pairs), 6)
        ELSE 1.0 END AS recall
    """


@register("q116_lsh_recall_audit", _q116_sql())
def q116(spark, sf_dir):
    """LSH dedup-quality audit (operators/dedup.py lsh_recall_audit):
    measured recall of MinHash banding (16 hashes / 4 bands, portable
    md5) against exact inverted-index Jaccard ground truth at 0.5 —
    the parameter-upgrade CI number ("are we missing 0.1 % or 8 % of
    dups?"); precision is 1 by construction (both legs verify exact).
    One left-anti pair join + a 1-row aggregate on top of the two
    library operators; sample upstream at 100 TB (docstring)."""
    from soda_core_spark.operators.dedup import lsh_recall_audit

    d = _t(spark, sf_dir, "documents")
    return lsh_recall_audit(
        d, jaccard_threshold=0.5, num_hashes=16, bands=4,
        portable_hash=True,
    )


_Q117_SQL = """
WITH pages AS (
  SELECT doc_id,
         'https://site.example/p/' || (doc_id % 100)::VARCHAR AS url,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE ('2024-01-' || lpad(((doc_id * 13) % 28 + 1)::VARCHAR,
                                       2, '0'))::TIMESTAMP END AS warc_ts
  FROM documents
),
ranked AS (
  SELECT doc_id, url, warc_ts,
         row_number() OVER (
           PARTITION BY url
           ORDER BY coalesce(warc_ts, TIMESTAMP '1970-01-01') DESC,
                    doc_id DESC
         ) AS rn
  FROM pages
)
SELECT doc_id, url, warc_ts FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


@register("q117_url_dedup_latest", _Q117_SQL)
def q117(spark, sf_dir):
    """Recrawl survivor policy (operators/urls.py url_dedup_latest):
    newest capture per canonical URL wins (timestamp, id tiebreak;
    NULL ts loses to any dated capture). One hash shuffle on the
    canonical key + max_by over a unique struct — no corpus window,
    page text never shuffles. Fixture: 100 URL groups × ~5 recrawls
    with deterministic dates and NULL-ts rows."""
    from soda_core_spark.operators.urls import url_dedup_latest

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("https://site.example/p/"), (did % 100).cast("string")
        ).alias("url"),
        F.when(
            did % 11 != 0,
            F.concat(
                F.lit("2024-01-"),
                F.lpad(((did * 13) % 28 + 1).cast("string"), 2, "0"),
            ).cast("timestamp"),
        ).alias("warc_ts"),
    )
    return url_dedup_latest(pages).orderBy("doc_id")


def _q118_sql(num_hashes: int = 16, bands: int = 4) -> str:
    rows = num_hashes // bands
    return f"""
    WITH {_SHINGLES_CTE},
    ex AS (SELECT id, unnest(shl) AS s FROM sh),
    sig AS (
      SELECT id, i, min(md5(i::VARCHAR || '|' || s)) AS m
      FROM ex CROSS JOIN (SELECT unnest(range({num_hashes})) AS i) r
      GROUP BY id, i
    ),
    band AS (
      SELECT id, md5((i // {rows})::VARCHAR || ',' ||
                     string_agg(m, ',' ORDER BY i)) AS bk
      FROM sig GROUP BY id, (i // {rows})
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM band a JOIN band b ON a.bk = b.bk AND a.id < b.id
    ),
    est AS (
      SELECT c.id_a, c.id_b,
             sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)::BIGINT AS k
      FROM cand c
      JOIN sig sa ON sa.id = c.id_a
      JOIN sig sb ON sb.id = c.id_b AND sb.i = sa.i
      GROUP BY c.id_a, c.id_b
    ),
    ex2 AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(sa.shl, sb.shl))::DOUBLE
               / len(list_distinct(sa.shl || sb.shl)) AS jac
      FROM cand c
      JOIN sh sa ON sa.id = c.id_a
      JOIN sh sb ON sb.id = c.id_b
    ),
    binned AS (
      SELECT least(floor(e2.jac * 10), 9)::BIGINT AS jaccard_bin,
             e.k, round(e2.jac * 1000000.0)::BIGINT AS j6
      FROM est e JOIN ex2 e2 ON e.id_a = e2.id_a AND e.id_b = e2.id_b
    )
    SELECT jaccard_bin, count(*)::BIGINT AS n_pairs,
           round(sum(k)::DOUBLE / (count(*) * {num_hashes}), 6)
             AS avg_estimate,
           round(sum(j6)::DOUBLE / count(*) / 1000000.0, 6) AS avg_exact
    FROM binned GROUP BY jaccard_bin ORDER BY jaccard_bin
    """


@register("q118_minhash_calibration", _q118_sql())
def q118(spark, sf_dir):
    """MinHash estimator calibration (operators/dedup.py
    minhash_calibration): per exact-Jaccard decile, mean signature
    estimate beside mean exact Jaccard over the banding's candidate
    pairs — the measured error bar that justifies (or rejects) trusting
    the 16-hash estimate in place of exact verification. Integer-sum
    aggregation throughout (q114 discipline): match counts and
    round(J·10⁶) sum exactly, one division at the end."""
    from soda_core_spark.operators.dedup import minhash_calibration

    d = _t(spark, sf_dir, "documents")
    return minhash_calibration(
        d, num_hashes=16, bands=4, portable_hash=True
    ).orderBy("jaccard_bin")


_Q119_SQL = """
WITH RECURSIVE pages AS (
  SELECT doc_id,
         'https://m' || (doc_id % 11)::VARCHAR || '.example.com/p/'
           || doc_id::VARCHAR AS url,
         CASE WHEN doc_id % 2 = 0
           THEN 'shared content block ' || (doc_id % 37)::VARCHAR
           ELSE 'unique page ' || doc_id::VARCHAR END AS text
  FROM documents
),
fp AS (
  SELECT DISTINCT lower(regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)', 2))
           AS host,
         md5(text) AS f
  FROM pages WHERE text IS NOT NULL AND length(trim(text)) > 0
),
sizes AS (SELECT host, count(*)::BIGINT AS n FROM fp GROUP BY host),
elig AS (
  SELECT f FROM fp GROUP BY f HAVING count(*) >= 2 AND count(*) <= 64
),
shared AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*)::BIGINT AS n_shared
  FROM fp a JOIN fp b ON a.f = b.f AND a.host < b.host
  JOIN elig e ON e.f = a.f
  GROUP BY a.host, b.host
),
mirror_edges AS (
  SELECT s.host_a, s.host_b
  FROM shared s JOIN sizes na ON na.host = s.host_a
                JOIN sizes nb ON nb.host = s.host_b
  WHERE s.n_shared >= 2
    AND round(s.n_shared::DOUBLE / least(na.n, nb.n), 6) >= 0.2
),
sym AS (
  SELECT host_a AS s, host_b AS d FROM mirror_edges
  UNION SELECT host_b, host_a FROM mirror_edges
),
reach AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
)
SELECT s AS node, LEAST(s, MIN(d)) AS component
FROM reach GROUP BY s ORDER BY node
"""


@register("q119_mirror_clusters", _Q119_SQL)
def q119(spark, sf_dir):
    """Mirror-host CLUSTERS: q106's pairwise containment evidence closed
    into site families via connected components (a CDN with 5 mirrors
    yields 10 pairs but ONE cluster — policy applies per family, e.g.
    keep one mirror, down-weight the rest). Pure composition of two
    library operators (operators/dedup.py mirror_hosts →
    connected_components, string labels); the oracle recomputes the
    same fixed point as a recursive reachability closure."""
    from soda_core_spark.operators.dedup import (
        connected_components,
        mirror_hosts,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pages = d.select(
        F.concat(
            F.lit("https://m"), (did % 11).cast("string"),
            F.lit(".example.com/p/"), did.cast("string"),
        ).alias("url"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit("shared content block "), (did % 37).cast("string")
            ),
        )
        .otherwise(F.concat(F.lit("unique page "), did.cast("string")))
        .alias("text"),
    )
    pairs = mirror_hosts(
        pages, min_shared=2, min_containment=0.2, host_cap=64
    ).select(
        F.col("host_a").alias("id_a"), F.col("host_b").alias("id_b")
    )
    return connected_components(pairs).orderBy("node")


def _q120_sql() -> str:
    from soda_core_spark.operators.urls import URL_CLASS_RULES

    when_chain = " ".join(
        f"WHEN regexp_matches(path, '{pat}') THEN '{cls}'"
        for cls, pat in URL_CLASS_RULES
    )
    return f"""
    WITH pages AS (
      SELECT doc_id,
             'https://s' || (doc_id % 5)::VARCHAR || '.example.com' ||
             CASE doc_id % 10
               WHEN 0 THEN '/feed/'
               WHEN 1 THEN '/tag/spark/'
               WHEN 2 THEN '/category/data/'
               WHEN 3 THEN '/page/' || (doc_id % 40)::VARCHAR || '/'
               WHEN 4 THEN '/2024/01/a-story'
               WHEN 5 THEN '/api/v1/items'
               WHEN 6 THEN '/img/' || doc_id::VARCHAR || '.png'
               WHEN 7 THEN '/login'
               WHEN 8 THEN '/articles/deep-dive-' || doc_id::VARCHAR
               ELSE '/about'
             END AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id,
             lower(regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)',
               3)) AS path
      FROM pages
    ),
    classed AS (
      SELECT doc_id,
             CASE {when_chain} ELSE 'content' END AS url_class
      FROM (SELECT doc_id,
                   CASE WHEN path = '' THEN '/' ELSE path END AS path
            FROM parsed)
    )
    SELECT url_class, count(*)::BIGINT AS n_pages
    FROM classed GROUP BY url_class ORDER BY url_class
    """


@register("q120_url_classes", _q120_sql())
def q120(spark, sf_dir):
    """URL-type classification rollup (operators/urls.py url_class_col):
    feeds/APIs/media/auth = non-content, tag/category/pagination/search
    = link-farm listings, date archives overlap articles — the
    fetch-avoidance prior computed from the URL alone. First matching
    rule wins; the ordered rule table is shared with the oracle as
    data. Pure regex column algebra + one groupBy."""
    from soda_core_spark.operators.urls import url_class_col

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    path = (
        F.when(did % 10 == 0, F.lit("/feed/"))
        .when(did % 10 == 1, F.lit("/tag/spark/"))
        .when(did % 10 == 2, F.lit("/category/data/"))
        .when(did % 10 == 3,
              F.concat(F.lit("/page/"), (did % 40).cast("string"), F.lit("/")))
        .when(did % 10 == 4, F.lit("/2024/01/a-story"))
        .when(did % 10 == 5, F.lit("/api/v1/items"))
        .when(did % 10 == 6,
              F.concat(F.lit("/img/"), did.cast("string"), F.lit(".png")))
        .when(did % 10 == 7, F.lit("/login"))
        .when(did % 10 == 8,
              F.concat(F.lit("/articles/deep-dive-"), did.cast("string")))
        .otherwise(F.lit("/about"))
    )
    pages = d.select(
        F.concat(
            F.lit("https://s"), (did % 5).cast("string"),
            F.lit(".example.com"), path,
        ).alias("url")
    )
    return (
        pages.withColumn("url_class", url_class_col(F.col("url")))
        .groupBy("url_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
        .orderBy("url_class")
    )


_Q121_SQL = """
WITH t AS (
  SELECT lang,
         length(coalesce(text, ''))::BIGINT AS n_chars,
         (len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))
          + length(regexp_replace(coalesce(text, ''),
              '[A-Za-z0-9 \\t\\n\\r]', '', 'g')))::BIGINT AS n_tok
  FROM documents
)
SELECT lang,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       sum(n_tok)::BIGINT AS total_tokens,
       CASE WHEN sum(n_tok) > 0
         THEN round(sum(n_chars)::DOUBLE / sum(n_tok), 6) END AS fertility
FROM t GROUP BY lang ORDER BY lang
"""


@register("q121_tokenizer_fertility", _Q121_SQL)
def q121(spark, sf_dir):
    """Tokenizer fertility per language: chars per (BPE-ish) token — the
    budgeting constant that converts a byte budget into a token budget
    per language, and the signal that flags scripts the tokenizer
    fragments (fertility collapse = cost blow-up for that language).
    Exact integer sums (summation-order free), ONE division per group,
    reusing the q32 token-count expression (functions/text.py)."""
    from soda_core_spark.functions.text import token_count_bpe_ish

    d = _t(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    base = d.select(
        "lang",
        F.length(text).cast("long").alias("n_chars"),
        token_count_bpe_ish(text).cast("long").alias("n_tok"),
    )
    agg = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    return agg.select(
        "lang", "n_docs", "total_chars", "total_tokens",
        F.when(
            F.col("total_tokens") > 0,
            F.round(
                F.col("total_chars").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ),
        ).alias("fertility"),
    ).orderBy("lang")


_Q122_SQL = """
WITH caps AS (
  SELECT doc_id,
         'https://site.example/p/' || (doc_id % 80)::VARCHAR AS url,
         md5(CASE WHEN doc_id % 80 < 20
                  THEN 'stable content ' || (doc_id % 80)::VARCHAR
                  ELSE 'changing content ' || doc_id::VARCHAR END) AS fp
  FROM documents
)
SELECT url,
       count(*)::BIGINT AS n_captures,
       count(DISTINCT fp)::BIGINT AS n_versions,
       (count(DISTINCT fp) > 1) AS is_unstable
FROM caps GROUP BY url ORDER BY url
"""


@register("q122_unstable_pages", _Q122_SQL)
def q122(spark, sf_dir):
    """Unstable-page detection (recrawl-policy input): per canonical
    URL, captures vs distinct content fingerprints — n_versions = 1 is
    a static page (recrawl less), > 1 changes every fetch (news/feeds/
    rotating boilerplate: recrawl more, or dedup-by-URL instead of by
    content). Pairs with q117's survivor policy. One groupBy over
    (url, 16-byte fp); text never shuffles. Fixture: 80 URL groups,
    a quarter stable, the rest changing per capture."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    caps = d.select(
        F.concat(
            F.lit("https://site.example/p/"), (did % 80).cast("string")
        ).alias("url"),
        F.md5(
            F.when(
                did % 80 < 20,
                F.concat(F.lit("stable content "), (did % 80).cast("string")),
            ).otherwise(
                F.concat(F.lit("changing content "), did.cast("string"))
            )
        ).alias("fp"),
    )
    return (
        caps.groupBy("url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_captures"),
            F.countDistinct("fp").cast("long").alias("n_versions"),
        )
        .withColumn("is_unstable", F.col("n_versions") > 1)
        .orderBy("url")
    )


_Q123_SQL = """
WITH s AS (
  SELECT n_chars::DOUBLE AS a, ((n_chars * 7) % 101)::DOUBLE AS b
  FROM documents
),
t AS (
  SELECT round(quantile_cont(a, 0.05), 6) AS ta,
         round(quantile_cont(b, 0.95), 6) AS tb,
         count(*)::BIGINT AS n
  FROM s
)
SELECT 'short_doc' AS rule_name, 'a' AS signal, 'low' AS direction,
       t.ta AS threshold,
       (SELECT sum(CASE WHEN s.a < t.ta THEN 1 ELSE 0 END)
        FROM s)::BIGINT AS n_dropped,
       round((SELECT sum(CASE WHEN s.a < t.ta THEN 1 ELSE 0 END)
              FROM s)::DOUBLE / t.n, 6) AS realized_drop
FROM t
UNION ALL
SELECT 'noisy_doc', 'b', 'high', t.tb,
       (SELECT sum(CASE WHEN s.b > t.tb THEN 1 ELSE 0 END)
        FROM s)::BIGINT,
       round((SELECT sum(CASE WHEN s.b > t.tb THEN 1 ELSE 0 END)
              FROM s)::DOUBLE / t.n, 6)
FROM t
ORDER BY rule_name
"""


@register("q123_threshold_calibration", _Q123_SQL)
def q123(spark, sf_dir):
    """Quantile-based rule-threshold auto-calibration (operators/
    calibration.py calibrate_drop_thresholds): per signal, the exact
    interpolated percentile that targets a 5% drop plus the REALIZED
    drop at that cut (ties/discreteness make them differ — both are
    published). Two corpus scans total for any number of signals
    (one fused percentile agg, one fused count agg); complements q73's
    sweep (q73 evaluates given thresholds against labels; this derives
    thresholds from the corpus itself)."""
    from soda_core_spark.operators.calibration import (
        calibrate_drop_thresholds,
    )

    d = _t(spark, sf_dir, "documents")
    s = d.select(
        F.col("n_chars").cast("double").alias("a"),
        ((F.col("n_chars") * 7) % 101).cast("double").alias("b"),
    )
    return calibrate_drop_thresholds(
        s,
        {"a": ("low", "short_doc"), "b": ("high", "noisy_doc")},
        target_drop=0.05,
    ).orderBy("rule_name")


def _q124_sql() -> str:
    from soda_core_spark.functions.langid import LANGS

    langs = ",".join(f"'{l}'" for l in LANGS)
    return f"""
    WITH staged AS (
      SELECT coalesce(text, '') AS t, lang,
             length(trim(coalesce(text, ''))) > 0 AS nonempty,
             lang IN ({langs}) AS lang_known,
             length(coalesce(text, '')) >= 200 AS long_enough,
             md5(lower(regexp_replace(trim(coalesce(text, '')),
                 '[ \\t\\n\\r]+', ' ', 'g'))) AS fp
      FROM documents
    ),
    agg AS (
      SELECT count(*)::BIGINT AS s0,
             sum(CASE WHEN nonempty THEN 1 ELSE 0 END)::BIGINT AS s1,
             sum(CASE WHEN nonempty AND lang_known
                      THEN 1 ELSE 0 END)::BIGINT AS s2,
             sum(CASE WHEN nonempty AND lang_known AND long_enough
                      THEN 1 ELSE 0 END)::BIGINT AS s3,
             count(DISTINCT CASE WHEN nonempty AND lang_known
                                      AND long_enough
                                 THEN fp END)::BIGINT AS s4
      FROM staged
    )
    SELECT u.stage_idx, u.stage, u.n_docs,
           round(u.n_docs::DOUBLE / nullif(a.s0, 0), 6) AS retention
    FROM agg a CROSS JOIN LATERAL (
      VALUES (0::BIGINT, 'total', a.s0),
             (1::BIGINT, 'non_empty', a.s1),
             (2::BIGINT, 'lang_known', a.s2),
             (3::BIGINT, 'min_length', a.s3),
             (4::BIGINT, 'exact_dedup_survivors', a.s4)
    ) AS u(stage_idx, stage, n_docs)
    ORDER BY u.stage_idx
    """


@register("q124_corpus_funnel", _q124_sql())
def q124(spark, sf_dir):
    """Corpus-build funnel in ONE scan: total → non-empty → known
    language → min length → exact-dedup survivors, each with retention
    vs input — THE pipeline observability artifact ("where did my
    documents go"). All five stage counts come from a single fused
    aggregate (CASE sums + one conditional count-distinct over 16-byte
    fingerprints); the stage table is then exploded from that one row —
    no second scan, no union of five filters."""
    from soda_core_spark.functions.langid import LANGS
    from soda_core_spark.operators.dedup import normalized_text

    d = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    nonempty = F.length(F.trim(t)) > 0
    lang_known = F.col("lang").isin(list(LANGS))
    long_enough = F.length(t) >= 200
    fp = F.md5(normalized_text(t))
    agg = d.agg(
        F.count(F.lit(1)).cast("long").alias("s0"),
        F.sum(F.when(nonempty, 1).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(nonempty & lang_known, 1).otherwise(0))
        .cast("long").alias("s2"),
        F.sum(F.when(nonempty & lang_known & long_enough, 1).otherwise(0))
        .cast("long").alias("s3"),
        F.countDistinct(
            F.when(nonempty & lang_known & long_enough, fp)
        ).cast("long").alias("s4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"s{i}").alias("n_docs"),
            )
            for i, name in enumerate(
                ["total", "non_empty", "lang_known", "min_length",
                 "exact_dedup_survivors"]
            )
        ]
    )
    return (
        agg.select(F.explode(stages).alias("u"), F.col("s0"))
        .select(
            F.col("u.stage_idx").alias("stage_idx"),
            F.col("u.stage").alias("stage"),
            F.col("u.n_docs").alias("n_docs"),
            F.round(
                F.col("u.n_docs").cast("double")
                / F.when(F.col("s0") > 0, F.col("s0").cast("double")),
                6,
            ).alias("retention"),
        )
        .orderBy("stage_idx")
    )


def _q125_sql() -> str:
    # Per-source scrub burden: PII injected into every THIRD document
    # (doc_id % 3 == 0) so sources carry different burdens through their
    # doc-id composition; hit counting reuses the q21 rule/fold
    # machinery verbatim (rules shared as data).
    from soda_core_spark.functions.scrub import (
        ALL_RULES,
        DIGIT_FOLD_FROM,
        DIGIT_FOLD_TO,
    )

    inject = (
        "'mail u' || doc_id::VARCHAR || '@example.com ssn 123-45-6789 "
        "tel +1 (555) 123-4567 ip 10.0.0.1 ' || coalesce(text, '')"
    )
    text2 = (
        f"CASE WHEN doc_id % 3 = 0 THEN translate({inject}, "
        f"'{DIGIT_FOLD_FROM}', '{DIGIT_FOLD_TO}') "
        "ELSE coalesce(text, '') END"
    )
    hit_terms = []
    for _name, pat, _repl in ALL_RULES:
        p = pat.replace("'", "''")
        hit_terms.append(f"len(regexp_extract_all(text2, '{p}'))")
    hits = " + ".join(hit_terms)
    return f"""
    WITH t AS (SELECT doc_id, source, {text2} AS text2 FROM documents),
    per_doc AS (
      SELECT source,
             ({hits})::BIGINT AS hits,
             len(list_filter(regexp_split_to_array(text2, '[ \\t\\n\\r]+'),
                             x -> x <> ''))::BIGINT AS toks
      FROM t
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)::BIGINT
             AS docs_with_pii,
           sum(hits)::BIGINT AS total_hits,
           CASE WHEN sum(toks) > 0
             THEN round(sum(hits)::DOUBLE * 1000 / sum(toks), 6) END
             AS hits_per_1000_tokens
    FROM per_doc GROUP BY source ORDER BY source
    """


@register("q125_scrub_burden", _q125_sql())
def q125(spark, sf_dir):
    """Per-source PII scrub burden: docs with PII, total hits, hits per
    1000 tokens — the policy dashboard that decides which sources need
    scrubbing review vs a blanket pass. Hit counting is the SAME
    vectorized pandas UDF the scrubber uses (pii_count_udf, fold
    included), so the rollup can never disagree with the scrub itself;
    the rollup is one fused groupBy over exact integer sums."""
    from soda_core_spark.functions.scrub import pii_count_udf

    d = _t(spark, sf_dir, "documents")
    base = F.coalesce(F.col("text"), F.lit(""))
    injected = F.concat(
        F.lit("mail u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ssn 123-45-6789 "
              "tel +1 (555) 123-4567 ip 10.0.0.1 "),
        base,
    )
    text2 = F.when(F.col("doc_id") % 3 == 0, injected).otherwise(base)
    per_doc = d.select(
        "source",
        pii_count_udf(text2).alias("hits"),
        F.size(words_col(text2)).cast("long").alias("toks"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
        .cast("long").alias("docs_with_pii"),
        F.sum("hits").cast("long").alias("total_hits"),
        F.sum("toks").alias("__toks"),
    )
    return agg.select(
        "source", "n_docs", "docs_with_pii", "total_hits",
        F.when(
            F.col("__toks") > 0,
            F.round(
                F.col("total_hits").cast("double") * 1000
                / F.col("__toks").cast("double"),
                6,
            ),
        ).alias("hits_per_1000_tokens"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# BPE training table (functions/bpe.py corpus_word_counts) — the
# distributed half of the tokenizer: the exact word-frequency
# sufficient statistic the merge loop trains on.
# ---------------------------------------------------------------------------

_Q126_SQL = """
SELECT w AS word, n
FROM (
  SELECT w, count(*)::BIGINT AS n
  FROM (
    SELECT unnest(list_filter(regexp_split_to_array(coalesce(text, ''),
           '[ \t\n\r]+'), x -> x <> '')) AS w
    FROM documents
  )
  GROUP BY w
  ORDER BY n DESC, w
  LIMIT 500
)
"""


@register("q126_bpe_training_table", _Q126_SQL)
def q126(spark, sf_dir):
    """The BPE trainer's distributed sufficient statistic
    (functions/bpe.py corpus_word_counts): distinct words with exact
    corpus frequencies, capped to the top-N types by (count desc, word)
    — one explode + map-side partial-agg groupBy + deterministic
    TakeOrdered. Zipf's law puts ~all token mass in the head, so the
    cap bounds the driver-side merge loop at any corpus size. This
    oracles the training half of the tokenizer; q85 oracles the apply
    half with a fixed merge table."""

    d = _t(spark, sf_dir, "documents")
    w = F.explode(
        words_col(F.coalesce(F.col("text"), F.lit("")))
    ).alias("word")
    return (
        d.select(w)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(500)
    )


# ---------------------------------------------------------------------------
# Corpus concentration (operators/profiling.py corpus_concentration)
# ---------------------------------------------------------------------------

_Q127_SQL = """
WITH g AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'src0' ELSE source END AS g
  FROM documents
),
c AS (SELECT g, count(*)::BIGINT AS c FROM g GROUP BY g),
t AS (
  SELECT coalesce(sum(c), 0)::BIGINT AS topn_c
  FROM (SELECT c FROM c ORDER BY c DESC, g LIMIT 3)
),
a AS (
  SELECT sum(c)::BIGINT AS n_docs,
         count(*)::BIGINT AS n_groups,
         sum(c * c)::DOUBLE AS sq,
         max(c)::DOUBLE AS top1
  FROM c
)
SELECT n_docs, n_groups,
       round(sq / (n_docs::DOUBLE * n_docs::DOUBLE), 6) AS hhi,
       round(1.0 / (sq / (n_docs::DOUBLE * n_docs::DOUBLE)), 6)
         AS effective_groups,
       round(top1 / n_docs::DOUBLE, 6) AS top1_share,
       round(topn_c::DOUBLE / n_docs::DOUBLE, 6) AS topn_share
FROM a CROSS JOIN t
"""


@register("q127_corpus_concentration", _Q127_SQL)
def q127(spark, sf_dir):
    """Herfindahl–Hirschman corpus concentration over sources
    (operators/profiling.py corpus_concentration): HHI, effective group
    count (1/HHI), top-1 and top-3 shares in one |groups|-row groupBy +
    one fused fold. Fixture folds every third document into 'src0' so
    the distribution is deliberately skewed (a uniform fixture would
    test nothing)."""
    from soda_core_spark.operators.profiling import corpus_concentration

    d = _t(spark, sf_dir, "documents")
    skewed = d.select(
        F.when(F.col("doc_id") % 3 == 0, F.lit("src0"))
        .otherwise(F.col("source"))
        .alias("g")
    )
    return corpus_concentration(skewed, "g", top_n=3)


# ---------------------------------------------------------------------------
# Embedding-space decontamination (operators/similarity.py)
# ---------------------------------------------------------------------------

def _q128_sql(dim: int = 64, tau: float = 0.8) -> str:
    dot = (
        f"list_reduce(list_transform(range(1, {dim + 1}),"
        " j -> c.e[j] * b.e[j]), (x, y) -> x + y)"
    )
    nrm = (
        "sqrt(list_reduce(list_transform({v}, x -> x * x), (x, y) -> x + y))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    c AS (SELECT * FROM v WHERE vec_id % 7 <> 0),
    b AS (SELECT * FROM v WHERE vec_id % 7 = 0),
    scored AS (
      SELECT c.vec_id,
             round({dot} / ({nrm.format(v='c.e')} * {nrm.format(v='b.e')}),
                   4) AS cs,
             b.vec_id AS bid
      FROM c CROSS JOIN b
    ),
    best AS (
      SELECT vec_id,
             max(cs) AS max_bench_cosine,
             min(bid) FILTER (WHERE cs = (
               SELECT max(cs) FROM scored s2 WHERE s2.vec_id = scored.vec_id
             )) AS nearest_bench_id
      FROM scored GROUP BY vec_id
    )
    SELECT vec_id, max_bench_cosine,
           nearest_bench_id::BIGINT AS nearest_bench_id,
           (max_bench_cosine >= {tau}) AS contaminated
    FROM best
    """


@register("q128_embedding_decontamination", _q128_sql())
def q128(spark, sf_dir):
    """Embedding-space benchmark decontamination (operators/
    similarity.py decontaminate_embeddings): flag corpus vectors whose
    4dp-rounded cosine to ANY broadcast benchmark vector reaches the
    threshold — the semantic complement of q34's n-gram
    decontamination. Fixture: every 7th embedding is the 'benchmark',
    the rest are the corpus. The registry pins the JVM join form (its
    fold order is the oracle's, bit-exact); the zero-shuffle Arrow
    default is pinned against it by tests/test_r5_operators.py."""
    from soda_core_spark.operators.similarity import decontaminate_embeddings

    e = _t(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 7 != 0)
    bench = e.where(F.col("vec_id") % 7 == 0)
    return decontaminate_embeddings(corpus, bench, threshold=0.8,
                                    method="join")


# ---------------------------------------------------------------------------
# Boilerplate n-gram census (operators/dedup.py boilerplate_ngrams)
# ---------------------------------------------------------------------------

_Q129_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[ \t\n\r]+'), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 0) + 1),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gl
  FROM toks
),
x AS (SELECT unnest(gl) AS ngram FROM grams)
SELECT ngram, count(*)::BIGINT AS doc_frequency
FROM x
GROUP BY ngram
HAVING count(*) >= 5
ORDER BY doc_frequency DESC, ngram
LIMIT 50
"""


@register("q129_boilerplate_ngrams", _Q129_SQL)
def q129(spark, sf_dir):
    """Corpus-wide boilerplate shingle census (operators/dedup.py
    boilerplate_ngrams): the exact 3-token spans recurring across the
    most documents — the discovery step feeding span removal (Lee et
    al. 2022). Shingles are built and deduplicated per document with
    pure array algebra before the explode, so only distinct (gram, doc)
    pairs shuffle; the report is a bounded TakeOrdered."""
    from soda_core_spark.operators.dedup import boilerplate_ngrams

    d = _t(spark, sf_dir, "documents")
    return boilerplate_ngrams(d, n=3, min_doc_frequency=5, top=50)


# ---------------------------------------------------------------------------
# Fleiss' kappa (operators/attribution.py fleiss_kappa)
# ---------------------------------------------------------------------------

_Q130_SQL = """
WITH flags AS (
  SELECT (n_chars >= 400) AS a,
         (len(list_filter(regexp_split_to_array(coalesce(text, ''),
              '[ \t\n\r]+'), x -> x <> '')) >= 80) AS b,
         (n_chars >= 250) AS c
  FROM documents
),
votes AS (
  SELECT (a::INT + b::INT + c::INT) AS k FROM flags
  WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL
),
agg AS (
  SELECT count(*)::BIGINT AS n,
         sum(k)::DOUBLE AS sk,
         sum((k::DOUBLE * (k - 1)::DOUBLE
              + (3 - k)::DOUBLE * (2 - k)::DOUBLE) / 6.0) AS sp
  FROM votes
)
SELECT n, 3 AS m,
       round(sk / (n * 3), 6) AS p_true,
       round(sp / n, 6) AS p_bar,
       round((sk / (n * 3)) * (sk / (n * 3))
             + (1 - sk / (n * 3)) * (1 - sk / (n * 3)), 6) AS pe_bar,
       CASE WHEN (sk / (n * 3)) * (sk / (n * 3))
                 + (1 - sk / (n * 3)) * (1 - sk / (n * 3)) < 1.0
         THEN round((sp / n - ((sk / (n * 3)) * (sk / (n * 3))
                               + (1 - sk / (n * 3)) * (1 - sk / (n * 3))))
                    / (1 - ((sk / (n * 3)) * (sk / (n * 3))
                            + (1 - sk / (n * 3)) * (1 - sk / (n * 3)))), 6)
       END AS kappa
FROM agg
"""


@register("q130_fleiss_kappa", _Q130_SQL)
def q130(spark, sf_dir):
    """Fleiss' kappa across THREE keep-rule variants (operators/
    attribution.py fleiss_kappa) — the multi-rater generalization of
    q113's pairwise Cohen kappa for rule-pack panels. One fused
    aggregate; NULL-vote rows excluded from every sum (the
    decision_kappa NULL policy)."""
    from soda_core_spark.operators.attribution import fleiss_kappa

    d = _t(spark, sf_dir, "documents")
    words = words_col(F.coalesce(F.col("text"), F.lit("")))
    flags = d.select(
        (F.col("n_chars") >= 400).alias("a"),
        (F.size(words) >= 80).alias("b"),
        (F.col("n_chars") >= 250).alias("c"),
    )
    return fleiss_kappa(flags, ["a", "b", "c"])


# ---------------------------------------------------------------------------
# Classifier reliability / ECE (operators/calibration.py)
# ---------------------------------------------------------------------------

_Q131_SQL = """
WITH pts AS (
  SELECT round((doc_id % 100) / 100.0, 6) AS s,
         (((doc_id * 7) % 100) < (doc_id % 100)) AS y
  FROM documents
),
b AS (
  SELECT least(floor(s * 10), 9)::INT AS bin, s, y::INT AS y
  FROM pts WHERE s IS NOT NULL AND y IS NOT NULL
),
g AS (
  SELECT bin, count(*)::BIGINT AS n,
         sum(s) / count(*) AS ms,
         sum(y)::DOUBLE / count(*) AS pr
  FROM b GROUP BY bin
),
t AS (SELECT sum(n)::DOUBLE AS nn, sum(n * abs(pr - ms)) AS gap FROM g)
SELECT bin, n,
       round(ms, 6) AS mean_score,
       round(pr, 6) AS positive_rate,
       round(abs(pr - ms), 6) AS abs_gap,
       round(gap / nn, 6) AS ece
FROM g CROSS JOIN t ORDER BY bin
"""


@register("q131_classifier_reliability", _Q131_SQL)
def q131(spark, sf_dir):
    """Reliability diagram + expected calibration error (operators/
    calibration.py classifier_reliability): per score bin, mean
    predicted score vs empirical positive rate, plus the Σ(n/N)·|gap|
    ECE scalar — the gate between a distilled quality classifier (q72)
    and using its scores as sampling weights. One groupBy to <=10 bins
    + a broadcast 1-row fold. Fixture: a deterministic score ramp with
    a label whose positive rate tracks the score."""
    from soda_core_spark.operators.calibration import classifier_reliability

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    score = F.round((did % 100) / F.lit(100.0), 6)
    label = ((did * 7) % 100) < (did % 100)
    return classifier_reliability(
        d.select(score.alias("s"), label.alias("y")),
        F.col("s"), F.col("y"), n_bins=10,
    )


# ---------------------------------------------------------------------------
# Training-mixture planning (operators/sampling.py mixture_plan)
# ---------------------------------------------------------------------------

_Q132_SQL = """
WITH inv AS (
  SELECT source, sum(n_chars)::BIGINT AS available_tokens
  FROM documents GROUP BY source
),
w(source, weight) AS (
  VALUES ('src0', round(0.5, 6)), ('src1', round(0.3, 6)),
         ('extinct', round(0.2, 6))
),
j AS (
  SELECT coalesce(i.source, w.source) AS source,
         round(coalesce(w.weight, 0.0), 6) AS weight,
         coalesce(i.available_tokens, 0)::BIGINT AS available_tokens
  FROM inv i FULL OUTER JOIN w ON i.source = w.source
),
c AS (
  SELECT source, weight, available_tokens,
         weight * 200000.0 AS target,
         available_tokens::DOUBLE AS avail
  FROM j
),
p AS (
  SELECT *,
         CASE WHEN avail > 0 THEN target / avail END AS raw_epochs,
         coalesce(CASE WHEN avail > 0 THEN target / avail END > 4.0,
                  false) AS capped
  FROM c
)
SELECT source, weight, available_tokens,
       round(target, 6) AS target_tokens,
       round(CASE WHEN capped THEN 4.0 * avail
                  WHEN avail > 0 THEN target ELSE 0.0 END, 6)
         AS planned_tokens,
       round(CASE WHEN avail > 0 THEN
               least((CASE WHEN capped THEN 4.0 * avail
                           WHEN avail > 0 THEN target ELSE 0.0 END) / avail,
                     1.0)
             ELSE 0.0 END, 6) AS sampling_rate,
       round(raw_epochs, 6) AS epochs,
       capped
FROM p ORDER BY source
"""


@register("q132_mixture_plan", _Q132_SQL)
def q132(spark, sf_dir):
    """Training-mixture planning table (operators/sampling.py
    mixture_plan): per-source token inventory vs target mixture weights
    — target/planned tokens, sampling rate, EPOCH count, and the
    max-epochs upsampling cap (The Pile's epochs column as an
    operator). Fixture: 50%/30% on two real sources plus 20% on an
    extinct one; the 200k budget forces the epoch cap on the real
    sources. One groupBy to |sources| rows + literal weight table."""
    from soda_core_spark.operators.sampling import mixture_plan

    d = _t(spark, sf_dir, "documents")
    inv = d.select("source", F.col("n_chars").alias("n_tokens"))
    return mixture_plan(
        inv,
        weights={"src0": 0.5, "src1": 0.3, "extinct": 0.2},
        token_budget=200_000,
        max_epochs=4.0,
    )


# ---------------------------------------------------------------------------
# ROC-AUC of a quality score vs a reference keep label
# (operators/calibration.py classifier_auc)
# ---------------------------------------------------------------------------

_Q133_SQL = """
WITH pts AS (
  SELECT round(nw / (nw + 100.0), 6) AS s, (n_chars >= 400) AS y
  FROM (
    SELECT len(list_filter(regexp_split_to_array(coalesce(text, ''),
               '[ \t\n\r]+'), w -> w <> ''))::DOUBLE AS nw,
           n_chars
    FROM documents
  )
),
g AS (
  SELECT s, sum(y::INT)::BIGINT AS np, sum((NOT y)::INT)::BIGINT AS nn
  FROM pts WHERE s IS NOT NULL AND y IS NOT NULL GROUP BY s
),
c AS (
  SELECT np, nn,
         np::HUGEINT * (2 * coalesce(sum(nn) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::HUGEINT
           + nn::HUGEINT) AS u2
  FROM g
),
f AS (
  SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
         count(*)::BIGINT AS n_distinct_scores, sum(u2) AS u2
  FROM c
)
SELECT n_pos, n_neg, n_distinct_scores,
       CASE WHEN n_pos > 0 AND n_neg > 0
         THEN round(u2::DOUBLE
                    / (2::HUGEINT * n_pos::HUGEINT * n_neg::HUGEINT)::DOUBLE,
                    6)
       END AS auc
FROM f
"""


@register("q133_classifier_auc", _Q133_SQL)
def q133(spark, sf_dir):
    """Mann-Whitney ROC-AUC (operators/calibration.py classifier_auc)
    of a saturating word-count quality score against the n_chars>=400
    reference keep label — "does the cheap signal ORDER documents the
    way the reference rule decides them?". Integer U statistic in
    decimal(38,0) (exact past bigint at 10^12 docs), ONE double
    division at the end; the only window runs over the bounded
    distinct-score frame, never the corpus. Fixture deliberately
    correlates the signals through text length, with heavy score ties
    exercising the ½-tie term."""
    from soda_core_spark.operators.calibration import classifier_auc

    d = _t(spark, sf_dir, "documents")
    nw = F.size(words_col(F.coalesce(F.col("text"), F.lit("")))).cast("double")
    return classifier_auc(
        d.select(nw.alias("__nw"), F.col("n_chars")),
        F.round(F.col("__nw") / (F.col("__nw") + F.lit(100.0)), 6),
        F.col("n_chars") >= 400,
    )


# ---------------------------------------------------------------------------
# Spearman rank agreement between two quality signals
# (operators/profiling.py spearman_correlation)
# ---------------------------------------------------------------------------

_Q134_SQL = """
WITH rows_ AS (
  SELECT n_chars::DOUBLE AS x,
         len(list_filter(regexp_split_to_array(coalesce(text, ''),
             '[ \t\n\r]+'), w -> w <> ''))::DOUBLE AS y
  FROM documents
  WHERE n_chars IS NOT NULL
),
r AS (
  SELECT rank() OVER (ORDER BY x)
           + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
         rank() OVER (ORDER BY y)
           + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
  FROM rows_
)
SELECT count(*)::BIGINT AS n, round(corr(rx, ry), 6) AS spearman_rho
FROM r
"""


@register("q134_signal_correlation", _Q134_SQL)
def q134(spark, sf_dir):
    """Spearman rank correlation (operators/profiling.py
    spearman_correlation) between character count and word count — the
    redundancy check run before admitting a new signal to a rule pack
    (rho ~ 1 means the new signal re-orders nothing). Average-rank tie
    handling; ranks come from distinct-value count tables joined back,
    NOT a corpus-wide per-row window (the oracle's naive per-row rank
    window is the small-SF twin of that bounded plan)."""
    from soda_core_spark.operators.profiling import spearman_correlation

    d = _t(spark, sf_dir, "documents")
    # kept integral: ranks are cast-invariant, and an integral input
    # lets spearman_correlation skip its isnan guard (which would be
    # pushed into the scan filter and re-evaluate this tokenization
    # per row — the operator casts to double internally anyway)
    nw = F.size(words_col(F.coalesce(F.col("text"), F.lit(""))))
    return spearman_correlation(
        d.where(F.col("n_chars").isNotNull()).select(
            F.col("n_chars").alias("x_chars"), nw.alias("y_words")
        ),
        "x_chars",
        "y_words",
    )


# ---------------------------------------------------------------------------
# Pairwise source vocabulary divergence (operators/profiling.py
# vocab_divergence)
# ---------------------------------------------------------------------------

_Q135_SQL = """
WITH gt AS (
  SELECT source AS g, tok, count(*)::BIGINT AS c
  FROM (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(
               lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> ''))
             AS tok
    FROM documents
  ) GROUP BY source, tok
),
vocab AS (
  SELECT tok FROM (SELECT tok, sum(c) AS tc FROM gt GROUP BY tok)
  ORDER BY tc DESC, tok LIMIT 1000
),
folded AS (
  SELECT g,
         CASE WHEN v.tok IS NOT NULL THEN gt.tok ELSE '<oov>' END AS vt,
         sum(c)::BIGINT AS c
  FROM gt LEFT JOIN vocab v ON gt.tok = v.tok
  GROUP BY 1, 2
),
totals AS (SELECT g, sum(c)::BIGINT AS t FROM folded GROUP BY g),
cells AS (SELECT DISTINCT vt FROM folded),
grid AS (
  SELECT totals.g, cells.vt, totals.t, coalesce(f.c, 0)::BIGINT AS c
  FROM totals CROSS JOIN cells
  LEFT JOIN folded f ON f.g = totals.g AND f.vt = cells.vt
),
pairs AS (
  SELECT a.g AS ga, b.g AS gb, a.t AS ta, b.t AS tb,
         a.c::DOUBLE / a.t AS pa, b.c::DOUBLE / b.t AS pb,
         a.c AS ca, b.c AS cb
  FROM grid a JOIN grid b ON a.vt = b.vt AND a.g < b.g
)
SELECT ga AS group_a, gb AS group_b,
       max(ta)::BIGINT AS n_tokens_a, max(tb)::BIGINT AS n_tokens_b,
       round(sum(
         (CASE WHEN ca > 0 THEN pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END
        + CASE WHEN cb > 0 THEN pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END)
         / 2.0), 6) AS jsd
FROM pairs GROUP BY ga, gb ORDER BY ga, gb
"""


@register("q135_vocab_divergence", _Q135_SQL)
def q135(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions (operators/profiling.py vocab_divergence) over the
    global top-1000 vocabulary + an <oov> bucket — the corpus-mixing
    diagnostic run before blending crawls (PSI's inter-source
    complement). One corpus-wide (source, token) groupBy; every later
    step is bounded by |sources|·1001 rows."""
    from soda_core_spark.operators.profiling import vocab_divergence

    d = _t(spark, sf_dir, "documents")
    return vocab_divergence(d, group_col="source", text_col="text",
                            top_k=1000)


# ---------------------------------------------------------------------------
# First-seen vocabulary curve (operators/profiling.py vocabulary_novelty)
# ---------------------------------------------------------------------------

_Q136_SQL = """
WITH base AS (
  SELECT (DATE '2026-01-01' + ((doc_id % 12)::INT) * INTERVAL 1 DAY)::DATE
           AS day,
         unnest(list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> ''))
           AS tok
  FROM documents
),
dt AS (SELECT DISTINCT day, tok FROM base),
daily AS (
  SELECT day, count(*)::BIGINT AS distinct_tokens FROM dt GROUP BY day
),
firsts AS (SELECT tok, min(day) AS day FROM dt GROUP BY tok),
news AS (SELECT day, count(*)::BIGINT AS new_tokens FROM firsts GROUP BY day)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       d.distinct_tokens,
       coalesce(n.new_tokens, 0)::BIGINT AS new_tokens,
       round(coalesce(n.new_tokens, 0)::DOUBLE / d.distinct_tokens, 6)
         AS novelty_rate,
       sum(coalesce(n.new_tokens, 0))
         OVER (ORDER BY d.day)::BIGINT AS cum_vocab
FROM daily d LEFT JOIN news n USING (day)
ORDER BY day
"""


@register("q136_vocabulary_novelty", _Q136_SQL)
def q136(spark, sf_dir):
    """First-seen vocabulary curve (operators/profiling.py
    vocabulary_novelty): per crawl day, distinct tokens, never-seen-
    before tokens, novelty rate, and the cumulative vocabulary — the
    Heaps-law monitor that catches a spam campaign or encoding
    regression the day it lands. Fixture: 12 hash-derived crawl days
    over documents. Two bounded groupBys (day+token dedup, first-seen
    per token); the window runs over |days| rows."""
    from soda_core_spark.operators.profiling import vocabulary_novelty

    d = _t(spark, sf_dir, "documents")
    days = d.select(
        F.date_add(
            F.lit("2026-01-01").cast("date"),
            (F.col("doc_id") % 12).cast("int"),
        ).alias("day"),
        "text",
    )
    return vocabulary_novelty(days, day_col="day", text_col="text")


# ---------------------------------------------------------------------------
# Robust (median/MAD) anomaly days (operators/profiling.py
# robust_anomaly_days)
# ---------------------------------------------------------------------------

_Q137_SQL = """
WITH daily AS (
  SELECT event_type AS key, ts::DATE AS day, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
spans AS (SELECT key, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY key),
cal AS (
  SELECT key, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM spans
),
dense AS (
  SELECT c.key, c.day, coalesce(d.n, 0)::BIGINT AS n
  FROM cal c LEFT JOIN daily d ON d.key = c.key AND d.day = c.day
),
med AS (SELECT key, quantile_cont(n::DOUBLE, 0.5) AS med FROM dense GROUP BY key),
mad AS (
  SELECT dense.key,
         quantile_cont(abs(dense.n::DOUBLE - med.med), 0.5) AS mad
  FROM dense JOIN med ON dense.key = med.key
  GROUP BY dense.key
)
SELECT dense.key, strftime(dense.day, '%Y-%m-%d') AS day, dense.n,
       round(med.med, 6) AS med,
       round(mad.mad, 6) AS mad,
       CASE WHEN mad.mad > 0
            THEN round(0.6745 * (dense.n::DOUBLE - med.med) / mad.mad, 6)
       END AS robust_z,
       CASE WHEN mad.mad > 0
            THEN abs(0.6745 * (dense.n::DOUBLE - med.med) / mad.mad) > 3.5
            ELSE dense.n::DOUBLE <> med.med
       END AS is_anomaly
FROM dense
JOIN med ON dense.key = med.key
JOIN mad ON dense.key = mad.key
ORDER BY dense.key, dense.day
"""


@register("q137_anomaly_days", _Q137_SQL)
def q137(spark, sf_dir):
    """Median/MAD modified-z anomaly days per event type
    (operators/profiling.py robust_anomaly_days): the robust
    crawl-health monitor a one-day flood can't drag its own baseline
    on, with per-key calendar densification so a SILENT day (collapsed
    fetcher, n=0) is scored rather than invisible. Corpus collapses to
    |keys x days| in one partial agg; exact median + MAD over that tiny
    frame."""
    from soda_core_spark.operators.profiling import robust_anomaly_days

    e = _t(spark, sf_dir, "events")
    return robust_anomaly_days(e, "ts", "event_type", threshold=3.5)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (operators/dedup.py winnow_fingerprints)
# ---------------------------------------------------------------------------

_Q138_SQL = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                           '[ \t\n\r]+'),
                     x -> x <> '') AS wds
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(wds) >= 5 THEN
           list_transform(range(1, len(wds) - 3),
                          i -> array_to_string(wds[i:i+4], ' '))
         ELSE []::VARCHAR[] END AS grams
  FROM w
),
ex AS (
  SELECT doc_id, gi - 1 AS pos, grams[gi] AS gram
  FROM g, unnest(range(1, len(grams) + 1)) AS t(gi)
),
hx AS (
  SELECT doc_id, pos, {_P_HASH_SQL.format(v='gram')} AS h
  FROM ex
),
sel AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS mg
  FROM hx
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM sel
  WHERE pos <= mg - 4 OR (mg < 4 AND pos = 0)
),
tot AS (SELECT doc_id, count(*)::BIGINT AS nfp FROM fps GROUP BY doc_id),
hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 1000),
cand AS (SELECT doc_id, fp FROM fps WHERE fp IN (SELECT fp FROM hot)),
pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared_fps
  FROM cand a JOIN cand b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT pr.doc_a, pr.doc_b, pr.shared_fps,
       ta.nfp AS fp_a, tb.nfp AS fp_b,
       round(pr.shared_fps::DOUBLE / least(ta.nfp, tb.nfp), 6)
         AS containment
FROM pr
JOIN tot ta ON ta.doc_id = pr.doc_a
JOIN tot tb ON tb.doc_id = pr.doc_b
WHERE pr.shared_fps >= 2
ORDER BY doc_a, doc_b
"""


@register("q138_winnow_pairs", _Q138_SQL)
def q138(spark, sf_dir):
    """Winnowing shared-passage pairs (operators/dedup.py
    winnow_fingerprints; Schleimer-Wilkerson-Aiken 2003): k=5-token
    grams, w=4 window minima, portable hash — documents sharing any
    passage of >= w+k-1 = 8 tokens are GUARANTEED to collide on a
    fingerprint while only ~2/(w+1) of positions are stored. The
    quote/license/plagiarism detector that MinHash's whole-doc
    similarity misses. Oracle rebuilds the same window minima with
    DuckDB window functions over the same md5-derived 60-bit hashes."""
    from soda_core_spark.operators.dedup import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(
        d, k=5, w=4, min_shared=2, max_doc_freq=1000, hash="portable"
    )


# ---------------------------------------------------------------------------
# Edit-distance verification of blocked near-dup candidates
# (operators/dedup.py levenshtein_verify_pairs)
# ---------------------------------------------------------------------------

_Q139_SQL = """
WITH norm AS (
  SELECT doc_id, lang,
         lower(regexp_replace(trim(coalesce(text, '')),
                              '[ \t\n\r]+', ' ', 'g')) AS nt
  FROM documents
),
blocked AS (
  SELECT doc_id, lang, substring(nt, 1, 16) AS blk,
         substring(nt, 1, 200) AS body
  FROM norm
),
capped AS (
  SELECT doc_id, lang, blk, body, strlen(body)::BIGINT AS blen
  FROM (
    SELECT *, row_number() OVER (PARTITION BY lang, blk ORDER BY doc_id) AS rn
    FROM blocked
  ) WHERE rn <= 50
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.body, b.body)::BIGINT AS lev,
         round(1.0 - levenshtein(a.body, b.body)::DOUBLE
               / greatest(a.blen, b.blen, 1), 6) AS similarity
  FROM capped a JOIN capped b
    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
  WHERE abs(a.blen - b.blen)::DOUBLE <= 0.2 * greatest(a.blen, b.blen)
)
SELECT doc_a, doc_b, lev, similarity FROM pairs
WHERE similarity >= 0.8
ORDER BY doc_a, doc_b
"""


@register("q139_lev_verify", _Q139_SQL)
def q139(spark, sf_dir):
    """Exact edit-distance verification of blocked near-duplicate
    candidates (operators/dedup.py levenshtein_verify_pairs): blocks on
    (lang, 16-char normalized prefix) capped at 50 members, rejects
    pairs JVM-side via the |len_a-len_b| <= (1-sim)*max lower bound,
    then computes byte-level Levenshtein in a vectorized two-row-DP
    pandas UDF. DuckDB's levenshtein() is byte-based too, so the oracle
    is exact including non-ASCII."""
    from soda_core_spark.operators.dedup import levenshtein_verify_pairs

    d = _t(spark, sf_dir, "documents")
    return levenshtein_verify_pairs(
        d, group_col="lang", prefix_len=16, trunc=200, max_block=50,
        min_similarity=0.8,
    )


# ---------------------------------------------------------------------------
# Cross-source duplicate-share matrix (operators/dedup.py
# cross_source_duplication)
# ---------------------------------------------------------------------------

_Q140_SQL = """
WITH sfp AS (
  SELECT DISTINCT source AS src,
         md5(lower(regexp_replace(trim(coalesce(text, '')),
                                  '[ \t\n\r]+', ' ', 'g'))) AS fp
  FROM documents
),
hot AS (SELECT fp FROM sfp GROUP BY fp HAVING count(*) > 64),
kept AS (SELECT * FROM sfp WHERE fp NOT IN (SELECT fp FROM hot)),
tot AS (SELECT src, count(*)::BIGINT AS nfp FROM kept GROUP BY src),
pr AS (
  SELECT a.src AS source_a, b.src AS source_b, count(*)::BIGINT AS shared_fps
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.src < b.src
  GROUP BY 1, 2
)
SELECT pr.source_a, pr.source_b, pr.shared_fps,
       ta.nfp AS fps_a, tb.nfp AS fps_b,
       round(pr.shared_fps::DOUBLE / ta.nfp, 6) AS overlap_a,
       round(pr.shared_fps::DOUBLE / tb.nfp, 6) AS overlap_b
FROM pr
JOIN tot ta ON ta.src = pr.source_a
JOIN tot tb ON tb.src = pr.source_b
ORDER BY source_a, source_b
"""


@register("q140_cross_source_dup", _Q140_SQL)
def q140(spark, sf_dir):
    """Cross-source duplicate-share matrix (operators/dedup.py
    cross_source_duplication): distinct (source, md5-fingerprint) pairs,
    hot fingerprints (>64 sources) capped out before the fp self-join,
    per-ordered-pair shared counts plus each side's inventory share.
    The provenance input to mixture weighting — a source 80 % contained
    in another must not be upweighted independently."""
    from soda_core_spark.operators.dedup import cross_source_duplication

    d = _t(spark, sf_dir, "documents")
    return cross_source_duplication(d, max_sources_per_fp=64)


# ---------------------------------------------------------------------------
# Per-document character entropy (operators/profiling.py char_entropy)
# ---------------------------------------------------------------------------

_Q141_SQL = """
WITH chars AS (
  SELECT doc_id, substring(coalesce(text, ''), i, 1) AS ch
  FROM documents,
       unnest(range(1, length(coalesce(text, '')) + 1)) AS t(i)
),
cnt AS (
  SELECT doc_id, ch, count(*)::BIGINT AS c FROM chars GROUP BY doc_id, ch
),
tot AS (SELECT doc_id, sum(c)::BIGINT AS n FROM cnt GROUP BY doc_id),
ent AS (
  SELECT c.doc_id,
         max(t.n)::BIGINT AS n_cp,
         count(*)::BIGINT AS distinct_cp,
         round(sum(-(c.c::DOUBLE / t.n) * log2(c.c::DOUBLE / t.n)
                   ORDER BY unicode(c.ch)), 6) AS entropy_bits
  FROM cnt c JOIN tot t USING (doc_id)
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       coalesce(e.n_cp, 0)::BIGINT AS n_cp,
       coalesce(e.distinct_cp, 0)::BIGINT AS distinct_cp,
       coalesce(e.entropy_bits, 0.0) AS entropy_bits
FROM documents d LEFT JOIN ent e USING (doc_id)
ORDER BY d.doc_id
"""


@register("q141_char_entropy", _Q141_SQL)
def q141(spark, sf_dir):
    """Per-document Shannon entropy over code points
    (operators/profiling.py char_entropy) — the byte-junk detector
    (base64/hex far above prose entropy, padding far below). Spark side
    is ONE shuffle-free Arrow projection (np.unique per row); the
    oracle's explode-per-character form is the local-SF twin of the
    plan the Spark side must never run. Ordered aggregate (by code
    point) reproduces the UDF's sorted summation order exactly."""
    from soda_core_spark.operators.profiling import char_entropy

    d = _t(spark, sf_dir, "documents")
    return char_entropy(d)


# ---------------------------------------------------------------------------
# Per-source lexical richness (operators/profiling.py vocab_stats)
# ---------------------------------------------------------------------------

_Q142_SQL = """
WITH toks AS (
  SELECT source AS "group",
         unnest(list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> ''))
           AS word
  FROM documents
),
pw AS (SELECT "group", word, count(*)::BIGINT AS freq FROM toks GROUP BY 1, 2),
st AS (
  SELECT "group", sum(freq)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab_size,
         sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax_count
  FROM pw GROUP BY 1
),
g AS (SELECT DISTINCT source AS "group" FROM documents)
SELECT g."group",
       coalesce(st.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(st.vocab_size, 0)::BIGINT AS vocab_size,
       round(coalesce(st.vocab_size::DOUBLE / st.n_tokens, 0.0), 6) AS ttr,
       coalesce(st.hapax_count, 0)::BIGINT AS hapax_count,
       round(coalesce(st.hapax_count::DOUBLE / st.vocab_size, 0.0), 6)
         AS hapax_ratio
FROM g LEFT JOIN st USING ("group")
ORDER BY g."group"
"""


@register("q142_vocab_stats", _Q142_SQL)
def q142(spark, sf_dir):
    """Per-source lexical-richness profile (operators/profiling.py
    vocab_stats): token count, vocabulary size, type-token ratio and
    hapax share from ONE partial-aggregated (source, word) groupBy —
    the shuffle carries |sources x vocab| rows, never |corpus tokens|.
    Template farms score pathologically low TTR; OCR noise scores
    pathologically high hapax share."""
    from soda_core_spark.operators.profiling import vocab_stats

    d = _t(spark, sf_dir, "documents")
    return vocab_stats(d, group_col="source", text_col="text")


# ---------------------------------------------------------------------------
# Empirical-Bayes per-source keep-rate shrinkage
# (operators/profiling.py shrunk_group_rate)
# ---------------------------------------------------------------------------

_Q143_SQL = """
WITH g AS (
  SELECT source AS "group", count(*)::BIGINT AS n,
         sum(CASE WHEN coalesce(n_chars > 300, false)
             THEN 1 ELSE 0 END)::BIGINT AS k
  FROM documents GROUP BY 1
),
r AS (SELECT *, k::DOUBLE / n AS rate FROM g),
p AS (SELECT count(*) AS ng, avg(rate) AS m, var_pop(rate) AS s2 FROM r),
nu AS (
  SELECT CASE WHEN ng >= 2 AND s2 > 0 AND s2 < m * (1 - m)
              THEN m * (1 - m) / s2 - 1 ELSE 0 END AS nu,
         m
  FROM p
)
SELECT "group", n, k, round(rate, 6) AS rate,
       round((k + m * nu) / (n + nu), 6) AS shrunk_rate,
       round(nu, 6) AS prior_strength
FROM r CROSS JOIN nu ORDER BY "group"
"""


@register("q143_shrunk_rates", _Q143_SQL)
def q143(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-source keep
    rates (operators/profiling.py shrunk_group_rate) under a
    minimum-length keep rule — the host/source reputation operator:
    small hosts' rates pull toward the corpus prior by evidence mass
    (method-of-moments Beta prior, posterior mean (k+a)/(n+nu)). One
    corpus-collapsing groupBy; the prior is a scalar aggregate over
    the |sources|-row frame broadcast back."""
    from soda_core_spark.operators.profiling import shrunk_group_rate

    d = _t(spark, sf_dir, "documents").withColumn(
        "kept", F.col("n_chars") > 300
    )
    return shrunk_group_rate(d, group_col="source", flag_col="kept")


# ---------------------------------------------------------------------------
# Adjacent-day exact Kolmogorov-Smirnov drift (operators/profiling.py
# ks_drift)
# ---------------------------------------------------------------------------

_Q144_SQL = """
WITH base AS (
  SELECT strftime((DATE '2026-01-01'
                   + ((doc_id % 12)::INT) * INTERVAL 1 DAY)::DATE,
                  '%Y-%m-%d') AS day,
         n_chars AS v
  FROM documents WHERE n_chars IS NOT NULL
),
vals AS (SELECT day, v, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
tot AS (SELECT day, sum(c)::BIGINT AS n FROM vals GROUP BY 1),
pairs AS (
  SELECT cur.day AS day, cur.n AS n_cur, max(d.day) AS prev_day
  FROM tot cur JOIN tot d ON d.day < cur.day
  GROUP BY 1, 2
),
un AS (
  SELECT p.day, v.v, v.c AS cp, 0::BIGINT AS cc
  FROM pairs p JOIN vals v ON v.day = p.prev_day
  UNION ALL
  SELECT p.day, v.v, 0::BIGINT, v.c
  FROM pairs p JOIN vals v ON v.day = p.day
),
grain AS (
  SELECT day, v, sum(cp)::BIGINT AS cp, sum(cc)::BIGINT AS cc
  FROM un GROUP BY 1, 2
),
cum AS (
  SELECT day,
         sum(cp) OVER (PARTITION BY day ORDER BY v) AS cum_p,
         sum(cc) OVER (PARTITION BY day ORDER BY v) AS cum_c
  FROM grain
),
meta AS (
  SELECT p.day, t.n AS n_prev, p.n_cur
  FROM pairs p JOIN tot t ON t.day = p.prev_day
)
SELECT c.day, m.n_prev, m.n_cur,
       round(max(abs(c.cum_p::DOUBLE / m.n_prev
                     - c.cum_c::DOUBLE / m.n_cur)), 6) AS ks
FROM cum c JOIN meta m USING (day)
GROUP BY 1, 2, 3 ORDER BY day
"""


@register("q144_ks_drift", _Q144_SQL)
def q144(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift between every pair of
    adjacent crawl days (operators/profiling.py ks_drift) over the
    document length distribution — the binning-free complement to PSI
    (q103/q112 family). Corpus collapses FIRST to (day, value, count)
    grain; one cumsum window per day pair gives both exact ECDFs at
    every observed value."""
    from soda_core_spark.operators.profiling import ks_drift

    d = _t(spark, sf_dir, "documents").select(
        F.date_format(
            F.date_add(F.lit("2026-01-01"), (F.col("doc_id") % 12).cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("n_chars").alias("score"),
    )
    return ks_drift(d, day_col="day", value_col="score")


# ---------------------------------------------------------------------------
# Order-insensitive (bag-of-words) duplicate classes
# (operators/dedup.py bag_fingerprint_classes)
# ---------------------------------------------------------------------------

_Q145_SQL = """
WITH fp AS (
  SELECT doc_id,
         -- coalesce: DuckDB's array_to_string([]) is NULL (Spark's
         -- array_join is ''); a NULL fingerprint class would vanish in
         -- the sm join below
         md5(coalesce(array_to_string(list_sort(list_filter(
             regexp_split_to_array(lower(coalesce(text, '')), '[ \t\n\r]+'),
             w -> w <> '')), ' '), '')) AS bag_fp
  FROM documents
),
cl AS (
  SELECT bag_fp, count(*)::BIGINT AS n_docs, min(doc_id) AS survivor_id
  FROM fp GROUP BY 1 HAVING count(*) >= 2
),
sm AS (
  SELECT bag_fp,
         array_to_string((list_sort(list(doc_id)))[1:20], ',') AS sample_ids
  FROM fp GROUP BY 1
)
SELECT cl.bag_fp, cl.n_docs, cl.survivor_id, sm.sample_ids
FROM cl JOIN sm USING (bag_fp)
ORDER BY bag_fp
"""


@register("q145_bag_dedup", _Q145_SQL)
def q145(spark, sf_dir):
    """Order-insensitive duplicate classes (operators/dedup.py
    bag_fingerprint_classes): md5 over the SORTED token multiset —
    catches shuffled-paragraph / reordered-template duplicates exact
    dedup misses. Pure expression fingerprint (zero Python), one
    partial-aggregated groupBy for class stats, map-side-limited
    window for the bounded id sample."""
    from soda_core_spark.operators.dedup import bag_fingerprint_classes

    d = _t(spark, sf_dir, "documents")
    out = bag_fingerprint_classes(d, min_class_size=2, max_ids=20)
    return out.select(
        "bag_fp",
        "n_docs",
        "survivor_id",
        F.array_join(
            F.transform(F.col("sample_ids"), lambda x: x.cast("string")), ","
        ).alias("sample_ids"),
    )


# ---------------------------------------------------------------------------
# Language-fair per-group threshold calibration
# (operators/calibration.py calibrate_group_thresholds)
# ---------------------------------------------------------------------------

_Q146_SQL = """
WITH s AS (
  SELECT lang AS "group", n_chars::DOUBLE AS v FROM documents
),
t AS (
  SELECT "group", round(quantile_cont(v, 0.1), 6) AS threshold,
         count(*)::BIGINT AS n
  FROM s GROUP BY 1
),
d AS (
  -- null-safe group join: the NULL group's rows must still meet their
  -- threshold row (mirrors the engine's eqNullSafe join)
  SELECT s."group", s.v < t.threshold AS bad
  FROM s JOIN t ON s."group" IS NOT DISTINCT FROM t."group"
)
SELECT t."group", t.threshold, t.n,
       coalesce(dd.n_dropped, 0)::BIGINT AS n_dropped,
       round(coalesce(dd.n_dropped, 0)::DOUBLE / t.n, 6) AS realized_drop
FROM t
LEFT JOIN (
  SELECT "group", sum(CASE WHEN bad THEN 1 ELSE 0 END)::BIGINT AS n_dropped
  FROM d GROUP BY 1
) dd ON t."group" IS NOT DISTINCT FROM dd."group"
ORDER BY t."group"
"""


@register("q146_group_calibration", _Q146_SQL)
def q146(spark, sf_dir):
    """Language-fair threshold calibration (operators/calibration.py
    calibrate_group_thresholds): per-language exact 10% quantile cut on
    document length plus each language's realized drop — the fix for
    global thresholds silently deleting whole languages whose signal
    distribution sits lower. Two grouped scans: one percentile agg,
    one broadcast-join + drop count."""
    from soda_core_spark.operators.calibration import (
        calibrate_group_thresholds,
    )

    d = _t(spark, sf_dir, "documents")
    return calibrate_group_thresholds(
        d, group_col="lang", signal_col="n_chars",
        direction="low", target_drop=0.1,
    )


# ---------------------------------------------------------------------------
# Fragment-chain reconstruction over overlapped chunks
# (operators/chunking.py chain_fragments)
# ---------------------------------------------------------------------------

_Q147_SQL = """
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text, ''),
                                           '[ \t\n\r]+'),
                     x -> x <> '') AS wds
  FROM documents
),
n AS (
  SELECT doc_id, wds, len(wds) AS kk,
         CASE WHEN len(wds) <= 0 THEN 0
              WHEN len(wds) <= 64 THEN 1
              ELSE 1 + (len(wds) - 64 + 47) // 48 END AS n_chunks
  FROM w
),
frag AS (
  SELECT doc_id * 100 + chunk_idx AS fid,
         wds[chunk_idx * 48 + 1 : chunk_idx * 48 + 64] AS cw
  FROM (SELECT doc_id, wds, unnest(range(n_chunks)) AS chunk_idx
        FROM n WHERE n_chunks > 0)
),
ends AS (
  SELECT fid,
         md5(array_to_string(cw[1:16], ' ')) AS h,
         md5(array_to_string(cw[len(cw) - 15 : len(cw)], ' ')) AS t
  FROM frag WHERE len(cw) >= 16
),
tails AS (
  SELECT fid AS prev_id, t AS fp FROM ends
  WHERE t IN (SELECT t FROM ends GROUP BY t HAVING count(*) <= 64)
),
heads AS (
  SELECT fid AS next_id, h AS fp FROM ends
  WHERE h IN (SELECT h FROM ends GROUP BY h HAVING count(*) <= 64)
)
SELECT tails.prev_id, heads.next_id, tails.fp AS boundary_fp
FROM tails JOIN heads USING (fp)
WHERE tails.prev_id <> heads.next_id
ORDER BY prev_id, next_id
"""


@register("q147_fragment_chains", _Q147_SQL)
def q147(spark, sf_dir):
    """Fragment-chain reconstruction (operators/chunking.py
    chain_fragments): chunk every document into 64-token windows with
    16-token overlap (the q41 splitter), then recover adjacency purely
    from the boundary fingerprints — the LAST 16 tokens of window i
    md5-equal the FIRST 16 of window i+1. The inverse of
    overlap-chunking; hot boundary fps (>64 fragments) are capped out
    before the equi-join, exactly like the LSH band caps."""
    from soda_core_spark.operators.chunking import (
        chain_fragments,
        chunk_documents,
    )

    d = _t(spark, sf_dir, "documents")
    frags = chunk_documents(d, chunk_size=64, stride=48).select(
        (F.col("doc_id") * 100 + F.col("chunk_idx")).alias("fid"),
        F.col("chunk_text"),
    )
    return chain_fragments(
        frags, id_col="fid", text_col="chunk_text", k=16, max_fp_docs=64
    )


# ---------------------------------------------------------------------------
# Per-source Gini inequality of document sizes (operators/profiling.py
# group_gini)
# ---------------------------------------------------------------------------

_Q148_SQL = """
WITH vals AS (
  SELECT source AS "group", n_chars::DOUBLE AS v, count(*)::BIGINT AS c
  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0
  GROUP BY 1, 2
),
ranked AS (
  SELECT "group", v, c,
         sum(c) OVER (PARTITION BY "group" ORDER BY v) - c AS cum_before
  FROM vals
),
agg AS (
  SELECT "group",
         sum(c)::BIGINT AS n,
         sum(v * c) AS total,
         sum(v * (c::DOUBLE * (cum_before::DOUBLE + (c::DOUBLE + 1) / 2)))
           AS s
  FROM ranked GROUP BY 1
)
SELECT "group", n, round(total, 6) AS total,
       round(CASE WHEN total > 0 THEN 2 * s / (n * total) - (n + 1.0) / n
             ELSE 0.0 END, 6) AS gini
FROM agg ORDER BY "group"
"""


@register("q148_group_gini", _Q148_SQL)
def q148(spark, sf_dir):
    """Exact tie-aware Gini coefficient of document length per source
    (operators/profiling.py group_gini) — the within-group inequality
    scalar complementing HHI's between-group concentration (q127). A
    source whose token mass sits in one mega-page samples and dedups
    nothing like an even one. Value-grain collapse first; one bounded
    cumsum window per group; rank formula equals the all-pairs
    |x_i - x_j| definition under average-rank ties."""
    from soda_core_spark.operators.profiling import group_gini

    d = _t(spark, sf_dir, "documents")
    return group_gini(d, group_col="source", value_col="n_chars")


# ---------------------------------------------------------------------------
# Manual-review sample planning: Wilson intervals + audit budget
# (operators/sampling.py review_sample_plan)
# ---------------------------------------------------------------------------

_Q149_SQL = """
WITH g AS (
  SELECT source AS "group",
         count(*)::BIGINT AS n,
         sum(CASE WHEN coalesce(n_chars < 200, false)
                  THEN 1 ELSE 0 END)::BIGINT AS k
  FROM documents GROUP BY 1
),
e AS (
  SELECT "group", n, k,
         k::DOUBLE / n::DOUBLE AS p,
         1.0 + (1.96 * 1.96) / n::DOUBLE AS denom
  FROM g
),
w AS (
  SELECT "group", n, k, p,
         (p + (1.96 * 1.96) / (2.0 * n::DOUBLE)) / denom AS center,
         1.96 / denom
           * sqrt(p * (1.0 - p) / n::DOUBLE
                  + (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE)) AS half
  FROM e
)
SELECT "group", n, k,
       round(p, 6) AS rate,
       round(greatest(center - half, 0.0), 6) AS wilson_lo,
       round(least(center + half, 1.0), 6) AS wilson_hi,
       ceil((1.96 * 1.96) * p * (1.0 - p) / (0.02 * 0.02))::BIGINT
         AS n_required
FROM w ORDER BY "group"
"""


@register("q149_review_sample_plan", _Q149_SQL)
def q149(spark, sf_dir):
    """Per-source manual-review planning (operators/sampling.py
    review_sample_plan): the Wilson score interval around each source's
    too-short-document rate plus the audit sample size needed to pin it
    to a 2% margin at 95% confidence. The governance layer above
    failed-rows sampling — a check result without its uncertainty can't
    gate a shipping decision, and Wilson stays honest at small n / p
    near 0 where Wald collapses. One partial-aggregated groupBy; all
    interval math on the |sources|-row frame."""
    from soda_core_spark.operators.sampling import review_sample_plan

    d = _t(spark, sf_dir, "documents")
    return review_sample_plan(
        d, group_col="source", flag=F.col("n_chars") < 200
    )


# ---------------------------------------------------------------------------
# Neyman-optimal audit-budget allocation across sources
# (operators/sampling.py neyman_allocation)
# ---------------------------------------------------------------------------

_Q150_SQL = """
WITH g AS (
  SELECT source AS "group",
         count(*)::BIGINT AS n_rows,
         coalesce(stddev_samp(n_chars::DOUBLE), 0.0) AS sd
  FROM documents WHERE n_chars IS NOT NULL
  GROUP BY 1
),
t AS (SELECT sum(n_rows::DOUBLE * sd) AS tot FROM g)
SELECT "group", n_rows,
       round(sd, 6) AS sd,
       round(CASE WHEN tot > 0 THEN n_rows::DOUBLE * sd / tot
             ELSE 0.0 END, 6) AS weight,
       round(CASE WHEN tot > 0 THEN 1000.0 * (n_rows::DOUBLE * sd) / tot
             ELSE 0.0 END, 6) AS alloc_raw,
       least(floor(CASE WHEN tot > 0
                        THEN 1000.0 * (n_rows::DOUBLE * sd) / tot
                        ELSE 0.0 END)::BIGINT, n_rows) AS alloc
FROM g CROSS JOIN t ORDER BY "group"
"""


@register("q150_neyman_allocation", _Q150_SQL)
def q150(spark, sf_dir):
    """Neyman-optimal split of a 1000-doc audit budget across sources
    (operators/sampling.py neyman_allocation): stratum h receives
    budget * N_h*S_h / sum N_g*S_g — the minimum-variance allocation
    for the stratified mean of document length. Complements q149
    (per-group Wilson sizing in isolation) with the one-budget
    cross-group trade-off. One grouped scan to |sources| rows; the
    normalizer is a broadcast single-row aggregate."""
    from soda_core_spark.operators.sampling import neyman_allocation

    d = _t(spark, sf_dir, "documents")
    return neyman_allocation(
        d, group_col="source", value_col="n_chars", budget=1000
    )


# ---------------------------------------------------------------------------
# Token-budget Pareto curve over an alpha-ratio quality score
# (operators/calibration.py token_budget_curve)
# ---------------------------------------------------------------------------

_Q151_SQL = """
WITH scored AS (
  SELECT round(length(regexp_replace(coalesce(text, ''),
                                     '[^a-zA-Z]', '', 'g'))::DOUBLE
               / greatest(length(coalesce(text, '')), 1), 3) AS score,
         len(list_filter(regexp_split_to_array(coalesce(text, ''),
                                               '[ \t\n\r]+'),
                         x -> x <> ''))::BIGINT AS t
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT score, count(*)::BIGINT AS docs, sum(t)::BIGINT AS tokens
  FROM scored GROUP BY 1
)
SELECT score, docs, tokens,
       sum(docs) OVER w::BIGINT AS cum_docs,
       sum(tokens) OVER w::BIGINT AS cum_tokens,
       (sum(tokens) OVER w <= 500000) AS within_budget
FROM g
WINDOW w AS (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY score DESC
"""


@register("q151_token_budget_curve", _Q151_SQL)
def q151(spark, sf_dir):
    """Token-budget Pareto curve (operators/calibration.py
    token_budget_curve): corpus collapsed to alpha-ratio score grains
    (3 dp), cumulative docs/tokens walking from best score down, with
    the 500k-token-affordable prefix flagged. The budget-first dual of
    q123/q146 threshold calibration: pick the keep cutoff from the
    token budget instead of a target drop rate. One grouped scan; the
    cumsum window only ever sees the ≤1001-row grain frame."""
    from soda_core_spark.operators.calibration import token_budget_curve

    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    score = F.length(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), "[^a-zA-Z]", "")
    ).cast("double") / F.greatest(
        F.length(F.coalesce(F.col("text"), F.lit(""))), F.lit(1)
    )
    toks = F.size(words_col(F.coalesce(F.col("text"), F.lit(""))))
    return token_budget_curve(d, score, toks, budget=500_000, precision=3)


# ---------------------------------------------------------------------------
# Hill tail-index of the per-user activity distribution
# (operators/profiling.py hill_tail_index)
# ---------------------------------------------------------------------------

_Q152_SQL = """
WITH sizes AS (
  SELECT user_id AS key, count(*)::BIGINT AS sz
  FROM events GROUP BY 1
),
ng AS (SELECT count(*)::BIGINT AS n_groups FROM sizes),
top AS (
  SELECT sz::DOUBLE AS x,
         row_number() OVER (ORDER BY sz DESC, key ASC) AS rn
  FROM sizes ORDER BY sz DESC, key ASC LIMIT 51
),
agg AS (
  SELECT max(CASE WHEN rn = 51 THEN x END) AS x_k1,
         sum(CASE WHEN rn <= 50 THEN ln(x) END) AS sumlog,
         count(CASE WHEN rn <= 50 THEN 1 END) AS k_seen
  FROM top
)
SELECT n_groups, 50::BIGINT AS k, x_k1::BIGINT AS x_k1,
       round(CASE WHEN k_seen = 50 AND x_k1 > 0
             THEN sumlog / 50.0 - ln(x_k1) END, 6) AS inv_alpha,
       round(CASE WHEN k_seen = 50 AND x_k1 > 0
                   AND sumlog / 50.0 - ln(x_k1) > 0
             THEN 1.0 / (sumlog / 50.0 - ln(x_k1)) END, 6) AS alpha
FROM agg CROSS JOIN ng
"""


@register("q152_hill_tail_index", _Q152_SQL)
def q152(spark, sf_dir):
    """Hill tail-exponent of per-user event counts (operators/
    profiling.py hill_tail_index, k=50): the asymptotic power-law
    heaviness behind the salting decision — alpha ≤ 1 means the top
    key dominates at ANY scale, alpha > 2 means plain hash
    partitioning holds. One grouped collapse to |users| size rows,
    then TakeOrderedAndProject ships k+1 rows total; never a global
    sort."""
    from soda_core_spark.operators.profiling import hill_tail_index

    d = _t(spark, sf_dir, "events")
    return hill_tail_index(d, key_col="user_id", k=50)


# ---------------------------------------------------------------------------
# Between-centroid label separation audit
# (functions/embeddings_qc.py centroid_separation)
# ---------------------------------------------------------------------------

_Q153_SQL = """
WITH ex AS (
  SELECT label AS g,
         unnest(embedding) AS x,
         unnest(generate_series(1, len(embedding))) AS ord
  FROM embeddings WHERE embedding IS NOT NULL
),
cent AS (
  SELECT g, ord, round(avg(x::DOUBLE), 12) AS c
  FROM ex GROUP BY 1, 2
),
norms AS (
  SELECT g, sqrt(sum(c * c)) AS n FROM cent GROUP BY 1
),
dots AS (
  SELECT a.g AS g1, b.g AS g2, sum(a.c * b.c) AS dot
  FROM cent a JOIN cent b ON a.ord = b.ord AND a.g < b.g
  GROUP BY 1, 2
)
SELECT g1, g2,
       CASE WHEN n1.n > 0 AND n2.n > 0
            THEN round(dot / (n1.n * n2.n), 6) END AS cos,
       CASE WHEN n1.n > 0 AND n2.n > 0
            THEN round(dot / (n1.n * n2.n), 6) >= 0.95 END AS confusable
FROM dots
JOIN norms n1 ON n1.g = dots.g1
JOIN norms n2 ON n2.g = dots.g2
ORDER BY g1, g2
"""


@register("q153_centroid_separation", _Q153_SQL)
def q153(spark, sf_dir):
    """Between-centroid label separation (functions/embeddings_qc.py
    centroid_separation): pairwise cosine between label centroids,
    flagging confusable pairs at 0.95 — the between-group dual of
    q114's within-group coherence. Corpus collapses once to the
    |labels|·dims centroid frame; all quadratic work stays on that
    tiny frame with broadcast norm joins."""
    from soda_core_spark.functions.embeddings_qc import (
        centroid_separation,
    )

    e = _t(spark, sf_dir, "embeddings")
    return centroid_separation(
        e, vec_col="embedding", group_col="label", threshold=0.95
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources
# (operators/profiling.py burrows_delta)
# ---------------------------------------------------------------------------

_Q154_SQL = """
WITH gt AS (
  SELECT source AS g, tok, count(*)::BIGINT AS c
  FROM (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(
                    lower(coalesce(text, '')), '[ \t\n\r]+'),
                  x -> x <> '')) AS tok
    FROM documents
  ) GROUP BY 1, 2
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, sum(c) AS tc FROM gt GROUP BY 1
  ) ORDER BY tc DESC, tok LIMIT 50
),
totals AS (SELECT g, sum(c) AS t FROM gt GROUP BY 1),
grid AS (
  SELECT totals.g, vocab.tok,
         coalesce(gt.c, 0)::DOUBLE / totals.t::DOUBLE AS f
  FROM totals CROSS JOIN vocab
  LEFT JOIN gt ON gt.g = totals.g AND gt.tok = vocab.tok
),
stats AS (
  SELECT tok, avg(f) AS m, stddev_samp(f) AS s FROM grid GROUP BY 1
),
z AS (
  SELECT g, grid.tok,
         round(CASE WHEN s > 0 THEN (f - m) / s END, 12) AS z
  FROM grid JOIN stats ON grid.tok = stats.tok
)
SELECT a.g AS g1, b.g AS g2,
       count(abs(a.z - b.z))::BIGINT AS n_terms,
       round(avg(abs(a.z - b.z)), 6) AS delta
FROM z a JOIN z b ON a.tok = b.tok AND a.g < b.g
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("q154_burrows_delta", _Q154_SQL)
def q154(spark, sf_dir):
    """Burrows' Delta between sources (operators/profiling.py
    burrows_delta, top 50 words): z-normalized function-word
    frequencies scored pairwise by mean |z_a - z_b| — STYLE distance
    where q135's JSD reads topic; the stylometric mirror/template
    detector. One corpus-wide (source, token) groupBy; the z-grid and
    pair join run on the |sources|·50 frame."""
    from soda_core_spark.operators.profiling import burrows_delta

    d = _t(spark, sf_dir, "documents")
    return burrows_delta(d, group_col="source", text_col="text", top_k=50)


# ---------------------------------------------------------------------------
# Pairwise rule-overlap / redundancy matrix (operators/attribution.py)
# ---------------------------------------------------------------------------


def _q155_sql() -> str:
    feats = _signal_feats_sql()
    flags = {
        "min_chars": "length(coalesce(text, '')) < 200",
        "low_stopword": f"({feats['stopword_density']}) < 0.10",
        "low_alnum": f"({feats['alnum_ratio']}) < 0.815",
        "high_repetition": f"({feats['bigram_repetition']}) > 0.08",
    }
    names = list(flags)
    cols = ", ".join(
        f"CASE WHEN {expr} THEN 1 ELSE 0 END AS f_{n}"
        for n, expr in flags.items()
    )
    sums = ", ".join(f"sum(f_{n})::BIGINT AS s_{n}" for n in names)
    both = ", ".join(
        f"sum(f_{a} * f_{b})::BIGINT AS b_{a}__{b}"
        for i, a in enumerate(names)
        for b in names[i + 1:]
    )
    rows = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            rows.append(f"""
  SELECT '{a}' AS rule_a, '{b}' AS rule_b,
         s_{a} AS n_a, s_{b} AS n_b, b_{a}__{b} AS n_both,
         round(CASE WHEN s_{a} + s_{b} - b_{a}__{b} > 0
               THEN b_{a}__{b}::DOUBLE / (s_{a} + s_{b} - b_{a}__{b})
               ELSE 0.0 END, 6) AS jaccard,
         round(CASE WHEN s_{a} > 0 AND s_{b} > 0
               THEN (b_{a}__{b}::DOUBLE / nd)
                    / ((s_{a}::DOUBLE / nd) * (s_{b}::DOUBLE / nd))
               END, 6) AS lift
  FROM agg""")
    union = "\n  UNION ALL\n".join(rows)
    return (
        f"WITH f AS (SELECT {cols} FROM documents),\n"
        f"agg AS (SELECT greatest(count(*), 1)::DOUBLE AS nd,\n"
        f"        {sums}, {both} FROM f)\n{union}"
    )


@register("q155_rule_overlap", _q155_sql())
def q155(spark, sf_dir):
    """Pairwise rule-overlap / redundancy matrix (operators/attribution.py
    rule_overlap): for every unordered pair of the q97 rule set —
    failure counts, co-failure count, Jaccard of the failure sets, and
    lift vs independence. jaccard near 1 marks an interchangeable rule
    (prune it); high lift with low jaccard marks co-firing on a shared
    pathology with distinct coverage. Same execution contract as q97:
    ONE partial aggregation collapses the corpus to a single counter
    row (k + k(k-1)/2 sums); inline() unpivots pairs from that row —
    pair count widens the aggregate, never multiplies corpus passes.
    soda-core analogue: cross-check correlation a contract author reads
    off contract_verification_result failed-counts by hand."""
    from soda_core_spark.functions.text import (
        alnum_ratio,
        bigram_repetition,
        stopword_density,
    )
    from soda_core_spark.operators.attribution import rule_overlap

    d = _t(spark, sf_dir, "documents")
    text = F.col("text")
    w = words_col(text)
    rules = {
        "min_chars": F.length(F.coalesce(text, F.lit(""))) < 200,
        "low_stopword": stopword_density(w) < 0.10,
        "low_alnum": alnum_ratio(text) < 0.815,
        "high_repetition": bigram_repetition(w) > 0.08,
    }
    return rule_overlap(d, rules)


# ---------------------------------------------------------------------------
# Exact phi-heavy-hitter tokens via mergeable Misra-Gries summaries
# (operators/profiling.py heavy_hitter_tokens)
# ---------------------------------------------------------------------------

_Q156_SQL = """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(
           lower(coalesce(text, '')), '[ \t\n\r]+'),
         x -> x <> '')) AS token
  FROM documents
),
tot AS (SELECT count(*)::DOUBLE AS n_total FROM toks)
SELECT token, count(*)::BIGINT AS n,
       round(count(*)::DOUBLE / n_total, 6) AS freq
FROM toks, tot
GROUP BY token, n_total
HAVING count(*) > 0.003 * n_total
ORDER BY n DESC, token
"""


@register("q156_heavy_hitters", _Q156_SQL)
def q156(spark, sf_dir):
    """Exact phi-heavy-hitter tokens (operators/profiling.py
    heavy_hitter_tokens, phi=0.003): every token above 0.3% corpus
    frequency with its exact count. The oracle is the full groupBy +
    HAVING; the Spark path earns its keep at scale — a per-partition
    Misra-Gries summary (mergeable-summaries batch merge) yields a
    guaranteed candidate superset of <= partitions*ceil(1/phi) tokens,
    and the exact recount broadcast-filters the explode BEFORE the
    exchange, so the shuffle carries heavy candidates only instead of
    the web-scale heavy-tail vocabulary. Output is exact and
    partitioning-independent, so both engines agree bit-for-bit."""
    from soda_core_spark.operators.profiling import heavy_hitter_tokens

    d = _t(spark, sf_dir, "documents")
    return heavy_hitter_tokens(d, phi=0.003)


# ---------------------------------------------------------------------------
# SoftDedup inverse-frequency training weights (operators/dedup.py
# soft_dedup_weights)
# ---------------------------------------------------------------------------

_Q157_SQL = """
WITH base AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(coalesce(text, '')),
                                  '[ \t\n\r]+', ' ', 'g'))) AS fp,
         (len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))
          + length(regexp_replace(coalesce(text, ''),
                                  '[A-Za-z0-9 \t\n\r]', '', 'g')))::BIGINT
           AS n_tokens
  FROM documents
),
counts AS (
  SELECT fp, count(*)::BIGINT AS n_copies FROM base GROUP BY fp
)
SELECT b.doc_id,
       c.n_copies,
       round(1.0::DOUBLE / c.n_copies, 6) AS weight,
       b.n_tokens,
       round(b.n_tokens::DOUBLE / c.n_copies, 6) AS effective_tokens
FROM base b JOIN counts c USING (fp)
"""


@register("q157_soft_dedup_weights", _Q157_SQL)
def q157(spark, sf_dir):
    """SoftDedup-style inverse-duplicate-frequency training weights
    (operators/dedup.py soft_dedup_weights): every document kept, each
    weighted 1/n_copies of its exact-duplicate class, plus the
    dedup-adjusted effective token contribution. The keep-and-reweight
    counterpart to q11's drop-side exact dedup — same fingerprint, same
    single map-side-combined groupBy, one AQE-skew-splittable join back
    (no count-over-window, which would materialize a viral duplicate
    class inside one task)."""
    from soda_core_spark.operators.dedup import soft_dedup_weights

    d = _t(spark, sf_dir, "documents")
    return soft_dedup_weights(d)


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of quality signals (operators/retrieval.py
# rank_fusion)
# ---------------------------------------------------------------------------

def _q158_sql() -> str:
    feats = _signal_feats_sql()
    sigs = {
        "stopword": feats["stopword_density"],
        "alnum": feats["alnum_ratio"],
        "neg_repetition": f"-({feats['bigram_repetition']})",
        "log_chars": feats["log_chars"],
    }
    longs = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, '{n}' AS signal, ({e})::DOUBLE AS value"
        f" FROM documents"
        for n, e in sigs.items()
    )
    ranks = ", ".join(
        f"max(CASE WHEN signal = '{n}' THEN rnk END)::BIGINT AS rank_{n}"
        for n in sigs
    )
    return f"""
WITH long AS (
{longs}
),
r AS (
  SELECT doc_id, signal,
         rank() OVER (PARTITION BY signal ORDER BY value DESC) AS rnk
  FROM long
)
SELECT doc_id,
       {ranks},
       sum(floor(1e12 / (60 + rnk)))::BIGINT AS rrf_micro,
       round(sum(floor(1e12 / (60 + rnk))) / 1e12, 6) AS rrf_score
FROM r GROUP BY doc_id
"""


@register("q158_rank_fusion", _q158_sql())
def q158(spark, sf_dir):
    """Reciprocal-rank fusion (operators/retrieval.py rank_fusion,
    k=60) of four heterogeneous quality signals — stopword density,
    alphanumeric ratio, negated bigram repetition, capped log length —
    into one calibration-free curation score. Exact competition ranks
    come from the two-stage bucketed rank (distinct-value counts →
    bucket offsets → within-bucket windows), never a global
    single-partition window; the fused score is an order-insensitive
    integer sum so both engines agree bit-for-bit."""
    from soda_core_spark.functions.classifier import quality_features
    from soda_core_spark.operators.retrieval import rank_fusion

    d = _t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return rank_fusion(
        d,
        {
            "stopword": feats["stopword_density"],
            "alnum": feats["alnum_ratio"],
            "neg_repetition": -feats["bigram_repetition"],
            "log_chars": feats["log_chars"],
        },
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary-growth fit (operators/profiling.py heaps_law_fit)
# ---------------------------------------------------------------------------

_Q159_SQL = """
WITH toks AS (
  SELECT floor((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT * 64)
               / 4294967296.0)::BIGINT AS b,
         unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                  '[ \t\n\r]+'),
                x -> x <> '')) AS tok
  FROM documents
),
n_b AS (SELECT b, count(*)::BIGINT AS n FROM toks GROUP BY b),
v_b AS (
  SELECT fb AS b, count(*)::BIGINT AS v
  FROM (SELECT tok, min(b) AS fb FROM toks GROUP BY tok)
  GROUP BY fb
),
curve AS (
  SELECT sum(coalesce(n, 0)) OVER (ORDER BY b) AS n_cum,
         sum(coalesce(v, 0)) OVER (ORDER BY b) AS v_cum
  FROM n_b FULL JOIN v_b USING (b)
),
pts AS (
  SELECT ln(n_cum::DOUBLE) AS x, ln(v_cum::DOUBLE) AS y, n_cum, v_cum
  FROM curve WHERE n_cum > 0 AND v_cum > 0
),
fit AS (
  SELECT count(*)::BIGINT AS n_points,
         max(n_cum)::BIGINT AS n_tokens,
         max(v_cum)::BIGINT AS vocabulary,
         covar_pop(y, x) AS cxy, var_pop(x) AS vx, var_pop(y) AS vy,
         avg(x) AS mx, avg(y) AS my
  FROM pts
)
SELECT n_points, n_tokens, vocabulary,
       round(CASE WHEN vx > 0 THEN cxy / vx END, 6) AS heaps_beta,
       round(CASE WHEN vx > 0 THEN exp(my - (cxy / vx) * mx) END, 6)
         AS heaps_k,
       round(CASE WHEN vx > 0 AND vy > 0
             THEN cxy * cxy / (vx * vy) END, 6) AS heaps_r2
FROM fit
"""


@register("q159_heaps_law", _Q159_SQL)
def q159(spark, sf_dir):
    """Heaps'-law vocabulary-growth exponent (operators/profiling.py
    heaps_law_fit, 64 hash-order buckets): V(n) ~ K n^beta fitted over
    cumulative (tokens, distinct vocabulary) at md5-prefix cut points.
    beta near 1 = token-minting pathology (mojibake/IDs/traps), near 0
    = closed template vocabulary; pairs with q112's Zipf slope as the
    corpus-shape tripwire. Vocabulary is counted where FIRST seen (min
    bucket per token), so the inherently-sequential prefix-distinct
    curve becomes two parallel aggregates and the windows touch only
    the 64-row summary."""
    from soda_core_spark.operators.profiling import heaps_law_fit

    d = _t(spark, sf_dir, "documents")
    return heaps_law_fit(d, buckets=64)


# ---------------------------------------------------------------------------
# Poisson-bootstrap rule-rate uncertainty (operators/attribution.py
# poisson_bootstrap_rates)
# ---------------------------------------------------------------------------

def _q160_sql() -> str:
    from soda_core_spark.operators.attribution import POISSON1_CDF

    feats = _signal_feats_sql()
    flags = {
        "min_chars": "length(coalesce(text, '')) < 200",
        "low_stopword": f"({feats['stopword_density']}) < 0.10",
        "low_alnum": f"({feats['alnum_ratio']}) < 0.815",
        "high_repetition": f"({feats['bigram_repetition']}) > 0.08",
    }
    names = list(flags)
    fcols = ", ".join(
        f"CASE WHEN {e} THEN 1 ELSE 0 END AS f_{n}" for n, e in flags.items()
    )
    u = ("(('0x' || substr(md5(id || ':' || r::VARCHAR), 1, 8))::BIGINT"
         " / 4294967296.0)")
    pois = "CASE " + " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(POISSON1_CDF)
    ) + " ELSE 8 END"
    sums = ", ".join(f"sum(w * f_{n})::BIGINT AS s_{n}" for n in names)
    longs = "\n  UNION ALL\n".join(
        f"  SELECT r, sw, n, '{n}' AS flag, s_{n} AS s FROM agg"
        for n in names
    )
    return f"""
WITH f AS (
  SELECT doc_id::VARCHAR AS id, {fcols} FROM documents
),
w AS (
  SELECT r, CASE WHEN r < 0 THEN 1 ELSE {pois} END AS w, f.*
  FROM f CROSS JOIN (SELECT unnest(range(-1, 64)) AS r) reps
),
agg AS (
  SELECT r, sum(w)::BIGINT AS sw, count(*)::BIGINT AS n, {sums}
  FROM w GROUP BY r
),
long AS (
{longs}
),
rated AS (
  SELECT r, n, flag,
         CASE WHEN sw > 0 THEN s::DOUBLE / sw END AS rate
  FROM long
),
point AS (
  SELECT flag, n AS n_docs, rate AS pt FROM rated WHERE r < 0
),
boots AS (
  SELECT flag, stddev_samp(rate) AS se, count(*)::INT AS n_replicates
  FROM rated WHERE r >= 0 GROUP BY flag
)
SELECT p.flag, p.n_docs,
       round(p.pt, 6) AS rate,
       round(b.se, 6) AS boot_se,
       round(greatest(0.0, p.pt - 1.959963984540054 * b.se), 6) AS ci_lo,
       round(least(1.0, p.pt + 1.959963984540054 * b.se), 6) AS ci_hi,
       b.n_replicates
FROM point p JOIN boots b USING (flag)
ORDER BY flag
"""


@register("q160_bootstrap_rates", _q160_sql())
def q160(spark, sf_dir):
    """Poisson-bootstrap SEs and 95% CIs for the q97/q155 rule
    fail-rates (operators/attribution.py poisson_bootstrap_rates,
    R=64): deterministic md5-seeded Poisson(1) weights approximate
    with-replacement resampling in ONE corpus pass — the point estimate
    rides the same aggregate as the 64 replicates (r=-1, weight 1), all
    counter sums are exact integers, and the shuffle carries only
    partitions x 65 partial counter rows. The uncertainty surface
    soda-core's point-metric checks lack."""
    from soda_core_spark.functions.text import (
        alnum_ratio,
        bigram_repetition,
        stopword_density,
    )
    from soda_core_spark.operators.attribution import poisson_bootstrap_rates

    d = _t(spark, sf_dir, "documents")
    text = F.col("text")
    w = words_col(text)
    return poisson_bootstrap_rates(
        d,
        {
            "min_chars": F.length(F.coalesce(text, F.lit(""))) < 200,
            "low_stopword": stopword_density(w) < 0.10,
            "low_alnum": alnum_ratio(text) < 0.815,
            "high_repetition": bigram_repetition(w) > 0.08,
        },
        replicates=64,
    )


# ---------------------------------------------------------------------------
# Embedding-space anisotropy (functions/embeddings_qc.py
# embedding_anisotropy)
# ---------------------------------------------------------------------------

# range(1, 65): the oracle pins the test table's dim=64 (the Spark
# operator reads each row's actual size)
_Q161_SQL = """
WITH base AS (
  SELECT embedding::DOUBLE[] AS e,
         CASE WHEN embedding IS NOT NULL THEN
           sqrt(list_reduce(
             list_transform(embedding::DOUBLE[], x -> x * x),
             (x, y) -> x + y))
         END AS nrm
  FROM embeddings
),
stats AS (
  SELECT sum(CASE WHEN nrm > 0 THEN 1 ELSE 0 END)::BIGINT AS n_vectors,
         max(CASE WHEN nrm > 0 THEN len(e) END)::INT AS dim,
         sum(CASE WHEN nrm > 0 THEN 0 ELSE 1 END)::BIGINT AS n_degenerate,
         round(avg(CASE WHEN nrm > 0 THEN nrm END), 6) AS mean_norm
  FROM base
),
q AS (
  SELECT list_transform(e, x -> round(x / nrm * 1000000000.0)::BIGINT) AS qv
  FROM base WHERE nrm > 0
),
ex AS (
  SELECT j, qv[j] AS x
  FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS j) r
),
dims AS (
  SELECT j, sum(x)::BIGINT AS s, sum(x::DOUBLE * x::DOUBLE) AS qq
  FROM ex GROUP BY j
),
tot AS (SELECT sum(s::DOUBLE * s::DOUBLE) AS s2, sum(qq) AS qsum FROM dims)
SELECT n_vectors, dim, n_degenerate, mean_norm,
       round(CASE WHEN n_vectors >= 2 THEN
             (s2 - qsum)
             / (n_vectors * (n_vectors - 1))::DOUBLE / 1e18 END, 6)
         AS anisotropy
FROM stats CROSS JOIN tot
"""


@register("q161_anisotropy", _Q161_SQL)
def q161(spark, sf_dir):
    """Embedding-space anisotropy (functions/embeddings_qc.py
    embedding_anisotropy): mean pairwise cosine across ALL unit
    vectors, computed WITHOUT a pairwise join via
    ||sum v̂||² - n over n(n-1) — two corpus scans, a dims-wide integer
    shuffle, nothing O(n²). The encoder-collapse tripwire every cosine
    threshold downstream silently depends on."""
    from soda_core_spark.functions.embeddings_qc import embedding_anisotropy

    e = _t(spark, sf_dir, "embeddings")
    return embedding_anisotropy(e)


# ---------------------------------------------------------------------------
# Good-Turing / Chao1 vocabulary coverage (operators/profiling.py
# vocabulary_coverage)
# ---------------------------------------------------------------------------

_Q162_SQL = """
WITH toks AS (
  SELECT source AS "group",
         unnest(list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> ''))
           AS word
  FROM documents
),
pw AS (SELECT "group", word, count(*)::BIGINT AS freq FROM toks GROUP BY 1, 2),
st AS (
  SELECT "group",
         sum(freq)::BIGINT AS n_tokens,
         count(*)::BIGINT AS vocab_size,
         sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
  FROM pw GROUP BY 1
),
g AS (SELECT DISTINCT source AS "group" FROM documents)
SELECT g."group",
       coalesce(st.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(st.vocab_size, 0)::BIGINT AS vocab_size,
       coalesce(st.n1, 0)::BIGINT AS n1,
       coalesce(st.n2, 0)::BIGINT AS n2,
       round(CASE WHEN coalesce(st.n_tokens, 0) > 0
             THEN coalesce(st.n1, 0)::DOUBLE / st.n_tokens END, 6)
         AS unseen_mass,
       round(CASE WHEN coalesce(st.n_tokens, 0) > 0
             THEN 1.0 - coalesce(st.n1, 0)::DOUBLE / st.n_tokens END, 6)
         AS coverage,
       round(CASE WHEN coalesce(st.vocab_size, 0) > 0
             THEN st.vocab_size::DOUBLE
                  + (st.n1 * (st.n1 - 1))::DOUBLE
                    / (2.0 * (st.n2 + 1)::DOUBLE) END, 6) AS chao1
FROM g LEFT JOIN st USING ("group")
ORDER BY g."group"
"""


@register("q162_vocab_coverage", _Q162_SQL)
def q162(spark, sf_dir):
    """Good-Turing unseen-vocabulary mass and bias-corrected Chao1
    richness per source (operators/profiling.py vocabulary_coverage) —
    the crawl-completeness read over q142's observational counts: P0 =
    n1/N estimates the probability the next token is a never-seen type,
    Chao1 lower-bounds the source's true vocabulary. One vocabulary
    groupBy, then a 4-counter per-group reduce."""
    from soda_core_spark.operators.profiling import vocabulary_coverage

    d = _t(spark, sf_dir, "documents")
    return vocabulary_coverage(d)


# ---------------------------------------------------------------------------
# Winsorized / trimmed robust per-source stats (operators/profiling.py
# winsorized_stats)
# ---------------------------------------------------------------------------

_Q163_SQL = """
WITH base AS (
  SELECT source AS "group", n_chars::DOUBLE AS v
  FROM documents
  WHERE n_chars IS NOT NULL AND NOT isnan(n_chars::DOUBLE)
),
bounds AS (
  SELECT "group", count(*)::BIGINT AS n, avg(v) AS mean_raw,
         quantile_cont(v, 0.05) AS lo, quantile_cont(v, 0.95) AS hi
  FROM base GROUP BY 1
),
robust AS (
  SELECT b."group",
         avg(least(greatest(base.v, b.lo), b.hi)) AS wmean,
         stddev_samp(least(greatest(base.v, b.lo), b.hi)) AS wstd,
         avg(CASE WHEN base.v BETWEEN b.lo AND b.hi THEN base.v END)
           AS tmean,
         sum(CASE WHEN base.v BETWEEN b.lo AND b.hi THEN 0 ELSE 1 END)
           ::BIGINT AS n_trimmed
  FROM base JOIN bounds b USING ("group") GROUP BY 1
)
SELECT b."group", b.n,
       round(b.mean_raw, 6) AS mean,
       round(b.lo, 6) AS p_lo,
       round(b.hi, 6) AS p_hi,
       round(r.wmean, 6) AS winsorized_mean,
       round(r.wstd, 6) AS winsorized_std,
       round(r.tmean, 6) AS trimmed_mean,
       r.n_trimmed
FROM bounds b JOIN robust r USING ("group")
ORDER BY b."group"
"""


@register("q163_winsorized_stats", _Q163_SQL)
def q163(spark, sf_dir):
    """Winsorized and trimmed per-source document-length stats
    (operators/profiling.py winsorized_stats, 5%/95% clip): the
    outlier-robust location estimates a heavy-tailed host metric needs
    before any mean-based contract threshold is trustworthy. Exact
    interpolated clip quantiles (q25 convention), bounds broadcast
    back, two map-side-combined scans."""
    from soda_core_spark.operators.profiling import winsorized_stats

    d = _t(spark, sf_dir, "documents")
    return winsorized_stats(d, "n_chars", "source")


# ---------------------------------------------------------------------------
# Extraction-residue audit (operators/profiling.py markup_residue)
# ---------------------------------------------------------------------------

def _q164_sql() -> str:
    from soda_core_spark.operators.profiling import MARKUP_RESIDUE_PATTERNS

    pats = MARKUP_RESIDUE_PATTERNS
    hitcols = ",\n         ".join(
        f"sum(CASE WHEN regexp_matches(t, '{p}') THEN 1 ELSE 0 END)"
        f"::BIGINT AS h_{n}"
        for n, p in pats.items()
    )
    any_expr = " OR ".join(
        f"regexp_matches(t, '{p}')" for p in pats.values()
    )
    rows = "\n  UNION ALL\n".join(
        f"  SELECT \"group\", '{n}' AS pattern, n_docs, h_{n} AS n_hit"
        f" FROM agg"
        for n in [*pats, "any_residue"]
    )
    return f"""
WITH base AS (
  SELECT source AS "group", coalesce(text, '') AS t FROM documents
),
agg AS (
  SELECT "group", count(*)::BIGINT AS n_docs,
         {hitcols},
         sum(CASE WHEN {any_expr} THEN 1 ELSE 0 END)::BIGINT
           AS h_any_residue
  FROM base GROUP BY 1
),
long AS (
{rows}
)
SELECT "group", pattern, n_docs, n_hit,
       round(CASE WHEN n_docs > 0
             THEN n_hit::DOUBLE / n_docs END, 6) AS hit_rate
FROM long
ORDER BY "group", pattern
"""


@register("q164_markup_residue", _q164_sql())
def q164(spark, sf_dir):
    """Extraction-residue audit per source (operators/profiling.py
    markup_residue): residual HTML tags, unresolved entities, template
    braces and literal escaped whitespace — the extractor-regression
    tripwire every cleanup stage gates on. All patterns evaluate in ONE
    fused map-side-combined aggregate (one corpus scan however many
    patterns); inline() unpivots per-group counters. Patterns shared
    verbatim with the oracle in the Java-regex ∩ RE2 subset."""
    from soda_core_spark.operators.profiling import markup_residue

    d = _t(spark, sf_dir, "documents")
    return markup_residue(d)


# ---------------------------------------------------------------------------
# Mann-Whitney per-source shift audit (operators/profiling.py
# mann_whitney_groups)
# ---------------------------------------------------------------------------

_Q165_SQL = """
WITH vals AS (
  SELECT source AS "group", n_chars AS v FROM documents
  WHERE n_chars IS NOT NULL AND source IS NOT NULL
),
grain AS (
  SELECT "group", v, count(*)::BIGINT AS c_gv FROM vals GROUP BY 1, 2
),
gtot AS (SELECT v, sum(c_gv)::BIGINT AS c_v FROM grain GROUP BY 1),
cum AS (
  SELECT v, c_v,
         coalesce(sum(c_v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS c_lt
  FROM gtot
),
pg AS (
  SELECT "group", sum(c_gv)::BIGINT AS n,
         sum(c_gv * (2 * c_lt + c_v + 1))::BIGINT AS two_r
  FROM grain JOIN cum USING (v) GROUP BY 1
),
tot AS (
  SELECT sum(c_v)::BIGINT AS nt,
         sum(c_v * c_v * c_v - c_v)::BIGINT AS t FROM gtot
)
SELECT "group", n, (nt - n)::BIGINT AS n_rest,
       round(CASE WHEN nt - n > 0
             THEN (two_r - n * (n + 1))::DOUBLE
                  / (2.0 * (n * (nt - n))::DOUBLE) END, 6) AS auc,
       round(CASE WHEN nt - n > 0
                  AND (n * (nt - n))::DOUBLE / 12.0
                      * ((nt + 1)::DOUBLE
                         - t::DOUBLE / (nt::DOUBLE * (nt - 1)::DOUBLE))
                      > 0
             THEN ((two_r - n * (n + 1))::DOUBLE - (n * (nt - n))::DOUBLE)
                  / (2.0 * sqrt((n * (nt - n))::DOUBLE / 12.0
                       * ((nt + 1)::DOUBLE
                          - t::DOUBLE
                            / (nt::DOUBLE * (nt - 1)::DOUBLE))))
             END, 6) AS z
FROM pg CROSS JOIN tot
ORDER BY "group"
"""


@register("q165_mann_whitney", _Q165_SQL)
def q165(spark, sf_dir):
    """Per-source Mann-Whitney shift audit over document lengths
    (operators/profiling.py mann_whitney_groups): exact tie-corrected
    U for each source vs the rest of the corpus, reported as the
    common-language AUC effect size and a z-score. Ranks never
    materialize — the midrank sum folds to ALL-INTEGER arithmetic at
    value grain (2R = sum c_g(2C_lt + c + 1)), so both engines agree
    exactly; the location-sensitive complement to q144's KS."""
    from soda_core_spark.operators.profiling import mann_whitney_groups

    d = _t(spark, sf_dir, "documents")
    return mann_whitney_groups(d, "n_chars", "source")


# ---------------------------------------------------------------------------
# Dedup-policy agreement: exact-text vs bag-of-tokens classes
# (operators/dedup.py clustering_agreement)
# ---------------------------------------------------------------------------

_Q166_SQL = """
WITH lab AS (
  SELECT md5(lower(regexp_replace(trim(coalesce(text, '')),
                                  '[ \t\n\r]+', ' ', 'g'))) AS a,
         -- coalesce: DuckDB's array_to_string([]) is NULL (Spark's
         -- array_join is ''), and a NULL label silently drops from the
         -- mi JOIN below
         md5(coalesce(array_to_string(list_sort(list_filter(
             regexp_split_to_array(lower(coalesce(text, '')), '[ \t\n\r]+'),
             w -> w <> '')), ' '), '')) AS b
  FROM documents
),
cont AS (SELECT a, b, count(*)::BIGINT AS nij FROM lab GROUP BY 1, 2),
ma AS (SELECT a, sum(nij)::BIGINT AS ai FROM cont GROUP BY 1),
mb AS (SELECT b, sum(nij)::BIGINT AS bj FROM cont GROUP BY 1),
cs AS (
  SELECT coalesce(sum(nij), 0)::BIGINT AS n,
         coalesce(sum(nij * (nij - 1)), 0)::BIGINT AS sij
  FROM cont
),
asu AS (
  SELECT count(*)::BIGINT AS clusters_a,
         sum(ai * (ai - 1))::BIGINT AS sa FROM ma
),
bsu AS (
  SELECT count(*)::BIGINT AS clusters_b,
         sum(bj * (bj - 1))::BIGINT AS sb FROM mb
),
mi AS (
  SELECT sum(nij::DOUBLE / cs.n::DOUBLE
             * ln(cs.n::DOUBLE * nij::DOUBLE
                  / (ai::DOUBLE * bj::DOUBLE))) AS mi
  FROM cont JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN cs
),
ha AS (
  SELECT sum(-(ai::DOUBLE / cs.n::DOUBLE)
             * ln(ai::DOUBLE / cs.n::DOUBLE)) AS ha
  FROM ma CROSS JOIN cs
),
hb AS (
  SELECT sum(-(bj::DOUBLE / cs.n::DOUBLE)
             * ln(bj::DOUBLE / cs.n::DOUBLE)) AS hb
  FROM mb CROSS JOIN cs
)
SELECT n, clusters_a, clusters_b,
       round(CASE WHEN n >= 2 THEN coalesce(
         CASE WHEN (sa + sb)::DOUBLE / 2.0
                   - sa::DOUBLE * sb::DOUBLE
                     / (n::DOUBLE * (n - 1)::DOUBLE) <> 0.0
              THEN (sij::DOUBLE
                    - sa::DOUBLE * sb::DOUBLE
                      / (n::DOUBLE * (n - 1)::DOUBLE))
                   / ((sa + sb)::DOUBLE / 2.0
                      - sa::DOUBLE * sb::DOUBLE
                        / (n::DOUBLE * (n - 1)::DOUBLE)) END,
         1.0) END, 6) AS ari,
       round(CASE WHEN ha > 0 AND hb > 0
             THEN mi / sqrt(ha * hb) END, 6) AS nmi
FROM cs CROSS JOIN asu CROSS JOIN bsu
CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb
"""


@register("q166_dedup_agreement", _Q166_SQL)
def q166(spark, sf_dir):
    """Adjusted Rand index + NMI between the exact-normalized-text
    dedup classes (q13 convention) and the order-insensitive
    bag-of-tokens classes (q145 convention) — operators/dedup.py
    clustering_agreement. Quantifies how much extra merging the
    reordering-tolerant policy buys BEFORE switching dedup keys. Pair
    counts reduce to integer sums at contingency grain; no pair ever
    enumerates."""
    from soda_core_spark.operators.dedup import (
        clustering_agreement,
        normalized_text,
    )

    d = _t(spark, sf_dir, "documents")
    toks = words_col(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    labeled = d.select(
        F.md5(normalized_text(F.coalesce(F.col("text"), F.lit(""))))
        .alias("exact_cls"),
        F.md5(F.array_join(F.sort_array(toks), " ")).alias("bag_cls"),
    )
    return clustering_agreement(labeled, "exact_cls", "bag_cls")


# ---------------------------------------------------------------------------
# Kish effective sample size under dedup weights (operators/dedup.py
# dedup_design_effect)
# ---------------------------------------------------------------------------

_Q167_SQL = """
WITH keyed AS (
  SELECT source AS "group",
         md5(lower(regexp_replace(trim(coalesce(text, '')),
                                  '[ \t\n\r]+', ' ', 'g'))) AS fp
  FROM documents
),
grain AS (
  SELECT "group", fp, count(*)::BIGINT AS m FROM keyed GROUP BY 1, 2
),
classes AS (SELECT fp, count(*)::BIGINT AS k FROM keyed GROUP BY 1),
j AS (
  SELECT "group", m, floor(1000000.0 / k::DOUBLE)::BIGINT AS w
  FROM grain JOIN classes USING (fp)
),
agg AS (
  SELECT "group",
         sum(m)::BIGINT AS n_docs,
         count(*)::BIGINT AS n_classes,
         sum(m * w)::BIGINT AS sw,
         sum(m * w * w)::BIGINT AS sw2
  FROM j GROUP BY 1
)
SELECT "group", n_docs, n_classes,
       round(CASE WHEN sw2 > 0
             THEN sw::DOUBLE * sw::DOUBLE / sw2::DOUBLE END, 6) AS ess,
       round(n_docs::DOUBLE
             / (CASE WHEN sw2 > 0
                THEN sw::DOUBLE * sw::DOUBLE / sw2::DOUBLE END), 6)
         AS deff,
       round((CASE WHEN sw2 > 0
              THEN sw::DOUBLE * sw::DOUBLE / sw2::DOUBLE END)
             / n_docs::DOUBLE, 6) AS eff_fraction
FROM agg ORDER BY "group"
"""


@register("q167_design_effect", _Q167_SQL)
def q167(spark, sf_dir):
    """Kish effective sample size and design effect per source under
    corpus-global exact-dup SoftDedup weights (operators/dedup.py
    dedup_design_effect): the precision penalty duplication imposes on
    every per-source metric. Integer floor(scale/k) weights make Σw and
    Σw² exact on both engines; two map-side-combined groupBys off one
    fingerprint projection plus a grain join."""
    from soda_core_spark.operators.dedup import dedup_design_effect

    d = _t(spark, sf_dir, "documents")
    return dedup_design_effect(d)


# ---------------------------------------------------------------------------
# JSON payload-field audit (operators/semistructured.py
# json_field_profile)
# ---------------------------------------------------------------------------

_Q168_SQL = """
SELECT coalesce(event_type, '<null>') AS "group",
       count(*)::BIGINT AS n_rows,
       sum(CASE WHEN json_valid(props)
                 AND json_type(props::JSON) = 'OBJECT'
            THEN 1 ELSE 0 END)::BIGINT AS n_valid_json,
       sum(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_with_field,
       round(1.0 - sum(CASE WHEN TRY_CAST(json_extract_string(props, '$.k')
                                 AS BIGINT) IS NOT NULL
                        THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS field_null_rate,
       min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
         AS f_min,
       max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
         AS f_max,
       round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
         AS f_avg
FROM events
GROUP BY 1 ORDER BY 1
"""


@register("q168_json_field_audit", _Q168_SQL)
def q168(spark, sf_dir):
    """Semi-structured payload audit (operators/semistructured.py
    json_field_profile): parse-validity, field presence and numeric
    stats of the $.k field inside the events table's JSON props column,
    per event type — scalar data-contract checks applied one JSON level
    down, all codegen JSON expressions in ONE fused aggregate (the
    check surface the reference needs a warehouse JSON dialect for)."""
    from soda_core_spark.operators.semistructured import json_field_profile

    e = _t(spark, sf_dir, "events")
    return json_field_profile(e, "props", "k", "event_type")


# ---------------------------------------------------------------------------
# JSON key census (operators/semistructured.py json_key_census)
# ---------------------------------------------------------------------------

_Q169_SQL = """
WITH base AS (
  SELECT coalesce(event_type, '<null>') AS "group", props,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props::JSON) = 'OBJECT' ELSE false END AS ok
  FROM events
),
keyed AS (
  SELECT "group", unnest(json_keys(props)) AS key FROM base WHERE ok
  UNION ALL
  SELECT "group", '<invalid>' AS key FROM base WHERE NOT ok
),
counts AS (
  SELECT "group", key, count(*)::BIGINT AS n_present
  FROM keyed GROUP BY 1, 2
),
sizes AS (SELECT "group", count(*)::BIGINT AS n_rows FROM base GROUP BY 1)
SELECT c."group", c.key, s.n_rows, c.n_present,
       round(c.n_present::DOUBLE / s.n_rows, 6) AS presence_rate
FROM counts c JOIN sizes s USING ("group")
ORDER BY c."group", c.key
"""


@register("q169_json_key_census", _Q169_SQL)
def q169(spark, sf_dir):
    """JSON payload key census per event type
    (operators/semistructured.py json_key_census): which keys the
    undeclared half of the schema actually carries, at what presence
    rate, with an <invalid> bucket for unparseable payloads — the
    schema-drift report one JSON level down. Parse once, explode
    map_keys, map-side combine to (group, key) grain."""
    from soda_core_spark.operators.semistructured import json_key_census

    e = _t(spark, sf_dir, "events")
    return json_key_census(e, "props", "event_type")


# ---------------------------------------------------------------------------
# Functional-dependency audit (operators/profiling.py
# functional_dependency_audit)
# ---------------------------------------------------------------------------

_Q170_SQL = """
WITH per_key AS (
  SELECT source::VARCHAR AS key,
         count(DISTINCT coalesce(lang::VARCHAR, '<null>'))::BIGINT AS n_dep
  FROM documents WHERE source IS NOT NULL GROUP BY 1
),
summary AS (
  SELECT 'summary' AS kind, NULL::VARCHAR AS key,
         count(*)::BIGINT AS n_keys,
         sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END)::BIGINT
           AS n_violating_keys,
         sum(n_dep)::BIGINT AS n_distinct_dependent,
         round(CASE WHEN count(*) > 0 THEN
           1.0 - sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) END, 6) AS strength
  FROM per_key
),
viols AS (
  SELECT 'violation' AS kind, key, NULL::BIGINT AS n_keys,
         NULL::BIGINT AS n_violating_keys, n_dep AS n_distinct_dependent,
         NULL::DOUBLE AS strength
  FROM per_key WHERE n_dep > 1
  ORDER BY n_dep DESC, key LIMIT 5
)
SELECT * FROM summary UNION ALL SELECT * FROM viols
"""


@register("q170_fd_audit", _Q170_SQL)
def q170(spark, sf_dir):
    """Functional-dependency audit source -> lang
    (operators/profiling.py functional_dependency_audit): dependency
    strength plus the worst violating keys — the cross-column
    consistency check behind silent-join-bug hunts, which the
    reference's single-column checks cannot express. One two-level
    partial-aggregated groupBy, examples via distributed top-k."""
    from soda_core_spark.operators.profiling import (
        functional_dependency_audit,
    )

    d = _t(spark, sf_dir, "documents")
    return functional_dependency_audit(d, "source", "lang")


# ---------------------------------------------------------------------------
# Benford first-digit audit (operators/profiling.py benford_audit)
# ---------------------------------------------------------------------------

def _q171_sql() -> str:
    from soda_core_spark.operators.profiling import BENFORD_P

    parr = ", ".join(repr(p) for p in BENFORD_P)
    return f"""
WITH base AS (
  SELECT substr(floor(abs(value))::DECIMAL(38,0)::VARCHAR, 1, 1)::INT AS d
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
    AND abs(value) >= 1.0 AND abs(value) < 1e37
),
counts AS (SELECT d, count(*)::BIGINT AS n FROM base GROUP BY 1),
digits AS (SELECT unnest(range(1, 10))::INT AS digit),
j AS (
  SELECT digit, coalesce(n, 0)::BIGINT AS n
  FROM digits LEFT JOIN counts ON digits.digit = counts.d
),
tot AS (SELECT sum(n)::BIGINT AS nt FROM j),
scored AS (
  SELECT digit, n,
         CASE WHEN nt > 0 THEN n::DOUBLE / nt END AS obs,
         ([{parr}])[digit] AS exp_p, nt
  FROM j CROSS JOIN tot
),
stats AS (
  SELECT sum((obs - exp_p) * (obs - exp_p) / exp_p * nt::DOUBLE) AS chi2,
         avg(abs(obs - exp_p)) AS mad
  FROM scored
)
SELECT digit, n,
       round(obs, 6) AS observed,
       round(exp_p, 6) AS expected,
       round(chi2, 6) AS chi2_total,
       round(mad, 6) AS mad
FROM scored CROSS JOIN stats
ORDER BY digit
"""


@register("q171_benford", _q171_sql())
def q171(spark, sf_dir):
    """Benford first-significant-digit audit of the events value
    column (operators/profiling.py benford_audit): observed vs
    log10(1+1/d) with Nigrini's MAD and the chi-square statistic — the
    synthetic-data/fabricated-metrics tripwire. One fused aggregate;
    everything after is a 9-row frame; expected probabilities shared
    verbatim with the oracle."""
    from soda_core_spark.operators.profiling import benford_audit

    e = _t(spark, sf_dir, "events")
    return benford_audit(e, "value")


# ---------------------------------------------------------------------------
# Whole-schema referential-integrity report (operators/checks.py
# referential_integrity_profile)
# ---------------------------------------------------------------------------

_Q172_SQL = """
WITH edge AS (
  SELECT 'customer->nation' AS edge, c_nationkey AS k FROM customer
  UNION ALL
  SELECT 'lineitem->orders', l_orderkey FROM lineitem
  UNION ALL
  SELECT 'nation->region', n_regionkey FROM nation
  UNION ALL
  SELECT 'orders->customer', o_custkey FROM orders
  UNION ALL
  SELECT 'supplier->nation', s_nationkey FROM supplier
),
parents AS (
  SELECT 'customer->nation' AS edge, n_nationkey AS p FROM nation
  UNION ALL
  SELECT 'lineitem->orders', o_orderkey FROM orders
  UNION ALL
  SELECT 'nation->region', r_regionkey FROM region
  UNION ALL
  SELECT 'orders->customer', c_custkey FROM customer
  UNION ALL
  SELECT 'supplier->nation', n_nationkey FROM nation
),
ckeys AS (
  SELECT edge, k, count(*)::BIGINT AS n FROM edge GROUP BY 1, 2
),
pkeys AS (SELECT DISTINCT edge, p FROM parents),
j AS (
  SELECT c.edge, c.k, c.n, p.p
  FROM ckeys c LEFT JOIN pkeys p ON c.edge = p.edge AND c.k = p.p
)
SELECT edge,
       coalesce(sum(CASE WHEN k IS NOT NULL THEN n END), 0)::BIGINT
         AS n_child,
       coalesce(sum(CASE WHEN k IS NULL THEN n END), 0)::BIGINT
         AS n_null_fk,
       coalesce(sum(CASE WHEN k IS NOT NULL AND p IS NULL THEN n END), 0)
         ::BIGINT AS n_orphans,
       coalesce(sum(CASE WHEN k IS NOT NULL AND p IS NULL THEN 1 END), 0)
         ::BIGINT AS n_orphan_keys,
       round(CASE WHEN coalesce(sum(CASE WHEN k IS NOT NULL THEN n END), 0)
                       > 0
             THEN coalesce(sum(CASE WHEN k IS NOT NULL AND p IS NULL
                               THEN n END), 0)::DOUBLE
                  / sum(CASE WHEN k IS NOT NULL THEN n END) END, 6)
         AS orphan_rate
FROM j GROUP BY edge ORDER BY edge
"""


@register("q172_referential_integrity", _Q172_SQL)
def q172(spark, sf_dir):
    """Whole-schema referential-integrity report over the five TPC-H FK
    edges (operators/checks.py referential_integrity_profile): child
    rows, NULL-FK rows (not orphans — SQL FK semantics), orphan rows
    and distinct orphan keys per edge. Child collapses to (key, count)
    grain BEFORE each join so hot FK values never fan out; the
    reference's single invalid-reference check generalized to the
    migration-day audit."""
    from soda_core_spark.operators.checks import (
        referential_integrity_profile,
    )

    t = lambda n: _t(spark, sf_dir, n)  # noqa: E731
    return referential_integrity_profile([
        (t("customer"), "c_nationkey", t("nation"), "n_nationkey",
         "customer->nation"),
        (t("lineitem"), "l_orderkey", t("orders"), "o_orderkey",
         "lineitem->orders"),
        (t("nation"), "n_regionkey", t("region"), "r_regionkey",
         "nation->region"),
        (t("orders"), "o_custkey", t("customer"), "c_custkey",
         "orders->customer"),
        (t("supplier"), "s_nationkey", t("nation"), "n_nationkey",
         "supplier->nation"),
    ])


# ---------------------------------------------------------------------------
# Event-sequence transition matrix (operators/profiling.py
# event_transition_matrix)
# ---------------------------------------------------------------------------

_Q173_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id,
         coalesce(event_type::VARCHAR, '<null>') AS t
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
trans AS (
  SELECT t AS from_type,
         coalesce(lead(t) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id), '<end>') AS to_type
  FROM base
),
counts AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n
  FROM trans GROUP BY 1, 2
),
totals AS (SELECT from_type, sum(n)::BIGINT AS row_n FROM counts GROUP BY 1)
SELECT c.from_type, c.to_type, c.n,
       round(c.n::DOUBLE / t.row_n, 6) AS prob
FROM counts c JOIN totals t USING (from_type)
ORDER BY c.from_type, c.to_type
"""


@register("q173_event_transitions", _Q173_SQL)
def q173(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (operators/profiling.py event_transition_matrix):
    deterministic (ts, id) ordering, '<end>' sink for terminal events,
    row-normalized probabilities — the behavioral fingerprint audit.
    One hash exchange on user for the lead window; counts collapse
    map-side to the |types|² grain."""
    from soda_core_spark.operators.profiling import event_transition_matrix

    e = _t(spark, sf_dir, "events")
    return event_transition_matrix(e)


# ---------------------------------------------------------------------------
# Inter-arrival burstiness (operators/profiling.py
# interarrival_burstiness)
# ---------------------------------------------------------------------------

_Q174_SQL = """
WITH base AS (
  SELECT user_id, coalesce(event_type::VARCHAR, '<null>') AS t,
         epoch_us(ts) AS us, event_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
gaps AS (
  SELECT t,
         (us - lag(us) OVER (PARTITION BY user_id, t
                             ORDER BY us, event_id))::DOUBLE / 1e6 AS gap
  FROM base
)
SELECT t AS event_type,
       count(gap)::BIGINT AS n_gaps,
       round(avg(gap), 6) AS mean_gap_s,
       round(stddev_pop(gap), 6) AS std_gap_s,
       round(CASE WHEN avg(gap) > 0
             THEN stddev_pop(gap) / avg(gap) END, 6) AS cv,
       round(CASE WHEN stddev_pop(gap) + avg(gap) > 0
             THEN (stddev_pop(gap) - avg(gap))
                  / (stddev_pop(gap) + avg(gap)) END, 6) AS burstiness
FROM gaps WHERE gap IS NOT NULL
GROUP BY t ORDER BY t
"""


@register("q174_burstiness", _Q174_SQL)
def q174(spark, sf_dir):
    """Per-event-type inter-arrival burstiness (operators/profiling.py
    interarrival_burstiness): Goh-Barabási B = (σ-μ)/(σ+μ) and CV over
    exact-microsecond gaps within (user, type) sequences — clockwork
    bots at -1, retry storms at +1, humans near 0. One (user, type)
    hash exchange for the lag window, then a |types|-row aggregate."""
    from soda_core_spark.operators.profiling import interarrival_burstiness

    e = _t(spark, sf_dir, "events")
    return interarrival_burstiness(e)


# ---------------------------------------------------------------------------
# Cross-table reconciliation audit (operators/checks.py
# reconciliation_audit)
# ---------------------------------------------------------------------------

_Q175_SQL = """
WITH c AS (
  SELECT l_orderkey AS k,
         sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS derived
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_totalprice::DOUBLE AS stored, c.derived
  FROM orders o LEFT JOIN c ON o.o_orderkey = c.k
  WHERE o.o_orderkey IS NOT NULL
)
SELECT count(*)::BIGINT AS n_parents,
       sum(CASE WHEN derived IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_with_children,
       sum(CASE WHEN derived IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_childless,
       sum(CASE WHEN derived IS NOT NULL
                 AND abs(stored - derived) <= 0.01
            THEN 1 ELSE 0 END)::BIGINT AS n_matched,
       sum(CASE WHEN derived IS NOT NULL
                 AND abs(stored - derived) > 0.01
            THEN 1 ELSE 0 END)::BIGINT AS n_mismatched,
       round(max(CASE WHEN derived IS NOT NULL
                 THEN abs(stored - derived) END), 6) AS max_abs_err,
       round(avg(CASE WHEN derived IS NOT NULL
                 THEN abs(stored - derived) END), 6) AS mean_abs_err
FROM j
"""


@register("q175_reconciliation", _Q175_SQL)
def q175(spark, sf_dir):
    """Order-total reconciliation (operators/checks.py
    reconciliation_audit): o_totalprice vs the recomputed
    sum(l_extendedprice·(1-disc)·(1+tax)) over each order's lineitems —
    the cross-table derived-column audit that catches partial loads.
    Child collapses to (key, sum) grain before ONE key-grain join;
    tolerance compare, never float equality."""
    from soda_core_spark.operators.checks import reconciliation_audit

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    derived = (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    )
    return reconciliation_audit(
        o, "o_orderkey", "o_totalprice", li, "l_orderkey", derived
    )


# ---------------------------------------------------------------------------
# Retention cohort triangle (operators/profiling.py retention_cohorts)
# ---------------------------------------------------------------------------

_Q176_SQL = """
WITH activity AS (
  SELECT DISTINCT user_id AS u, ts::DATE AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
first_day AS (SELECT u, min(d) AS cohort_day FROM activity GROUP BY 1),
j AS (
  SELECT f.cohort_day, (a.d - f.cohort_day)::INT AS offset_days, a.u
  FROM activity a JOIN first_day f USING (u)
),
sizes AS (
  SELECT cohort_day, count(*)::BIGINT AS cohort_size
  FROM first_day GROUP BY 1
),
cells AS (
  SELECT cohort_day, offset_days, count(DISTINCT u)::BIGINT AS n_active
  FROM j GROUP BY 1, 2
)
SELECT c.cohort_day::VARCHAR AS cohort_day, c.offset_days,
       s.cohort_size, c.n_active,
       round(c.n_active::DOUBLE / s.cohort_size, 6) AS retention
FROM cells c JOIN sizes s USING (cohort_day)
ORDER BY 1, 2
"""


@register("q176_retention_cohorts", _Q176_SQL)
def q176(spark, sf_dir):
    """Retention cohort triangle over the event stream
    (operators/profiling.py retention_cohorts): users cohorted by
    first active day, per-(cohort, offset) comeback counts — the
    longitudinal population-health read. Activity collapses to
    (user, day) grain first; first-day derives off that grain, one
    key-grain join back, nothing touches raw events twice."""
    from soda_core_spark.operators.profiling import retention_cohorts

    e = _t(spark, sf_dir, "events")
    # string-typed cohort_day: the driver comparator normalizes DATE
    # asymmetrically across engines; ISO string is unambiguous
    return retention_cohorts(e).withColumn(
        "cohort_day", F.col("cohort_day").cast("string")
    )


# ---------------------------------------------------------------------------
# One-pass Pearson correlation matrix (operators/profiling.py
# correlation_matrix)
# ---------------------------------------------------------------------------

def _q177_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(cols[i], cols[j]) for i in range(len(cols))
             for j in range(i + 1, len(cols))]
    sums = []
    for a, b in pairs:
        t = f"{a}__{b}"
        both = (f"CASE WHEN {a} IS NOT NULL AND NOT isnan({a}::DOUBLE)"
                f" AND {b} IS NOT NULL AND NOT isnan({b}::DOUBLE)"
                f" THEN 1 ELSE 0 END")
        x = (f"CASE WHEN {both} = 1 THEN {a}::DOUBLE END")
        y = (f"CASE WHEN {both} = 1 THEN {b}::DOUBLE END")
        sums.append(
            f"sum({both})::BIGINT AS n_{t}, sum({x}) AS sx_{t},"
            f" sum({y}) AS sy_{t}, sum(({x}) * ({y})) AS sxy_{t},"
            f" sum(({x}) * ({x})) AS sxx_{t},"
            f" sum(({y}) * ({y})) AS syy_{t}"
        )
    rows = []
    for a, b in pairs:
        t = f"{a}__{b}"
        n = f"n_{t}::DOUBLE"
        vx = f"({n} * sxx_{t} - sx_{t} * sx_{t})"
        vy = f"({n} * syy_{t} - sy_{t} * sy_{t})"
        rows.append(f"""
  SELECT '{a}' AS col_a, '{b}' AS col_b, n_{t} AS n,
         round(CASE WHEN n_{t} >= 2 AND {vx} > 0 AND {vy} > 0
               THEN ({n} * sxy_{t} - sx_{t} * sy_{t})
                    / sqrt({vx} * {vy}) END, 6) AS r
  FROM agg""")
    return (
        "WITH agg AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\n  UNION ALL\n".join(rows)
        + "\nORDER BY col_a, col_b"
    )


@register("q177_correlation_matrix", _q177_sql())
def q177(spark, sf_dir):
    """One-pass Pearson correlation matrix over the four lineitem
    numerics (operators/profiling.py correlation_matrix): pairwise-NULL
    handling, every pair's six sums ride ONE partial aggregation
    (q97/q155 execution contract, continuous case), inline() unpivots —
    pair count widens the aggregate, never multiplies corpus passes."""
    from soda_core_spark.operators.profiling import correlation_matrix

    li = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


# ---------------------------------------------------------------------------
# Mann-Kendall daily-trend test (operators/profiling.py
# mann_kendall_trend)
# ---------------------------------------------------------------------------

_Q178_SQL = """
WITH daily AS (
  SELECT ts::DATE AS d, count(*)::DOUBLE AS v
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
pairs AS (
  SELECT sign(b.v - a.v)::BIGINT AS sgn,
         (b.v - a.v) / (b.d - a.d)::DOUBLE AS slope
  FROM daily a JOIN daily b ON a.d < b.d
),
ps AS (
  SELECT coalesce(sum(sgn), 0)::BIGINT AS s_statistic,
         quantile_cont(slope, 0.5) AS ts FROM pairs
),
nd AS (SELECT count(*)::BIGINT AS n_days FROM daily),
ties AS (
  SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT AS tie_term
  FROM (SELECT count(*)::BIGINT AS t FROM daily GROUP BY v)
),
j AS (
  SELECT n_days, s_statistic, ts,
         (n_days * (n_days - 1) * (2 * n_days + 5) - tie_term)::DOUBLE
           / 18.0 AS var
  FROM nd CROSS JOIN ties CROSS JOIN ps
)
SELECT n_days, s_statistic,
       round(CASE WHEN var > 0 THEN
         CASE WHEN s_statistic > 0
              THEN (s_statistic - 1)::DOUBLE / sqrt(var)
              WHEN s_statistic < 0
              THEN (s_statistic + 1)::DOUBLE / sqrt(var)
              ELSE 0.0 END END, 6) AS z,
       round(ts, 6) AS theil_sen_slope,
       CASE WHEN var > 0 AND (CASE WHEN s_statistic > 0
                 THEN (s_statistic - 1)::DOUBLE / sqrt(var)
                 WHEN s_statistic < 0
                 THEN (s_statistic + 1)::DOUBLE / sqrt(var)
                 ELSE 0.0 END) > 1.959963984540054 THEN 'increasing'
            WHEN var > 0 AND (CASE WHEN s_statistic > 0
                 THEN (s_statistic - 1)::DOUBLE / sqrt(var)
                 WHEN s_statistic < 0
                 THEN (s_statistic + 1)::DOUBLE / sqrt(var)
                 ELSE 0.0 END) < -1.959963984540054 THEN 'decreasing'
            WHEN var > 0 THEN 'none' END AS trend
FROM j
"""


@register("q178_mann_kendall", _Q178_SQL)
def q178(spark, sf_dir):
    """Mann-Kendall trend test + Theil-Sen slope over daily event
    counts (operators/profiling.py mann_kendall_trend): exact-integer
    S with tie-corrected variance and continuity adjustment — the
    outlier-proof "is volume actually drifting" answer. Pair
    enumeration is quadratic in DAYS (tiny frame), never rows."""
    from soda_core_spark.operators.profiling import mann_kendall_trend

    e = _t(spark, sf_dir, "events")
    daily = (
        e.where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return mann_kendall_trend(daily, "day", "value")


# ---------------------------------------------------------------------------
# Daily-series monitoring statistics (operators/profiling.py):
# CUSUM changepoint, day-of-week seasonality, runs test
# ---------------------------------------------------------------------------

_DAILY_CTE = """
daily AS (
  SELECT ts::DATE AS d, count(*)::DOUBLE AS v
  FROM events WHERE ts IS NOT NULL GROUP BY 1
)
"""

_Q179_SQL = f"""
WITH {_DAILY_CTE},
stats AS (
  SELECT count(*)::BIGINT AS n_days, avg(v) AS mu, stddev_pop(v) AS sd
  FROM daily
),
cum AS (
  SELECT d, v,
         sum(v - s.mu) OVER (ORDER BY d) AS cs
  FROM daily CROSS JOIN stats s
),
best AS (
  SELECT d AS cp, abs(cs) AS smax FROM cum
  ORDER BY abs(cs) DESC, d LIMIT 1
),
seg AS (
  SELECT avg(CASE WHEN c.d <= b.cp THEN c.v END) AS mb,
         avg(CASE WHEN c.d > b.cp THEN c.v END) AS ma
  FROM cum c CROSS JOIN best b
)
SELECT s.n_days,
       CASE WHEN s.n_days >= 2 THEN b.cp::VARCHAR END AS cp_day,
       round(b.smax, 6) AS cusum_max,
       round(g.mb, 6) AS mean_before,
       round(g.ma, 6) AS mean_after,
       round(g.ma - g.mb, 6) AS shift,
       round(CASE WHEN s.sd > 0 AND s.n_days > 0
             THEN b.smax / (s.sd * sqrt(s.n_days::DOUBLE)) END, 6)
         AS cusum_score
FROM stats s CROSS JOIN best b CROSS JOIN seg g
"""


@register("q179_cusum_changepoint", _Q179_SQL)
def q179(spark, sf_dir):
    """Offline CUSUM mean-shift changepoint over daily event counts
    (operators/profiling.py cusum_changepoint): WHERE the level moved —
    argmax |cumsum(v - mean)| with earliest-day tiebreak, before/after
    means and a KS-style normalized score. Day-frame math only."""
    from soda_core_spark.operators.profiling import cusum_changepoint

    e = _t(spark, sf_dir, "events")
    daily = (
        e.where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return cusum_changepoint(daily, "day", "value")


_Q180_SQL = f"""
WITH {_DAILY_CTE},
base AS (
  SELECT CASE WHEN dayofweek(d) = 0 THEN 7 ELSE dayofweek(d) END AS dow,
         v
  FROM daily
),
per AS (
  SELECT dow, count(*)::BIGINT AS n_days, avg(v) AS mean_v,
         sum(v) AS tot
  FROM base GROUP BY 1
),
tot AS (SELECT sum(tot) AS gt, sum(n_days) AS gd FROM per),
chi AS (
  SELECT sum((p.tot - t.gt * p.n_days / t.gd::DOUBLE)
             * (p.tot - t.gt * p.n_days / t.gd::DOUBLE)
             / (t.gt * p.n_days / t.gd::DOUBLE)) AS chi2
  FROM per p CROSS JOIN tot t
)
SELECT p.dow::INT AS dow, p.n_days,
       round(p.mean_v, 6) AS mean_value,
       round(p.mean_v / (t.gt / t.gd::DOUBLE), 6) AS seasonal_index,
       round(c.chi2, 6) AS chi2_total
FROM per p CROSS JOIN tot t CROSS JOIN chi c
ORDER BY p.dow
"""


@register("q180_dow_seasonality", _Q180_SQL)
def q180(spark, sf_dir):
    """Day-of-week seasonality profile of daily event volume
    (operators/profiling.py dow_seasonality): per-ISO-weekday mean,
    index vs the overall daily mean, and a uniformity chi-square — the
    weekly-rhythm audit (a vanished weekend dip is a bot cohort)."""
    from soda_core_spark.operators.profiling import dow_seasonality

    e = _t(spark, sf_dir, "events")
    daily = (
        e.where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return dow_seasonality(daily, "day", "value")


_Q181_SQL = f"""
WITH {_DAILY_CTE},
med AS (SELECT quantile_cont(v, 0.5) AS m FROM daily),
signed AS (
  SELECT d, (v > m.m)::INT AS s
  FROM daily CROSS JOIN med m WHERE v <> m.m
),
runs AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY d) IS NULL
                   OR lag(s) OVER (ORDER BY d) <> s
              THEN 1 ELSE 0 END AS new_run
  FROM signed
),
agg AS (
  SELECT count(*)::BIGINT AS n_days,
         sum(s)::BIGINT AS n_above,
         sum(1 - s)::BIGINT AS n_below,
         coalesce(sum(new_run), 0)::BIGINT AS n_runs
  FROM runs
)
SELECT n_days, n_above, n_below, n_runs,
       round(CASE WHEN n_above > 0 AND n_below > 0
                   AND n_above + n_below > 1
             THEN 2.0 * n_above * n_below / (n_above + n_below)::DOUBLE
                  + 1.0 END, 6) AS expected_runs,
       round(CASE WHEN n_above > 0 AND n_below > 0
                   AND n_above + n_below > 1
                   AND 2.0 * n_above * n_below
                       * (2.0 * n_above * n_below - n_above - n_below)
                       / ((n_above + n_below)::DOUBLE
                          * (n_above + n_below)::DOUBLE
                          * ((n_above + n_below)::DOUBLE - 1.0)) > 0
             THEN (n_runs::DOUBLE
                   - (2.0 * n_above * n_below
                      / (n_above + n_below)::DOUBLE + 1.0))
                  / sqrt(2.0 * n_above * n_below
                         * (2.0 * n_above * n_below - n_above - n_below)
                         / ((n_above + n_below)::DOUBLE
                            * (n_above + n_below)::DOUBLE
                            * ((n_above + n_below)::DOUBLE - 1.0)))
             END, 6) AS z
FROM agg
"""


@register("q181_runs_test", _Q181_SQL)
def q181(spark, sf_dir):
    """Wald-Wolfowitz runs test around the median of daily event
    counts (operators/profiling.py runs_test): exact-integer run
    counting — too few runs = sticky regimes, too many = oscillation;
    the randomness leg of the daily-series monitoring triple
    (q178 drift, q179 changepoint, q181 randomness)."""
    from soda_core_spark.operators.profiling import runs_test

    e = _t(spark, sf_dir, "events")
    daily = (
        e.where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return runs_test(daily, "day", "value")


# ---------------------------------------------------------------------------
# Truncation artifacts + soft-error shells (operators/profiling.py
# truncation_artifacts / soft_error_pages)
# ---------------------------------------------------------------------------

def _q182_sql() -> str:
    from soda_core_spark.functions.text import (
        TERMINAL_PUNCT,
        TRUNCATION_CAPS,
        TRUNCATION_MARKERS,
    )

    tp = TERMINAL_PUNCT.replace("'", "''")
    caps = ", ".join(str(c) for c in TRUNCATION_CAPS)
    marker = " OR ".join(
        f"contains(low, '{m.lower()}')" for m in TRUNCATION_MARKERS
    )
    return f"""
WITH base AS (
  SELECT source AS "group", text,
         regexp_replace(coalesce(text, ''), '[ 	

]+$', '') AS trimmed,
         lower(regexp_replace(coalesce(text, ''), '[ 	

]+$', ''))
           AS low
  FROM documents
),
ne AS (SELECT * FROM base WHERE length(trimmed) > 0)
SELECT "group",
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN strpos('{tp}', right(trimmed, 1)) = 0
            THEN 1 ELSE 0 END)::BIGINT AS n_midsentence,
       sum(CASE WHEN {marker} THEN 1 ELSE 0 END)::BIGINT AS n_marker,
       sum(CASE WHEN length(text) IN ({caps})
            THEN 1 ELSE 0 END)::BIGINT AS n_at_cap,
       round(sum(CASE WHEN strpos('{tp}', right(trimmed, 1)) = 0
                  THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS midsentence_rate,
       round(sum(CASE WHEN {marker} THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS marker_rate,
       round(sum(CASE WHEN length(text) IN ({caps})
                  THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS at_cap_rate
FROM ne GROUP BY 1 ORDER BY 1
"""


@register("q182_truncation_artifacts", _q182_sql())
def q182(spark, sf_dir):
    """Truncation-artifact audit per source (operators/profiling.py
    truncation_artifacts): mid-sentence endings, truncation markers,
    and lengths parked EXACTLY at round caps — the cap/preview/
    db-column regression detector. One fused aggregate; constants
    shared verbatim with the oracle."""
    from soda_core_spark.operators.profiling import truncation_artifacts

    d = _t(spark, sf_dir, "documents")
    return truncation_artifacts(d)


def _soft_error_sql_parts() -> tuple[str, str]:
    from soda_core_spark.functions.text import SOFT_ERROR_PHRASES

    any_f = " OR ".join(
        f"contains(low, '{p}')" for p in SOFT_ERROR_PHRASES
    )
    phrase = "CASE " + " ".join(
        f"WHEN contains(low, '{p}') THEN '{p}'"
        for p in SOFT_ERROR_PHRASES
    ) + " END"
    return any_f, phrase


def _q183_sql() -> str:
    any_f, _ = _soft_error_sql_parts()
    return f"""
WITH base AS (
  SELECT source AS "group", lower(coalesce(text, '')) AS low
  FROM documents
)
SELECT "group", count(*)::BIGINT AS n_docs,
       sum(CASE WHEN {any_f} THEN 1 ELSE 0 END)::BIGINT AS n_soft_error,
       round(sum(CASE WHEN {any_f} THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS soft_error_rate
FROM base GROUP BY 1 ORDER BY 1
"""


def _q184_sql() -> str:
    any_f, phrase = _soft_error_sql_parts()
    return f"""
WITH base AS (
  SELECT source AS "group", doc_id, lower(coalesce(text, '')) AS low
  FROM documents
),
flagged AS (
  SELECT "group", doc_id, {phrase} AS phrase FROM base WHERE {any_f}
),
ranked AS (
  SELECT "group", doc_id, phrase,
         row_number() OVER (PARTITION BY "group" ORDER BY doc_id) AS rn
  FROM flagged
)
SELECT "group", doc_id, phrase FROM ranked WHERE rn <= 20
ORDER BY "group", doc_id
"""


@register("q183_soft_error_rates", _q183_sql())
def q183(spark, sf_dir):
    """Soft-error-shell rates per source (operators/profiling.py
    soft_error_pages): HTTP-200 pages that are 'page not found' /
    consent-wall / login-gate shells — zero-content poison that passes
    length and language checks. One fused aggregate; phrase list
    shared verbatim with the oracle."""
    from soda_core_spark.operators.profiling import soft_error_pages

    d = _t(spark, sf_dir, "documents")
    rates, _ = soft_error_pages(d)
    return rates


@register("q184_soft_error_examples", _q184_sql())
def q184(spark, sf_dir):
    """Diagnostics sample for q183 (operators/profiling.py
    soft_error_pages): first matching phrase per flagged doc, ≤ 20 per
    source by min doc_id — filter-first then WindowGroupLimit, the
    failed-rows pattern applied to soft errors."""
    from soda_core_spark.operators.profiling import soft_error_pages

    d = _t(spark, sf_dir, "documents")
    _, examples = soft_error_pages(d)
    return examples


# ---------------------------------------------------------------------------
# Fightin'-Words distinctive vocabulary (operators/profiling.py
# distinctive_tokens)
# ---------------------------------------------------------------------------

_Q185_SQL = """
WITH toks AS (
  SELECT source AS "group",
         unnest(list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> ''))
           AS token
  FROM documents
),
grain AS (
  SELECT "group", token, count(*)::BIGINT AS n_group
  FROM toks GROUP BY 1, 2
),
tok_tot AS (
  SELECT token, sum(n_group)::BIGINT AS n_tok FROM grain GROUP BY 1
  HAVING sum(n_group) >= 5
),
grp_tot AS (SELECT "group", sum(n_group)::BIGINT AS n_g FROM grain GROUP BY 1),
all_tot AS (SELECT sum(n_tok)::BIGINT AS n_all FROM tok_tot),
j AS (
  SELECT g."group", g.token, g.n_group, t.n_tok, p.n_g, a.n_all
  FROM grain g JOIN tok_tot t USING (token)
  JOIN grp_tot p USING ("group") CROSS JOIN all_tot a
),
scored AS (
  SELECT "group", token, n_group,
         (n_tok - n_group)::BIGINT AS n_rest,
         (ln((n_group::DOUBLE + 0.01 * n_tok::DOUBLE)
             / (n_g::DOUBLE + 0.01 * n_all::DOUBLE
                - n_group::DOUBLE - 0.01 * n_tok::DOUBLE))
          - ln(((n_tok - n_group)::DOUBLE + 0.01 * n_tok::DOUBLE)
               / ((n_all - n_g)::DOUBLE + 0.01 * n_all::DOUBLE
                  - (n_tok - n_group)::DOUBLE - 0.01 * n_tok::DOUBLE)))
           AS lo,
         sqrt(1.0 / (n_group::DOUBLE + 0.01 * n_tok::DOUBLE)
              + 1.0 / ((n_tok - n_group)::DOUBLE
                       + 0.01 * n_tok::DOUBLE)) AS sd
  FROM j
),
ranked AS (
  SELECT "group", token, n_group, n_rest,
         round(lo, 6) AS log_odds, round(lo / sd, 6) AS z,
         row_number() OVER (PARTITION BY "group"
                            ORDER BY abs(lo / sd) DESC, token) AS rank
  FROM scored
)
SELECT "group", token, n_group, n_rest, log_odds, z, rank::INT AS rank
FROM ranked WHERE rank <= 10
ORDER BY "group", rank
"""


@register("q185_distinctive_tokens", _Q185_SQL)
def q185(spark, sf_dir):
    """Fightin'-Words distinctive vocabulary per source (Monroe,
    Colaresi & Quinn 2008; operators/profiling.py distinctive_tokens):
    informative-Dirichlet log-odds z-scores, top-10 by |z| per source —
    WHICH tokens drifted, the content-level companion to q135's
    distribution-level JSD. One vocabulary groupBy; per-group top-k is
    a WindowGroupLimit, never a global sort."""
    from soda_core_spark.operators.profiling import distinctive_tokens

    d = _t(spark, sf_dir, "documents")
    return distinctive_tokens(d)


# ---------------------------------------------------------------------------
# Stratified exemplar selection (operators/sampling.py exemplar_sample)
# ---------------------------------------------------------------------------

_Q186_SQL = """
WITH base AS (
  SELECT source AS "group", n_chars::DOUBLE AS v, doc_id AS id
  FROM documents
  WHERE n_chars IS NOT NULL AND NOT isnan(n_chars::DOUBLE)
    AND source IS NOT NULL
),
bounds AS (
  SELECT "group",
         quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                           0.6, 0.7, 0.8, 0.9]) AS b
  FROM base GROUP BY 1
),
bucketed AS (
  SELECT base."group", v, id,
         len(list_filter(bo.b, x -> v > x)) AS bucket
  FROM base JOIN bounds bo USING ("group")
)
SELECT "group", bucket::INT AS bucket,
       count(*)::BIGINT AS n_docs,
       round(avg(v), 6) AS mean_score,
       arg_min(id, md5(id::VARCHAR)) AS exemplar_id,
       round(arg_min(v, md5(id::VARCHAR)), 6) AS exemplar_score
FROM bucketed GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("q186_exemplar_sample", _Q186_SQL)
def q186(spark, sf_dir):
    """Deterministic exemplar per (source × length-decile)
    (operators/sampling.py exemplar_sample): one representative doc
    from every stratum — quantile boundaries broadcast back, bucket
    assignment by a fold over the boundary array (NO ntile, no
    per-group sort), exemplar = min_by on md5(id). The human-review
    surface for corpus audits."""
    from soda_core_spark.operators.sampling import exemplar_sample

    d = _t(spark, sf_dir, "documents")
    return exemplar_sample(d, "n_chars", "source")


# ---------------------------------------------------------------------------
# Semantic type inference + PK candidacy (operators/profiling.py)
# ---------------------------------------------------------------------------

def _q187_sql() -> str:
    from soda_core_spark.operators.profiling import SEMANTIC_TYPE_PATTERNS

    cols = ["doc_id", "n_chars", "lang", "text"]
    type_names = [t for t, _ in SEMANTIC_TYPE_PATTERNS] + ["other"]

    def typed(c):
        out = f"CASE WHEN {c} IS NULL THEN '<null>' "
        for name, pat in SEMANTIC_TYPE_PATTERNS:
            esc = pat.replace("'", "''")
            out += (f"WHEN regexp_matches({c}::VARCHAR, '{esc}') "
                    f"THEN '{name}' ")
        return out + "ELSE 'other' END"

    sums, rows = [], []
    for c in cols:
        for t in [*type_names, "<null>"]:
            tag = f"{c}__{t.replace('<', '').replace('>', '')}"
            sums.append(
                f"sum(CASE WHEN ({typed(c)}) = '{t}' THEN 1 ELSE 0 END)"
                f"::BIGINT AS n_{tag}"
            )
            rows.append(f"""
  SELECT '{c}' AS "column", '{t}' AS inferred_type, n_{tag} AS n,
         CASE WHEN '{t}' <> '<null>' AND nn_{c} > 0
              THEN round(n_{tag}::DOUBLE / nn_{c}, 6) END AS share
  FROM agg""")
        sums.append(
            f"sum(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)"
            f"::BIGINT AS nn_{c}"
        )
    return (
        "WITH agg AS (SELECT " + ", ".join(sums) + " FROM documents)\n"
        + "SELECT * FROM (\n" + "\n  UNION ALL\n".join(rows)
        + "\n) WHERE n > 0 ORDER BY \"column\", inferred_type"
    )


@register("q187_type_inference", _q187_sql())
def q187(spark, sf_dir):
    """Semantic-type inference over documents columns
    (operators/profiling.py semantic_type_inference): what each column
    ACTUALLY holds — int/float/date/timestamp/bool/uuid/empty/other
    shares, first-match-wins anchored patterns shared verbatim with
    the oracle, every counter in ONE fused aggregate."""
    from soda_core_spark.operators.profiling import semantic_type_inference

    d = _t(spark, sf_dir, "documents")
    return semantic_type_inference(d, ["doc_id", "n_chars", "lang", "text"])


_Q188_SQL = """
WITH agg AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN p_partkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS nn_partkey,
         count(DISTINCT p_partkey)::BIGINT AS nd_partkey,
         sum(CASE WHEN p_name IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS nn_name,
         count(DISTINCT p_name)::BIGINT AS nd_name,
         sum(CASE WHEN p_brand IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS nn_brand,
         count(DISTINCT p_brand)::BIGINT AS nd_brand,
         sum(CASE WHEN p_size IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS nn_size,
         count(DISTINCT p_size)::BIGINT AS nd_size
  FROM part
)
SELECT "column", n_rows, n_nonnull, n_distinct,
       round(CASE WHEN n_nonnull > 0
             THEN n_distinct::DOUBLE / n_nonnull END, 6) AS uniqueness,
       (n_nonnull = n_rows AND n_distinct = n_rows AND n_rows > 0)
         AS is_pk_candidate
FROM (
  SELECT 'p_brand' AS "column", n AS n_rows, nn_brand AS n_nonnull,
         nd_brand AS n_distinct FROM agg
  UNION ALL
  SELECT 'p_name', n, nn_name, nd_name FROM agg
  UNION ALL
  SELECT 'p_partkey', n, nn_partkey, nd_partkey FROM agg
  UNION ALL
  SELECT 'p_size', n, nn_size, nd_size FROM agg
)
ORDER BY "column"
"""


@register("q188_pk_candidates", _Q188_SQL)
def q188(spark, sf_dir):
    """Primary-key candidacy audit over part columns
    (operators/profiling.py primary_key_candidates): measured NULL-free
    full-distinctness — what the reference's schema check takes on
    faith from catalog metadata, verified against the data in ONE
    multi-distinct aggregate."""
    from soda_core_spark.operators.profiling import primary_key_candidates

    p = _t(spark, sf_dir, "part")
    return primary_key_candidates(
        p, ["p_partkey", "p_name", "p_brand", "p_size"]
    )


# ---------------------------------------------------------------------------
# Missingness structure + per-doc hapax share (operators/profiling.py)
# ---------------------------------------------------------------------------

_Q189_SQL = """
WITH ind AS (
  SELECT CASE WHEN user_id IS NULL THEN 1 ELSE 0 END AS user_id,
         CASE WHEN value IS NULL OR isnan(value) THEN 1 ELSE 0 END
           AS value,
         CASE WHEN props IS NULL THEN 1 ELSE 0 END AS props
  FROM events
),
agg AS (
  SELECT count(*)::BIGINT AS n,
         sum(user_id)::BIGINT AS m_user_id, sum(value)::BIGINT AS m_value,
         sum(props)::BIGINT AS m_props,
         sum(user_id * value)::BIGINT AS s_uv,
         sum(user_id * props)::BIGINT AS s_up,
         sum(value * props)::BIGINT AS s_vp,
         sum(user_id * user_id)::BIGINT AS s_uu,
         sum(value * value)::BIGINT AS s_vv,
         sum(props * props)::BIGINT AS s_pp
  FROM ind
),
pairs AS (
  SELECT 'props' AS col_a, 'user_id' AS col_b, n,
         m_props AS ma, m_user_id AS mb, s_up AS sab,
         s_pp AS saa, s_uu AS sbb FROM agg
  UNION ALL
  SELECT 'props', 'value', n, m_props, m_value, s_vp, s_pp, s_vv FROM agg
  UNION ALL
  SELECT 'user_id', 'value', n, m_user_id, m_value, s_uv, s_uu, s_vv
  FROM agg
)
SELECT col_a, col_b, n,
       round(ma::DOUBLE / n, 6) AS null_rate_a,
       round(mb::DOUBLE / n, 6) AS null_rate_b,
       round(CASE WHEN n >= 2
                   AND (n::DOUBLE * saa - ma::DOUBLE * ma) > 0
                   AND (n::DOUBLE * sbb - mb::DOUBLE * mb) > 0
             THEN (n::DOUBLE * sab - ma::DOUBLE * mb)
                  / sqrt((n::DOUBLE * saa - ma::DOUBLE * ma)
                         * (n::DOUBLE * sbb - mb::DOUBLE * mb)) END, 6)
         AS phi
FROM pairs ORDER BY col_a, col_b
"""


@register("q189_missingness", _Q189_SQL)
def q189(spark, sf_dir):
    """Missingness structure over the events nullable columns
    (operators/profiling.py missingness_structure): pairwise φ of the
    null indicators + per-column null rates — do columns go NULL
    together (one broken upstream stage) or independently. Reuses the
    one-pass correlation-matrix aggregation on 0/1 indicators."""
    from soda_core_spark.operators.profiling import missingness_structure

    e = _t(spark, sf_dir, "events")
    # alphabetical column order so pair labels (col_a, col_b)
    # match the oracle's enumeration
    return missingness_structure(e, ["props", "user_id", "value"])


_Q190_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> ''))
           AS tok
  FROM documents
),
totals AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM toks GROUP BY 1),
hapax AS (
  SELECT tok FROM toks GROUP BY tok HAVING count(*) = 1
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_hapax
  FROM toks JOIN hapax USING (tok) GROUP BY 1
)
SELECT t.doc_id, t.n_tokens,
       coalesce(p.n_hapax, 0)::BIGINT AS n_hapax,
       round(coalesce(p.n_hapax, 0)::DOUBLE / t.n_tokens, 6)
         AS hapax_share
FROM totals t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
"""


@register("q190_hapax_share", _Q190_SQL)
def q190(spark, sf_dir):
    """Per-document corpus-hapax token share
    (operators/profiling.py hapax_share_per_doc): the doc-level
    novelty/gibberish drilldown of q162's unseen mass — the hapax join
    is fan-out-free by construction (a hapax occurs once), one
    vocabulary groupBy plus a per-doc reduce."""
    from soda_core_spark.operators.profiling import hapax_share_per_doc

    d = _t(spark, sf_dir, "documents")
    return hapax_share_per_doc(d)


# ---------------------------------------------------------------------------
# Signal drift panel (operators/profiling.py signal_drift_panel)
# ---------------------------------------------------------------------------

_Q191_SQL = """
WITH base AS (
  SELECT ((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 2) = 1)
           AS b,
         length(coalesce(text, ''))::DOUBLE AS n_chars,
         (len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))
          + length(regexp_replace(coalesce(text, ''),
                                  '[A-Za-z0-9 \t\n\r]', '', 'g')))::DOUBLE
           AS n_tokens,
         len(list_filter(regexp_split_to_array(coalesce(text, ''),
                                               '[ \t\n\r]+'),
             w -> w <> ''))::DOUBLE AS n_words
  FROM documents
),
long AS (
  SELECT b, 'n_chars' AS sig, n_chars AS val FROM base
  UNION ALL
  SELECT b, 'n_tokens', n_tokens FROM base
  UNION ALL
  SELECT b, 'n_words', n_words FROM base
),
grain AS (
  SELECT sig, val,
         sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN b THEN 1 ELSE 0 END) AS cb
  FROM long WHERE val IS NOT NULL GROUP BY 1, 2
),
totals AS (
  SELECT sig, sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
         sum(val * ca) AS sa, sum(val * cb) AS sb
  FROM grain GROUP BY 1
),
gaps AS (
  SELECT sig, max(abs(cum_a / n_a - cum_b / n_b)) AS ks
  FROM (
    SELECT g.sig,
           sum(g.ca) OVER (PARTITION BY g.sig ORDER BY g.val) AS cum_a,
           sum(g.cb) OVER (PARTITION BY g.sig ORDER BY g.val) AS cum_b,
           t.n_a::DOUBLE AS n_a, t.n_b::DOUBLE AS n_b
    FROM grain g JOIN totals t USING (sig)
  ) GROUP BY 1
)
SELECT t.sig AS signal, t.n_a, t.n_b,
       round(CASE WHEN t.n_a > 0 THEN t.sa / t.n_a END, 6) AS mean_a,
       round(CASE WHEN t.n_b > 0 THEN t.sb / t.n_b END, 6) AS mean_b,
       round(CASE WHEN t.n_a > 0 AND t.n_b > 0
             THEN t.sb / t.n_b - t.sa / t.n_a END, 6) AS mean_shift,
       round(CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN g.ks END, 6) AS ks
FROM totals t JOIN gaps g USING (sig)
ORDER BY signal
"""


@register("q191_signal_drift_panel", _Q191_SQL)
def q191(spark, sf_dir):
    """Release-gate drift panel (operators/profiling.py
    signal_drift_panel): exact two-sample KS + mean shift for THREE
    length signals at once between the md5-parity halves of the corpus
    — the ks_drift value-grain trick stacked across signals, one scan,
    ECDF windows bounded per signal. A self-test split: drift ~0 by
    construction, the panel's calibration zero."""
    from soda_core_spark.functions.text import token_count_bpe_ish
    from soda_core_spark.operators.profiling import signal_drift_panel

    d = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    prefix32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return signal_drift_panel(
        d,
        {
            "n_chars": F.length(t),
            "n_tokens": token_count_bpe_ish(t),
            "n_words": F.size(words_col(t)),
        },
        split=(prefix32 % 2) == 1,
    )


# ---------------------------------------------------------------------------
# Language-mix entropy per source (operators/profiling.py language_mix)
# ---------------------------------------------------------------------------

_Q192_SQL = """
WITH grain AS (
  SELECT source AS "group",
         coalesce(lang::VARCHAR, '<null>') AS lang,
         count(*)::BIGINT AS n
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT "group", sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_langs,
         arg_min(lang, lpad((1000000000000 - n)::VARCHAR, 13, '0')
                       || '|' || lang) AS top_lang,
         max(n)::BIGINT AS top_n
  FROM grain GROUP BY 1
),
ent AS (
  SELECT g."group",
         sum(-(g.n::DOUBLE / t.n_docs) * ln(g.n::DOUBLE / t.n_docs)) AS h
  FROM grain g JOIN tot t USING ("group") GROUP BY 1
)
SELECT t."group", t.n_docs, t.n_langs, t.top_lang,
       round(t.top_n::DOUBLE / t.n_docs, 6) AS top_share,
       round(e.h, 6) AS lang_entropy,
       round(exp(e.h), 6) AS effective_langs
FROM tot t JOIN ent e USING ("group")
ORDER BY t."group"
"""


@register("q192_language_mix", _Q192_SQL)
def q192(spark, sf_dir):
    """Language-mix profile per source (operators/profiling.py
    language_mix): declared-language Shannon entropy, effective
    language count, modal language with deterministic tiebreak — the
    crawl-scope drift read beside q105's declared-vs-detected mismatch.
    One (source, lang) groupBy; everything after is grain-level."""
    from soda_core_spark.operators.profiling import language_mix

    d = _t(spark, sf_dir, "documents")
    return language_mix(d)


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit (operators/profiling.py
# k_anonymity_audit)
# ---------------------------------------------------------------------------

_Q193_SQL = """
WITH classes AS (
  SELECT coalesce(source::VARCHAR, '<null>') AS source,
         coalesce(lang::VARCHAR, '<null>') AS lang,
         coalesce((n_chars // 500)::VARCHAR, '<null>') AS size_bucket,
         count(*)::BIGINT AS size,
         count(DISTINCT coalesce((doc_id % 7)::VARCHAR, '<null>'))
           ::BIGINT AS l
  FROM documents GROUP BY 1, 2, 3
)
SELECT coalesce(sum(size), 0)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_classes,
       min(size)::BIGINT AS min_class_size,
       round(coalesce(sum(CASE WHEN size < 2 THEN size END), 0)::DOUBLE
             / sum(size), 6) AS share_below_k2,
       round(coalesce(sum(CASE WHEN size < 5 THEN size END), 0)::DOUBLE
             / sum(size), 6) AS share_below_k5,
       round(coalesce(sum(CASE WHEN size < 10 THEN size END), 0)::DOUBLE
             / sum(size), 6) AS share_below_k10,
       min(l)::BIGINT AS min_l_diversity,
       round(avg(l), 6) AS mean_l_diversity
FROM classes
"""


@register("q193_k_anonymity", _Q193_SQL)
def q193(spark, sf_dir):
    """k-anonymity / l-diversity audit (operators/profiling.py
    k_anonymity_audit): equivalence classes over (source, lang,
    500-char size bucket) quasi-identifiers with a synthetic sensitive
    attribute (doc_id mod 7) — fraction of rows linkable below
    k ∈ {2,5,10} and the sensitive-value diversity floor. One groupBy
    to class grain, one grain reduce; the compliance layer above
    duplicate/missing checks."""
    from soda_core_spark.operators.profiling import k_anonymity_audit

    d = _t(spark, sf_dir, "documents")
    staged = d.select(
        "source",
        "lang",
        F.floor(F.col("n_chars") / 500).alias("size_bucket"),
        (F.col("doc_id") % 7).alias("sensitive"),
    )
    return k_anonymity_audit(
        staged, ["source", "lang", "size_bucket"], "sensitive"
    )


# ---------------------------------------------------------------------------
# Theil's uncertainty coefficient (operators/profiling.py
# uncertainty_coefficient)
# ---------------------------------------------------------------------------

_Q194_SQL = """
WITH grain AS (
  SELECT coalesce(source::VARCHAR, '<null>') AS a,
         coalesce(lang::VARCHAR, '<null>') AS b,
         count(*)::BIGINT AS n
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT coalesce(sum(n), 0)::BIGINT AS nt FROM grain),
ha AS (
  SELECT coalesce(sum(-(m::DOUBLE / t.nt) * ln(m::DOUBLE / t.nt)), 0.0)
           AS ha
  FROM (SELECT a, sum(n)::BIGINT AS m FROM grain GROUP BY 1)
  CROSS JOIN tot t
),
hb AS (
  SELECT coalesce(sum(-(m::DOUBLE / t.nt) * ln(m::DOUBLE / t.nt)), 0.0)
           AS hb
  FROM (SELECT b, sum(n)::BIGINT AS m FROM grain GROUP BY 1)
  CROSS JOIN tot t
),
hab AS (
  SELECT coalesce(sum(-(n::DOUBLE / t.nt) * ln(n::DOUBLE / t.nt)), 0.0)
           AS hab
  FROM grain CROSS JOIN tot t
),
counts AS (
  SELECT count(DISTINCT a)::BIGINT AS n_a,
         count(DISTINCT b)::BIGINT AS n_b FROM grain
)
SELECT 'source' AS col_a, 'lang' AS col_b, t.nt AS n, c.n_a, c.n_b,
       round(ha.ha, 6) AS h_a,
       round(hb.hb, 6) AS h_b,
       round(CASE WHEN hb.hb > 0
             THEN (ha.ha + hb.hb - hab.hab) / hb.hb END, 6)
         AS u_b_given_a,
       round(CASE WHEN ha.ha > 0
             THEN (ha.ha + hb.hb - hab.hab) / ha.ha END, 6)
         AS u_a_given_b
FROM tot t CROSS JOIN counts c CROSS JOIN ha CROSS JOIN hb CROSS JOIN hab
"""


@register("q194_uncertainty_coefficient", _Q194_SQL)
def q194(spark, sf_dir):
    """Theil's U between source and lang (operators/profiling.py
    uncertainty_coefficient): how much of the language's uncertainty
    does knowing the source remove, and in WHICH direction the
    dependency runs — the graded, asymmetric companion to q170's
    binary FD verdict. One contingency groupBy; everything after is
    grain-level."""
    from soda_core_spark.operators.profiling import uncertainty_coefficient

    d = _t(spark, sf_dir, "documents")
    return uncertainty_coefficient(d, "source", "lang")


# ---------------------------------------------------------------------------
# PMI collocations (operators/profiling.py pmi_collocations)
# ---------------------------------------------------------------------------

_Q195_SQL = """
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(
           lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> '') AS l
  FROM documents
),
uni AS (
  SELECT tok, count(*)::BIGINT AS c1
  FROM (SELECT unnest(l) AS tok FROM toks) GROUP BY tok
),
nu AS (SELECT coalesce(sum(c1), 0)::BIGINT AS nu FROM uni),
big AS (
  SELECT a, b, count(*)::BIGINT AS c_ab
  FROM (
    SELECT l[i] AS a, l[i + 1] AS b
    FROM (
      SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
      FROM toks WHERE len(l) >= 2
    )
  ) GROUP BY a, b
)
SELECT big.a, big.b, big.c_ab,
       ua.c1 AS c_a, ub.c1 AS c_b,
       round(ln((big.c_ab::DOUBLE / nu.nu::DOUBLE)
                / ((ua.c1::DOUBLE / nu.nu::DOUBLE)
                   * (ub.c1::DOUBLE / nu.nu::DOUBLE))), 6) AS pmi,
       round(CASE WHEN big.c_ab::DOUBLE / nu.nu::DOUBLE < 1.0
             THEN ln((big.c_ab::DOUBLE / nu.nu::DOUBLE)
                     / ((ua.c1::DOUBLE / nu.nu::DOUBLE)
                        * (ub.c1::DOUBLE / nu.nu::DOUBLE)))
                  / -ln(big.c_ab::DOUBLE / nu.nu::DOUBLE)
             ELSE 1.0 END, 6) AS npmi
FROM big
JOIN uni ua ON big.a = ua.tok
JOIN uni ub ON big.b = ub.tok
CROSS JOIN nu
WHERE big.c_ab >= 5
ORDER BY pmi DESC, big.a, big.b
LIMIT 20
"""


@register("q195_pmi_collocations", _Q195_SQL)
def q195(spark, sf_dir):
    """Top adjacent-token collocations by PMI + NPMI
    (operators/profiling.py pmi_collocations): the cross-document
    phrase/template discovery pass — multiword entities and templated
    constructions the per-doc repetition audits (q51/q52) cannot see.
    Two map-side-combined corpus groupBys; marginals join on the token
    key; top-k is TakeOrderedAndProject."""
    from soda_core_spark.operators.profiling import pmi_collocations

    d = _t(spark, sf_dir, "documents")
    return pmi_collocations(d, text_col="text", min_count=5, top_k=20)


# ---------------------------------------------------------------------------
# Embedding participation ratio (functions/embeddings_qc.py
# participation_ratio)
# ---------------------------------------------------------------------------

_Q196_SQL = """
WITH e AS (
  SELECT list_transform(embedding,
           x -> round(x::DOUBLE * 1000000.0, 0)::BIGINT) AS q
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
),
u AS (SELECT row_number() OVER () AS rid, q FROM e),
ux AS (SELECT rid, i, q[i] AS x FROM u, range(1, 65) r(i)),
s AS (SELECT i, sum(x)::BIGINT AS s FROM ux GROUP BY i),
p AS (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x)::BIGINT AS pp
  FROM ux a JOIN ux b ON a.rid = b.rid AND a.i <= b.i
  GROUP BY 1, 2
),
n AS (SELECT count(*)::BIGINT AS n FROM e),
c AS (
  SELECT p.i, p.j,
         (p.pp::DOUBLE - s1.s::DOUBLE * s2.s::DOUBLE / n.n::DOUBLE)
           / n.n::DOUBLE AS c
  FROM p JOIN s s1 ON p.i = s1.i JOIN s s2 ON p.j = s2.i CROSS JOIN n
),
tr AS (
  SELECT sum(CASE WHEN i = j THEN c END) AS tr,
         sum(CASE WHEN i = j THEN c * c ELSE 2.0 * c * c END) AS tr2
  FROM c
),
allrows AS (SELECT count(*)::BIGINT AS total FROM embeddings)
SELECT n.n AS n, 64 AS dim,
       (allrows.total - n.n)::BIGINT AS n_degenerate,
       round(tr.tr / 1000000000000.0, 6) AS tr_cov,
       round(CASE WHEN tr.tr2 > 0 THEN tr.tr * tr.tr / tr.tr2 END, 6)
         AS participation_ratio,
       round(CASE WHEN tr.tr2 > 0
             THEN tr.tr * tr.tr / tr.tr2 / 64.0 END, 6)
         AS effective_rank_fraction
FROM n CROSS JOIN tr CROSS JOIN allrows
"""


@register("q196_participation_ratio", _Q196_SQL)
def q196(spark, sf_dir):
    """Effective dimensionality (participation ratio) of the embedding
    cloud (functions/embeddings_qc.py participation_ratio): (tr C)² /
    tr(C²) without eigendecomposition — the quantitative form of the
    anisotropy warning (q161). One Arrow-batched integer-Gram pass;
    dim² reduce."""
    from soda_core_spark.functions.embeddings_qc import (
        participation_ratio,
    )

    e = _t(spark, sf_dir, "embeddings")
    return participation_ratio(e, vec_col="embedding", dim=64)


# ---------------------------------------------------------------------------
# Template-start detection (operators/profiling.py template_starts)
# ---------------------------------------------------------------------------

_Q197_SQL = """
WITH base AS (
  SELECT source AS g,
         list_filter(regexp_split_to_array(
           lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> '') AS l
  FROM documents
),
fb AS (
  SELECT g, l[1] || ' ' || l[2] AS fb FROM base WHERE len(l) >= 2
),
grain AS (SELECT g, fb, count(*)::BIGINT AS c FROM fb GROUP BY 1, 2),
tot AS (
  SELECT g, sum(c)::BIGINT AS n_docs, count(*)::BIGINT AS n_starts
  FROM grain GROUP BY g
),
ent AS (
  SELECT grain.g,
         coalesce(sum(-(c::DOUBLE / t.n_docs)
                      * ln(c::DOUBLE / t.n_docs)), 0.0) AS h
  FROM grain JOIN tot t ON grain.g = t.g GROUP BY grain.g
),
modal AS (
  SELECT g, fb AS modal_start, c AS mc FROM (
    SELECT g, fb, c,
           row_number() OVER (PARTITION BY g ORDER BY c DESC, fb) AS rn
    FROM grain
  ) WHERE rn = 1
)
SELECT t.g AS source, t.n_docs, t.n_starts, m.modal_start,
       round(m.mc::DOUBLE / t.n_docs::DOUBLE, 6) AS modal_share,
       round(e.h, 6) AS start_entropy
FROM tot t JOIN modal m ON t.g = m.g JOIN ent e ON t.g = e.g
ORDER BY source
"""


@register("q197_template_starts", _Q197_SQL)
def q197(spark, sf_dir):
    """Opening-bigram concentration per source (operators/profiling.py
    template_starts): feeds and templated sites open every page the
    same way — modal first-bigram share and start entropy catch what
    per-doc repetition and paragraph dedup miss when the shared prefix
    is shorter than their grain. One (group, start) groupBy; all else
    grain-level."""
    from soda_core_spark.operators.profiling import template_starts

    d = _t(spark, sf_dir, "documents")
    return template_starts(d, text_col="text", group_col="source")


# ---------------------------------------------------------------------------
# Bigram conditional entropy (operators/profiling.py bigram_cond_entropy)
# ---------------------------------------------------------------------------

_Q198_SQL = """
WITH base AS (
  SELECT source AS g,
         list_filter(regexp_split_to_array(
           lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> '') AS l
  FROM documents
),
pairs AS (
  SELECT g, l[i] AS a, l[i + 1] AS b
  FROM (
    SELECT g, l, unnest(generate_series(1, len(l) - 1)) AS i
    FROM base WHERE len(l) >= 2
  )
),
grain AS (
  SELECT g, a, b, count(*)::BIGINT AS c FROM pairs GROUP BY 1, 2, 3
),
tot AS (SELECT g, sum(c)::BIGINT AS n FROM grain GROUP BY g),
hp AS (
  SELECT grain.g,
         coalesce(sum(-(c::DOUBLE / t.n) * ln(c::DOUBLE / t.n)), 0.0)
           AS h
  FROM grain JOIN tot t ON grain.g = t.g GROUP BY grain.g
),
hf AS (
  SELECT q.g,
         coalesce(sum(-(m::DOUBLE / t.n) * ln(m::DOUBLE / t.n)), 0.0)
           AS h
  FROM (SELECT g, a, sum(c)::BIGINT AS m FROM grain GROUP BY g, a) q
  JOIN tot t ON q.g = t.g GROUP BY q.g
)
SELECT t.g AS source, t.n AS n_bigrams,
       round(hp.h, 6) AS h_pair, round(hf.h, 6) AS h_first,
       round(hp.h - hf.h, 6) AS h_cond,
       round(exp(hp.h - hf.h), 6) AS ppl_bigram
FROM tot t JOIN hp ON t.g = hp.g JOIN hf ON t.g = hf.g
ORDER BY source
"""


@register("q198_bigram_cond_entropy", _Q198_SQL)
def q198(spark, sf_dir):
    """Token-chain predictability per source (operators/profiling.py
    bigram_cond_entropy): H(next|current) of the adjacent-bigram
    distribution and its perplexity — the corpus-level repetitiveness
    number (per-doc repetition is q51/q52; q195 names the pairs, this
    says how deterministic the whole source's next-token process is).
    One (group, a, b) groupBy; marginals re-aggregate from the grain."""
    from soda_core_spark.operators.profiling import bigram_cond_entropy

    d = _t(spark, sf_dir, "documents")
    return bigram_cond_entropy(d, text_col="text", group_col="source")


# ---------------------------------------------------------------------------
# Simplified silhouette (functions/embeddings_qc.py simplified_silhouette)
# ---------------------------------------------------------------------------

_Q199_SQL = """
WITH ex AS (
  SELECT vec_id, label,
         unnest(embedding) AS x,
         unnest(generate_series(1, len(embedding))) AS ord
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
),
cent AS (
  SELECT label AS cl, ord, round(avg(x::DOUBLE), 12) AS c
  FROM ex GROUP BY label, ord
),
dist AS (
  SELECT e.vec_id, e.label AS own, c.cl,
         sqrt(sum((e.x::DOUBLE - c.c) * (e.x::DOUBLE - c.c))) AS d
  FROM ex e JOIN cent c ON e.ord = c.ord
  GROUP BY e.vec_id, e.label, c.cl
),
per_row0 AS (
  SELECT vec_id, own,
         min(CASE WHEN cl = own THEN d END) AS a,
         min(CASE WHEN cl <> own THEN d END) AS b
  FROM dist GROUP BY vec_id, own
),
nearest AS (
  SELECT vec_id, cl AS nl FROM (
    SELECT vec_id, cl,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d, cl) AS rn
    FROM dist WHERE cl <> own
  ) WHERE rn = 1
),
per_row AS (
  SELECT p.vec_id, p.own, p.a, p.b, n.nl
  FROM per_row0 p LEFT JOIN nearest n ON p.vec_id = n.vec_id
),
scored AS (
  SELECT own,
         CASE
           WHEN b IS NOT NULL AND greatest(a, b) > 0
             THEN round(round((b - a) / greatest(a, b), 6)
                        * 1000000.0)::BIGINT
           WHEN b IS NOT NULL THEN 0
         END AS ic,
         nl
  FROM per_row
),
agg AS (
  SELECT own, count(*)::BIGINT AS n_vecs,
         count(ic)::BIGINT AS n_s,
         sum(ic) AS sum_ic,
         sum(CASE WHEN ic < 0 THEN 1 ELSE 0 END)::BIGINT AS neg
  FROM scored GROUP BY own
),
modal AS (
  SELECT own, nl AS nearest_label FROM (
    SELECT own, nl, count(*) AS c,
           row_number() OVER (PARTITION BY own
                              ORDER BY count(*) DESC, nl) AS rn
    FROM scored WHERE nl IS NOT NULL GROUP BY own, nl
  ) WHERE rn = 1
)
SELECT agg.own AS label, agg.n_vecs,
       round(agg.sum_ic::DOUBLE / agg.n_s::DOUBLE / 1000000.0, 6)
         AS mean_silhouette,
       round(agg.neg::DOUBLE / agg.n_vecs::DOUBLE, 6) AS p_negative,
       modal.nearest_label
FROM agg LEFT JOIN modal ON agg.own = modal.own
ORDER BY label
"""


@register("q199_simplified_silhouette", _Q199_SQL)
def q199(spark, sf_dir):
    """Per-label simplified silhouette (functions/embeddings_qc.py
    simplified_silhouette): (b − a)/max(a, b) against label centroids —
    the one-number cluster-quality verdict combining within-coherence
    (q114) and between-separation (q153), plus the modal nearest rival
    label. Centroids broadcast; distances fold row-locally."""
    from soda_core_spark.functions.embeddings_qc import (
        simplified_silhouette,
    )

    e = _t(spark, sf_dir, "embeddings")
    return simplified_silhouette(e, vec_col="embedding",
                                 label_col="label")


# ---------------------------------------------------------------------------
# Head-vocabulary rank drift / RBO (operators/profiling.py vocab_rank_drift)
# ---------------------------------------------------------------------------

_Q200_SQL = """
WITH grain AS (
  SELECT (doc_id % 12)::INT AS day, tok, count(*)::BIGINT AS c
  FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '[ \t\n\r]+'),
             w -> w <> '')) AS tok
    FROM documents
  ) GROUP BY 1, 2
),
ranks AS (
  SELECT day, tok, r FROM (
    SELECT day, tok,
           row_number() OVER (PARTITION BY day
                              ORDER BY c DESC, tok) AS r
    FROM grain
  ) WHERE r <= 50
),
days AS (SELECT DISTINCT day FROM ranks),
spine AS (
  SELECT da.day AS day_a, db.day AS day_b
  FROM days da JOIN days db ON da.day + 1 = db.day
),
matched AS (
  SELECT a.day AS day_a, greatest(a.r, b.r) AS lo
  FROM ranks a JOIN ranks b
    ON a.tok = b.tok AND a.day + 1 = b.day
),
depth_grain AS (
  SELECT day_a, unnest(generate_series(lo, 50)) AS d FROM matched
),
contrib AS (
  SELECT day_a, sum(pow(0.9, d::DOUBLE - 1) / d::DOUBLE) AS s
  FROM depth_grain GROUP BY day_a
),
ov AS (
  SELECT day_a, count(*)::BIGINT AS overlap_k FROM matched GROUP BY day_a
)
SELECT spine.day_a, spine.day_b, 50 AS k,
       coalesce(ov.overlap_k, 0)::BIGINT AS overlap_k,
       round(coalesce(0.1 * contrib.s, 0.0), 6) AS rbo
FROM spine
LEFT JOIN ov ON spine.day_a = ov.day_a
LEFT JOIN contrib ON spine.day_a = contrib.day_a
ORDER BY spine.day_a
"""


@register("q200_vocab_rank_drift", _Q200_SQL)
def q200(spark, sf_dir):
    """Rank-biased overlap of consecutive days' top-50 token rankings
    (operators/profiling.py vocab_rank_drift): the top-weighted drift
    metric — PSI/KS and novelty counts stay flat when the HEAD
    vocabulary merely reorders; RBO drops. Day = doc_id %% 12 (the q136
    synthetic-day convention). One (day, token) groupBy; per-day top-k
    via WindowGroupLimit; all else on days·k rows."""
    from soda_core_spark.operators.profiling import vocab_rank_drift

    d = _t(spark, sf_dir, "documents")
    return vocab_rank_drift(
        d, text_col="text",
        day_expr=(F.col("doc_id") % 12), top_k=50, p=0.9,
    )


# ---------------------------------------------------------------------------
# Sessionization summary (operators/profiling.py sessionization_summary)
# ---------------------------------------------------------------------------

_Q201_SQL = """
WITH base AS (
  SELECT user_id AS u,
         epoch_us(ts) AS us,
         event_id AS id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
marked AS (
  SELECT u, us, id,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM base
  WINDOW w AS (PARTITION BY u ORDER BY us, id)
),
sess AS (
  SELECT u, us,
         sum(new_s) OVER (PARTITION BY u ORDER BY us, id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
per_session AS (
  SELECT u, sid, count(*)::BIGINT AS n,
         (max(us) - min(us))::BIGINT AS dur_us
  FROM sess GROUP BY u, sid
)
SELECT count(DISTINCT u)::BIGINT AS n_users,
       count(*)::BIGINT AS n_sessions,
       round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE, 6) AS bounce_rate,
       round(sum(n)::DOUBLE / count(*)::DOUBLE, 6) AS mean_events,
       round(sum(dur_us)::DOUBLE / count(*)::DOUBLE / 1000000.0, 6)
         AS mean_duration_s,
       max(n)::BIGINT AS max_events
FROM per_session
"""


@register("q201_sessionization", _Q201_SQL)
def q201(spark, sf_dir):
    """Inactivity-gap sessionization summary (operators/profiling.py
    sessionization_summary): sessions cut at 30-min user gaps on exact
    microsecond integers; bounce rate / events-per-session /
    duration — the gap-structure health numbers per-event checks can't
    see. ONE per-user window shuffle; aggregates map-side combine."""
    from soda_core_spark.operators.profiling import (
        sessionization_summary,
    )

    e = _t(spark, sf_dir, "events")
    return sessionization_summary(e, gap_s=1800)


# ---------------------------------------------------------------------------
# Source KL distinctiveness (operators/profiling.py
# source_kl_distinctiveness)
# ---------------------------------------------------------------------------

_Q202_SQL = """
WITH gt AS (
  SELECT source AS g, tok, count(*)::BIGINT AS c
  FROM (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(
               lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> ''))
             AS tok
    FROM documents
  ) GROUP BY source, tok
),
vocab AS (
  SELECT tok FROM (SELECT tok, sum(c) AS tc FROM gt GROUP BY tok)
  ORDER BY tc DESC, tok LIMIT 1000
),
folded AS (
  SELECT g,
         CASE WHEN v.tok IS NOT NULL THEN gt.tok ELSE '<oov>' END AS vt,
         sum(c)::BIGINT AS c
  FROM gt LEFT JOIN vocab v ON gt.tok = v.tok
  GROUP BY 1, 2
),
cells AS (SELECT DISTINCT vt FROM folded),
gtot AS (SELECT g, sum(c)::BIGINT AS n_g FROM folded GROUP BY g),
ctot AS (SELECT vt, sum(c)::BIGINT AS cc FROM folded GROUP BY vt),
n_all AS (SELECT coalesce(sum(c), 0)::BIGINT AS n_all FROM folded),
vsize AS (SELECT count(*)::BIGINT AS vv FROM cells),
grid AS (
  SELECT gtot.g, cells.vt, gtot.n_g,
         coalesce(f.c, 0)::BIGINT AS cg, ctot.cc
  FROM gtot CROSS JOIN cells
  LEFT JOIN folded f ON f.g = gtot.g AND f.vt = cells.vt
  JOIN ctot ON ctot.vt = cells.vt
),
kl AS (
  SELECT g, max(n_g)::BIGINT AS n_tokens,
         round(sum(
           ((cg::DOUBLE + 0.5) / (n_g::DOUBLE + 0.5 * vsize.vv::DOUBLE))
           * ln(((cg::DOUBLE + 0.5)
                 / (n_g::DOUBLE + 0.5 * vsize.vv::DOUBLE))
                / ((cc::DOUBLE + 0.5)
                   / (n_all.n_all::DOUBLE
                      + 0.5 * vsize.vv::DOUBLE)))), 6) AS kl_nats
  FROM grid CROSS JOIN n_all CROSS JOIN vsize
  GROUP BY g
),
top AS (
  SELECT g, vt AS top_token FROM (
    SELECT g, vt,
           row_number() OVER (PARTITION BY g
                              ORDER BY cg DESC, vt) AS rn
    FROM grid
  ) WHERE rn = 1
)
SELECT kl.g AS source, kl.n_tokens, kl.kl_nats, top.top_token
FROM kl JOIN top ON kl.g = top.g
ORDER BY source
"""


@register("q202_source_kl", _Q202_SQL)
def q202(spark, sf_dir):
    """Per-source KL divergence from the corpus unigram mix
    (operators/profiling.py source_kl_distinctiveness): the |S|-row
    scalar complement to q135's pairwise JSD, over the same global
    top-1000 + <oov> vocabulary fold, smoothed α = 0.5 on both sides.
    One corpus groupBy; all else |sources|·1001 rows."""
    from soda_core_spark.operators.profiling import (
        source_kl_distinctiveness,
    )

    d = _t(spark, sf_dir, "documents")
    return source_kl_distinctiveness(
        d, group_col="source", text_col="text", top_k=1000, alpha=0.5
    )


# ---------------------------------------------------------------------------
# Circadian activity profile (operators/profiling.py circadian_profile)
# ---------------------------------------------------------------------------

_Q203_SQL = """
WITH grain AS (
  SELECT event_type AS g, hour(ts)::INT AS h, count(*)::BIGINT AS c
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT g, sum(c)::BIGINT AS n_events FROM grain GROUP BY g),
j AS (SELECT grain.g, grain.h, grain.c, tot.n_events
      FROM grain JOIN tot ON grain.g = tot.g),
stats AS (
  SELECT g, max(n_events)::BIGINT AS n_events,
         coalesce(sum(-(c::DOUBLE / n_events)
                      * ln(c::DOUBLE / n_events)), 0.0) AS h_ent,
         sum((c::DOUBLE - n_events::DOUBLE / 24.0)
             * (c::DOUBLE - n_events::DOUBLE / 24.0)
             / (n_events::DOUBLE / 24.0)) AS chi_present,
         count(*)::BIGINT AS nh
  FROM j GROUP BY g
),
peak AS (
  SELECT g, h AS peak_hour,
         round(c::DOUBLE / n_events::DOUBLE, 6) AS peak_share
  FROM (
    SELECT g, h, c, n_events,
           row_number() OVER (PARTITION BY g
                              ORDER BY c DESC, h) AS rn
    FROM j
  ) WHERE rn = 1
)
SELECT s.g AS event_type, s.n_events, p.peak_hour, p.peak_share,
       round(s.h_ent, 6) AS hour_entropy,
       round(s.chi_present
             + (24.0 - s.nh::DOUBLE) * (s.n_events::DOUBLE / 24.0), 6)
         AS chi2_uniform
FROM stats s JOIN peak p ON s.g = p.g
ORDER BY event_type
"""


@register("q203_circadian_profile", _Q203_SQL)
def q203(spark, sf_dir):
    """Hour-of-day activity profile per event type
    (operators/profiling.py circadian_profile): hourly entropy, peak
    hour/share, and uniformity chi-square — the automation tell at the
    grain where schedulers show (q180 covers weekdays). At most
    24·|groups| rows ever shuffle."""
    from soda_core_spark.operators.profiling import circadian_profile

    e = _t(spark, sf_dir, "events")
    return circadian_profile(e, ts_col="ts", group_col="event_type")


# ---------------------------------------------------------------------------
# Tukey-fence outlier audit (operators/profiling.py tukey_outlier_audit)
# ---------------------------------------------------------------------------

_Q204_SQL = """
WITH base AS (
  SELECT event_type AS g, value::DOUBLE AS v
  FROM events WHERE value IS NOT NULL
),
qs AS (
  SELECT g, count(*)::BIGINT AS n,
         round(quantile_cont(v, 0.25), 6) AS q1,
         round(quantile_cont(v, 0.5), 6) AS median,
         round(quantile_cont(v, 0.75), 6) AS q3
  FROM base GROUP BY g
),
fenced AS (
  SELECT g, n, q1, median, q3,
         round(q3 - q1, 6) AS iqr,
         round(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
         round(q3 + 1.5 * (q3 - q1), 6) AS hi_fence
  FROM qs
),
counted AS (
  SELECT b.g,
         sum(CASE WHEN b.v < f.lo_fence THEN 1 ELSE 0 END)::BIGINT
           AS n_low,
         sum(CASE WHEN b.v > f.hi_fence THEN 1 ELSE 0 END)::BIGINT
           AS n_high
  FROM base b JOIN fenced f ON b.g = f.g
  GROUP BY b.g
)
SELECT f.g AS event_type, f.n, f.q1, f.median, f.q3, f.iqr,
       f.lo_fence, f.hi_fence, c.n_low, c.n_high,
       round((c.n_low + c.n_high)::DOUBLE / f.n::DOUBLE, 6)
         AS outlier_share
FROM fenced f JOIN counted c ON f.g = c.g
ORDER BY event_type
"""


@register("q204_tukey_outliers", _Q204_SQL)
def q204(spark, sf_dir):
    """Tukey-fence outlier audit per event type
    (operators/profiling.py tukey_outlier_audit): exact quartiles,
    1.5·IQR fences from the 6 dp-rounded quartiles, and the share of
    data outside — robust where the mean/stddev checks get dragged by
    the tail being measured; approx_percentile is the stated 100-TB
    swap."""
    from soda_core_spark.operators.profiling import tukey_outlier_audit

    e = _t(spark, sf_dir, "events")
    return tukey_outlier_audit(
        e, value_col="value", group_col="event_type", k=1.5
    )


# ---------------------------------------------------------------------------
# Calendar-gap audit (operators/profiling.py calendar_gap_audit)
# ---------------------------------------------------------------------------

_Q205_SQL = """
WITH days AS (
  SELECT event_type AS g, (ts::TIMESTAMP)::DATE AS d
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
gaps AS (
  SELECT g, d,
         lag(d) OVER (PARTITION BY g ORDER BY d) AS prev,
         date_diff('day', lag(d) OVER (PARTITION BY g ORDER BY d), d)
           - 1 AS gap
  FROM days
),
agg AS (
  SELECT g, min(d) AS first_day, max(d) AS last_day,
         count(*)::BIGINT AS present_days,
         coalesce(max(gap), 0)::BIGINT AS maxgap
  FROM gaps GROUP BY g
),
starts AS (
  SELECT gaps.g, min(gaps.prev + INTERVAL 1 DAY)::DATE AS gap_start
  FROM gaps JOIN agg ON gaps.g = agg.g
  WHERE gaps.gap > 0 AND gaps.gap = agg.maxgap
  GROUP BY gaps.g
)
SELECT agg.g AS event_type,
       strftime(agg.first_day, '%Y-%m-%d') AS first_day,
       strftime(agg.last_day, '%Y-%m-%d') AS last_day,
       (date_diff('day', agg.first_day, agg.last_day) + 1)::BIGINT
         AS span_days,
       agg.present_days,
       (date_diff('day', agg.first_day, agg.last_day) + 1
        - agg.present_days)::BIGINT AS missing_days,
       round(agg.present_days::DOUBLE
             / (date_diff('day', agg.first_day, agg.last_day)
                + 1)::DOUBLE, 6) AS coverage,
       agg.maxgap AS max_gap_days,
       strftime(starts.gap_start, '%Y-%m-%d') AS gap_start
FROM agg LEFT JOIN starts ON agg.g = starts.g
ORDER BY event_type
"""


@register("q205_calendar_gaps", _Q205_SQL)
def q205(spark, sf_dir):
    """Missing-day detection per event type (operators/profiling.py
    calendar_gap_audit): which calendar days between first and last
    simply never arrived — the completeness audit volume-anomaly
    checks (q137) cannot express. One (group, day) groupBy; the gap
    scan is a lag window over that tiny grain."""
    from soda_core_spark.operators.profiling import calendar_gap_audit

    e = _t(spark, sf_dir, "events")
    return calendar_gap_audit(e, ts_col="ts", group_col="event_type")


# ---------------------------------------------------------------------------
# Row-level derived-column audit (operators/profiling.py
# derived_column_audit)
# ---------------------------------------------------------------------------

_Q206_SQL = """
SELECT source,
       count(*)::BIGINT AS n_rows,
       sum(CASE WHEN n_chars IS NULL AND length(text) IS NULL
           THEN 1 ELSE 0 END)::BIGINT AS n_both_null,
       sum(CASE WHEN (n_chars IS NULL) <> (length(text) IS NULL)
           THEN 1 ELSE 0 END)::BIGINT AS n_null_mismatch,
       sum(CASE WHEN n_chars IS NOT NULL AND length(text) IS NOT NULL
                 AND n_chars <> length(text)
           THEN 1 ELSE 0 END)::BIGINT AS n_value_mismatch,
       round((count(*)
              - sum(CASE WHEN (n_chars IS NULL) <> (length(text) IS NULL)
                    THEN 1 ELSE 0 END)
              - sum(CASE WHEN n_chars IS NOT NULL
                          AND length(text) IS NOT NULL
                          AND n_chars <> length(text)
                    THEN 1 ELSE 0 END))::DOUBLE
             / count(*)::DOUBLE, 6) AS match_rate,
       round(max(CASE WHEN n_chars IS NOT NULL
                       AND length(text) IS NOT NULL
                 THEN abs(n_chars::DOUBLE - length(text)::DOUBLE)
                 END), 6) AS max_abs_drift
FROM documents
GROUP BY source
ORDER BY source
"""


@register("q206_derived_column_audit", _Q206_SQL)
def q206(spark, sf_dir):
    """Row-level stored-vs-derived consistency for n_chars vs
    length(text) (operators/profiling.py derived_column_audit): the
    row-grain sibling of q175's table-level reconciliation — totals
    can balance while rows disagree in compensating directions. ONE
    fused projection + groupBy, zero extra scan."""
    from soda_core_spark.operators.profiling import derived_column_audit

    d = _t(spark, sf_dir, "documents")
    return derived_column_audit(
        d, stored_col="n_chars",
        derived=F.length(F.col("text")).cast("long"),
        group_col="source",
    )


# ---------------------------------------------------------------------------
# Lag-1 value autocorrelation (operators/profiling.py
# value_autocorrelation)
# ---------------------------------------------------------------------------

_Q207_SQL = """
WITH base AS (
  SELECT event_type AS g,
         epoch_us(ts) AS us, event_id AS id, value::DOUBLE AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
paired AS (
  SELECT g, v,
         lag(v) OVER (PARTITION BY g ORDER BY us, id) AS p
  FROM base
),
mom AS (
  SELECT g, count(*)::BIGINT AS n_pairs,
         sum(v) AS sy, sum(p) AS sx,
         sum(v * v) AS syy, sum(p * p) AS sxx, sum(p * v) AS sxy,
         sum(abs(v - p)) AS sad
  FROM paired WHERE p IS NOT NULL GROUP BY g
)
SELECT g AS event_type, n_pairs,
       round(CASE WHEN n_pairs >= 2
                   AND sxx - sx * sx / n_pairs::DOUBLE > 0
                   AND syy - sy * sy / n_pairs::DOUBLE > 0
             THEN (sxy - sx * sy / n_pairs::DOUBLE)
                  / sqrt((sxx - sx * sx / n_pairs::DOUBLE)
                         * (syy - sy * sy / n_pairs::DOUBLE))
             END, 6) AS r_lag1,
       round(sad / n_pairs::DOUBLE, 6) AS mean_abs_step
FROM mom
ORDER BY event_type
"""


@register("q207_value_autocorrelation", _Q207_SQL)
def q207(spark, sf_dir):
    """Lag-1 Pearson autocorrelation of the value stream per event
    type (operators/profiling.py value_autocorrelation): white noise
    ≈ 0; memory (stuck sensor, retry resend, inserted smoothing)
    drifts it up; oscillation goes negative. One per-group window to
    attach the lag; moment sums map-side combine (the q177
    discipline)."""
    from soda_core_spark.operators.profiling import value_autocorrelation

    e = _t(spark, sf_dir, "events")
    return value_autocorrelation(e)


# ---------------------------------------------------------------------------
# Event-type mix shift (operators/profiling.py type_mix_shift)
# ---------------------------------------------------------------------------

_Q208_SQL = """
WITH base AS (
  SELECT event_type AS g, epoch_us(ts) AS us
  FROM events WHERE ts IS NOT NULL
),
rng AS (SELECT min(us) AS lo, max(us) AS hi FROM base),
grain AS (
  SELECT g,
         CASE WHEN us < lo + ((hi - lo) // 2) THEN 1 ELSE 2 END AS h,
         count(*)::BIGINT AS c
  FROM base CROSS JOIN rng
  GROUP BY 1, 2
),
tots AS (SELECT h, sum(c)::BIGINT AS t FROM grain GROUP BY h),
cats AS (SELECT DISTINCT g FROM grain),
grid AS (
  SELECT cats.g, tots.h, tots.t, coalesce(grain.c, 0)::BIGINT AS c
  FROM cats CROSS JOIN tots
  LEFT JOIN grain ON grain.g = cats.g AND grain.h = tots.h
),
piv AS (
  SELECT g,
         sum(CASE WHEN h = 1 THEN c ELSE 0 END)::BIGINT AS n_first,
         sum(CASE WHEN h = 2 THEN c ELSE 0 END)::BIGINT AS n_second,
         max(CASE WHEN h = 1 THEN t END)::BIGINT AS t1,
         max(CASE WHEN h = 2 THEN t END)::BIGINT AS t2
  FROM grid GROUP BY g
)
SELECT g AS event_type, n_first, n_second,
       round(n_first::DOUBLE / t1::DOUBLE, 6) AS p_first,
       round(n_second::DOUBLE / t2::DOUBLE, 6) AS p_second,
       round(n_second::DOUBLE / t2::DOUBLE
             - n_first::DOUBLE / t1::DOUBLE, 6) AS delta,
       round((CASE WHEN n_first > 0
              THEN (n_first::DOUBLE / t1::DOUBLE)
                   * ln((n_first::DOUBLE / t1::DOUBLE)
                        / ((n_first::DOUBLE / t1::DOUBLE
                            + n_second::DOUBLE / t2::DOUBLE) / 2.0))
              ELSE 0.0 END
             + CASE WHEN n_second > 0
               THEN (n_second::DOUBLE / t2::DOUBLE)
                    * ln((n_second::DOUBLE / t2::DOUBLE)
                         / ((n_first::DOUBLE / t1::DOUBLE
                             + n_second::DOUBLE / t2::DOUBLE) / 2.0))
               ELSE 0.0 END) / 2.0, 6) AS jsd_contrib
FROM piv
ORDER BY event_type
"""


@register("q208_type_mix_shift", _Q208_SQL)
def q208(spark, sf_dir):
    """Event-type composition drift between the first and second half
    of the time range (operators/profiling.py type_mix_shift): the
    categorical twin of q144's numeric KS drift, with per-category
    JSD contributions so the culprit is the largest term. One
    (category, half) groupBy after a min/max aggregate."""
    from soda_core_spark.operators.profiling import type_mix_shift

    e = _t(spark, sf_dir, "events")
    return type_mix_shift(e, ts_col="ts", group_col="event_type")


# ---------------------------------------------------------------------------
# t-closeness audit (operators/profiling.py t_closeness_audit)
# ---------------------------------------------------------------------------

_Q209_SQL = """
WITH grain AS (
  SELECT coalesce(source::VARCHAR, '<null>') AS q0,
         coalesce(lang::VARCHAR, '<null>') AS q1,
         coalesce((n_chars // 500)::VARCHAR, '<null>') AS q2,
         coalesce((doc_id % 7)::VARCHAR, '<null>') AS v,
         count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2, 3, 4
),
cls AS (SELECT q0, q1, q2, sum(c)::BIGINT AS nc FROM grain
        GROUP BY 1, 2, 3),
gl AS (SELECT v, sum(c)::BIGINT AS cg FROM grain GROUP BY v),
n_all AS (SELECT coalesce(sum(c), 0)::BIGINT AS n_all FROM grain),
grid AS (
  SELECT cls.q0, cls.q1, cls.q2, cls.nc, gl.v, gl.cg,
         coalesce(grain.c, 0)::BIGINT AS c
  FROM cls CROSS JOIN gl
  LEFT JOIN grain ON grain.q0 = cls.q0 AND grain.q1 = cls.q1
                 AND grain.q2 = cls.q2 AND grain.v = gl.v
),
per_class AS (
  SELECT q0, q1, q2, max(nc)::BIGINT AS nc,
         sum(abs(c::DOUBLE / nc::DOUBLE
                 - cg::DOUBLE / n_all.n_all::DOUBLE)) / 2.0 AS t
  FROM grid CROSS JOIN n_all
  GROUP BY q0, q1, q2
)
SELECT coalesce(sum(nc), 0)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_classes,
       round(max(t), 6) AS max_t,
       round(sum(t * nc::DOUBLE) / sum(nc)::DOUBLE, 6) AS mean_t,
       round(sum(CASE WHEN t > 0.2 THEN nc ELSE 0 END)::DOUBLE
             / sum(nc)::DOUBLE, 6) AS share_above_02,
       round(sum(CASE WHEN t > 0.5 THEN nc ELSE 0 END)::DOUBLE
             / sum(nc)::DOUBLE, 6) AS share_above_05
FROM per_class
"""


@register("q209_t_closeness", _Q209_SQL)
def q209(spark, sf_dir):
    """t-closeness audit (operators/profiling.py t_closeness_audit)
    over the q193 quasi-identifier classes and synthetic sensitive
    attribute: worst/mean total-variation distance between each
    class's sensitive distribution and the global one — the leak
    l-diversity misses when a class is "diverse" but 99 %
    concentrated. Completes the k-anonymity / l-diversity /
    t-closeness release trio. One (class, value) groupBy; global
    marginal re-aggregates from the grain."""
    from soda_core_spark.operators.profiling import t_closeness_audit

    d = _t(spark, sf_dir, "documents")
    staged = d.select(
        "source",
        "lang",
        F.floor(F.col("n_chars") / 500).alias("size_bucket"),
        (F.col("doc_id") % 7).alias("sensitive"),
    )
    return t_closeness_audit(
        staged, ["source", "lang", "size_bucket"], "sensitive"
    )


# ---------------------------------------------------------------------------
# Header-vs-detail reconciliation (operators/profiling.py
# order_total_reconciliation)
# ---------------------------------------------------------------------------

_Q210_SQL = """
WITH derived AS (
  SELECT l_orderkey AS o_orderkey,
         sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))
           AS d
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_orderpriority, o.o_totalprice, derived.d
  FROM orders o LEFT JOIN derived USING (o_orderkey)
)
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_no_items,
       sum(CASE WHEN d IS NOT NULL
                 AND abs(o_totalprice - d) <= 0.01
           THEN 1 ELSE 0 END)::BIGINT AS n_match,
       round(sum(CASE WHEN d IS NOT NULL
                       AND abs(o_totalprice - d) <= 0.01
                 THEN 1 ELSE 0 END)::DOUBLE
             / sum(CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE,
             6) AS match_rate,
       round(max(abs(o_totalprice - d)), 2) AS max_abs_drift,
       round(avg(o_totalprice - d), 2) AS mean_drift
FROM j
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q210_order_total_reconciliation", _Q210_SQL)
def q210(spark, sf_dir):
    """Header-vs-detail reconciliation (operators/profiling.py
    order_total_reconciliation): every o_totalprice checked against
    Σ extendedprice·(1−disc)·(1+tax) of its own lines — the cross-table
    row-grain audit q175's table totals can't see (and on this
    synthetic data it honestly reports the generator never enforced
    the invariant). Detail collapses to the key before the join."""
    from soda_core_spark.operators.profiling import (
        order_total_reconciliation,
    )

    return order_total_reconciliation(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


# ---------------------------------------------------------------------------
# Ship-latency profile (operators/profiling.py ship_latency_profile)
# ---------------------------------------------------------------------------

_Q211_SQL = """
WITH base AS (
  SELECT o.o_orderpriority,
         date_diff('day', (o.o_orderdate::TIMESTAMP)::DATE,
                   (l.l_shipdate::TIMESTAMP)::DATE)::DOUBLE AS lag
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
)
SELECT o_orderpriority,
       count(*)::BIGINT AS n_lines,
       sum(CASE WHEN lag < 0 THEN 1 ELSE 0 END)::BIGINT AS n_negative,
       round(quantile_cont(lag, 0.25), 6) AS p25_days,
       round(quantile_cont(lag, 0.5), 6) AS median_days,
       round(quantile_cont(lag, 0.75), 6) AS p75_days,
       round(quantile_cont(lag, 0.95), 6) AS p95_days,
       round(sum(CASE WHEN lag > 60 THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE, 6) AS share_over_60d
FROM base
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q211_ship_latency", _Q211_SQL)
def q211(spark, sf_dir):
    """Order-to-ship latency distribution per priority
    (operators/profiling.py ship_latency_profile): exact day lags,
    exact interpolated quartiles + p95, late tail and negative-lag
    (clock corruption) counters — does the priority field buy
    latency? One key join, one priority-grain aggregate."""
    from soda_core_spark.operators.profiling import ship_latency_profile

    return ship_latency_profile(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


# ---------------------------------------------------------------------------
# LLM-output contamination audit (operators/profiling.py llm_contamination)
# ---------------------------------------------------------------------------

#: deterministic marker injection for the oracle corpus (word-salad test
#: docs contain no real contamination): docs with doc_id % 23 == 0 get
#: one marker appended, chosen round-robin — one exemplar per pattern.
_Q212_MARKERS = (
    "As an AI language model, I cannot browse the internet.",
    "I cannot fulfill that request.",
    "<|im_start|>assistant",
    "[INST] Write a poem. [/INST]",
    "### Response:",
    "Regenerate response",
)


def _q212_sql() -> str:
    from soda_core_spark.operators.profiling import LLM_CONTAMINATION_PATTERNS

    pats = LLM_CONTAMINATION_PATTERNS
    markers = ", ".join(f"'{m}'" for m in _Q212_MARKERS)
    hitcols = ",\n         ".join(
        f"sum(CASE WHEN regexp_matches(t, '{p}') THEN 1 ELSE 0 END)"
        f"::BIGINT AS h_{n}"
        for n, p in pats.items()
    )
    any_expr = " OR ".join(
        f"regexp_matches(t, '{p}')" for p in pats.values()
    )
    rows = "\n  UNION ALL\n".join(
        f"  SELECT \"group\", '{n}' AS pattern, n_docs, h_{n} AS n_hit"
        f" FROM agg"
        for n in [*pats, "any_marker"]
    )
    return f"""
WITH base AS (
  SELECT source AS "group",
         CASE WHEN doc_id % 23 = 0
              THEN concat_ws(' ', text,
                   ([{markers}])[CAST((doc_id // 23) % 6 AS INT) + 1])
              ELSE coalesce(text, '') END AS t
  FROM documents
),
agg AS (
  SELECT "group", count(*)::BIGINT AS n_docs,
         {hitcols},
         sum(CASE WHEN {any_expr} THEN 1 ELSE 0 END)::BIGINT
           AS h_any_marker
  FROM base GROUP BY 1
),
long AS (
{rows}
)
SELECT "group", pattern, n_docs, n_hit,
       round(CASE WHEN n_docs > 0
             THEN n_hit::DOUBLE / n_docs END, 6) AS hit_rate
FROM long
ORDER BY "group", pattern
"""


@register("q212_llm_contamination", _q212_sql())
def q212(spark, sf_dir):
    """Model-output contamination audit per source
    (operators/profiling.py llm_contamination): assistant refusal
    stubs, chat-template special tokens and instruction-tuning
    scaffolding leaking into web text — the post-2022 crawl-cleanup
    concern. Same fused one-scan inline-unpivot shape as q164. The
    test corpus is word salad, so markers are injected
    deterministically (doc_id % 23, round-robin exemplar) identically
    on both engines; detection regexes are the shared
    LLM_CONTAMINATION_PATTERNS table."""
    from soda_core_spark.operators.profiling import llm_contamination

    d = _t(spark, sf_dir, "documents")
    idx = (F.expr("doc_id div 23") % 6 + 1).cast("int")
    marker = F.element_at(
        F.array(*[F.lit(m) for m in _Q212_MARKERS]), idx
    )
    aug = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 23 == 0,
            F.concat_ws(" ", F.col("text"), marker),
        ).otherwise(F.col("text")),
    )
    return llm_contamination(aug)


# ---------------------------------------------------------------------------
# Distinct-n diversity (operators/profiling.py distinct_ngram_diversity)
# ---------------------------------------------------------------------------

_Q213_SQL = """
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[ \t\n\r]+'), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT source, 1 AS n, unnest(w) AS gram FROM toks
  UNION ALL
  SELECT source, 2, unnest(list_transform(
    range(1, greatest(len(w) - 1, 0) + 1), i -> w[i] || ' ' || w[i+1]))
  FROM toks
  UNION ALL
  SELECT source, 3, unnest(list_transform(
    range(1, greatest(len(w) - 2, 0) + 1),
    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
  FROM toks
),
counts AS (
  SELECT source AS "group", n, gram, count(*)::BIGINT AS c
  FROM grams GROUP BY 1, 2, 3
)
SELECT "group", n::BIGINT AS n,
       sum(c)::BIGINT AS total_ngrams,
       count(*)::BIGINT AS distinct_ngrams,
       round(count(*)::DOUBLE / sum(c)::DOUBLE, 6) AS distinct_ratio
FROM counts GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("q213_distinct_ngrams", _Q213_SQL)
def q213(spark, sf_dir):
    """Distinct-1/2/3 diversity per source (operators/profiling.py
    distinct_ngram_diversity, Li et al. 2016): distinct over total
    n-gram counts — the cross-document template-collapse signal that
    per-document repetition rules miss. One tokenize-tag-explode pass,
    two-stage partial-aggregated count."""
    from soda_core_spark.operators.profiling import distinct_ngram_diversity

    return distinct_ngram_diversity(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Invisible-character audit (operators/profiling.py invisible_chars)
# ---------------------------------------------------------------------------

#: deterministic invisible-char injection (the word-salad corpus is
#: clean ASCII): docs with doc_id % 29 == 0 get one payload appended,
#: round-robin over the four non-control classes.
_Q214_INJECTIONS = (
    "‮hidden⁦",
    "zero​width‌join",
    "soft­hyphen",
    "non break space",
)


def _q214_sql() -> str:
    from soda_core_spark.operators.profiling import INVISIBLE_CHAR_CLASSES

    cls = INVISIBLE_CHAR_CLASSES
    inj = ", ".join(f"'{m}'" for m in _Q214_INJECTIONS)
    aggs = ",\n         ".join(
        f"sum(CASE WHEN regexp_matches(t, '{p}') THEN 1 ELSE 0 END)"
        f"::BIGINT AS h_{n},\n         "
        f"sum(length(t) - length(regexp_replace(t, '{p}', '', 'g')))"
        f"::BIGINT AS o_{n}"
        for n, p in cls.items()
    )
    rows = "\n  UNION ALL\n".join(
        f"  SELECT \"group\", '{n}' AS class, n_docs,"
        f" h_{n} AS n_docs_hit, o_{n} AS total_occurrences FROM agg"
        for n in cls
    )
    return f"""
WITH base AS (
  SELECT source AS "group",
         CASE WHEN doc_id % 29 = 0
              THEN concat_ws(' ', text,
                   ([{inj}])[CAST((doc_id // 29) % 4 AS INT) + 1])
              ELSE coalesce(text, '') END AS t
  FROM documents
),
agg AS (
  SELECT "group", count(*)::BIGINT AS n_docs,
         {aggs}
  FROM base GROUP BY 1
),
long AS (
{rows}
)
SELECT "group", class, n_docs, n_docs_hit,
       round(CASE WHEN n_docs > 0
             THEN n_docs_hit::DOUBLE / n_docs END, 6) AS doc_rate,
       total_occurrences
FROM long
ORDER BY "group", class
"""


@register("q214_invisible_chars", _q214_sql())
def q214(spark, sf_dir):
    """Invisible-character audit per source (operators/profiling.py
    invisible_chars): bidi override controls (Trojan Source,
    CVE-2021-42574), zero-width chars, soft hyphens, NBSP variants and
    raw C0 controls — display-spoofing / hidden-watermark /
    tokenizer-splitting channels that survive extraction. One fused
    scan, hit flags + length-delta occurrence counts, inline unpivot.
    Payloads are injected deterministically (doc_id % 29, round-robin)
    identically on both engines; classes are the shared
    INVISIBLE_CHAR_CLASSES table."""
    from soda_core_spark.operators.profiling import invisible_chars

    d = _t(spark, sf_dir, "documents")
    idx = (F.expr("doc_id div 29") % 4 + 1).cast("int")
    payload = F.element_at(
        F.array(*[F.lit(m) for m in _Q214_INJECTIONS]), idx
    )
    aug = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 29 == 0,
            F.concat_ws(" ", F.col("text"), payload),
        ).otherwise(F.col("text")),
    )
    return invisible_chars(aug)


# ---------------------------------------------------------------------------
# PII co-occurrence census (operators/profiling.py pii_cooccurrence)
# ---------------------------------------------------------------------------


def _q215_sql() -> str:
    from soda_core_spark.functions.scrub import ALL_RULES

    names = [n for n, _p, _r in ALL_RULES]
    flag_cols = ",\n         ".join(
        f"regexp_matches(t, '{p}') AS f_{n}" for n, p, _r in ALL_RULES
    )
    combo = (
        "concat_ws('+', "
        + ", ".join(f"CASE WHEN f_{n} THEN '{n}' END" for n in names)
        + ")"
    )
    ntypes = " + ".join(f"f_{n}::INT" for n in names)
    return f"""
WITH base AS (
  SELECT coalesce(text, '')
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact alice@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call +1 555 123 4567' ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' ssn 123-45-6789' ELSE '' END
         || CASE WHEN doc_id % 17 = 0
                 THEN ' from 10.1.2.3' ELSE '' END AS t
  FROM documents
),
flags AS (
  SELECT {flag_cols}
  FROM base
),
keyed AS (
  SELECT CASE WHEN {combo} = '' THEN 'none' ELSE {combo} END AS pii_types,
         ({ntypes})::BIGINT AS n_types
  FROM flags
)
SELECT pii_types, n_types,
       CASE WHEN n_types = 0 THEN 'none'
            WHEN n_types = 1 THEN 'low'
            WHEN n_types = 2 THEN 'medium'
            ELSE 'high' END AS risk_tier,
       count(*)::BIGINT AS n_docs
FROM keyed
GROUP BY 1, 2
ORDER BY n_types DESC, pii_types
"""


@register("q215_pii_cooccurrence", _q215_sql())
def q215(spark, sf_dir):
    """PII co-occurrence / re-identification risk census
    (operators/profiling.py pii_cooccurrence): which scrub-rule PII
    types fire TOGETHER per document, rolled up to one bounded row per
    observed combination with a risk tier — the release-review and
    scrub-QA prioritization signal. Independent per-type rlike flags
    (no replacement-order masking), one scan, 2^|rules|-bounded
    groupBy. PII strings are injected deterministically
    (doc_id % 7/11/13/17 -> email/phone/ssn/ipv4; doc 0 fires all
    four) identically on both engines."""
    from soda_core_spark.operators.profiling import pii_cooccurrence

    d = _t(spark, sf_dir, "documents")
    aug = d.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" contact alice@example.com")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" call +1 555 123 4567")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0,
                   F.lit(" from 10.1.2.3")).otherwise(F.lit("")),
        ),
    )
    return pii_cooccurrence(aug)


# ---------------------------------------------------------------------------
# TPC-H-analogue join-shape coverage (SURVEY §2.1: multi-way joins,
# window-rank-per-group, self-join exclusivity, correlated scalar
# subqueries). The reference's checks compile to exactly these SQL
# shapes (soda-core sql_ast.py SELECT/JOIN/EXISTS builders); here each
# is a DataFrame plan with the join strategy chosen explicitly:
# dimension tables broadcast, fact-fact joins shuffle on their key and
# reuse the partitioning for the following window/groupBy.
# ---------------------------------------------------------------------------

_Q216_SQL = """
WITH eu_supp AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
cost AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM eu_supp)
  GROUP BY 1, 2
),
ranked AS (
  SELECT l_partkey, l_suppkey, unit_cost,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY unit_cost, l_suppkey) AS rk
  FROM cost
)
SELECT p.p_partkey, p.p_brand, p.p_type,
       e.s_name, e.n_name,
       floor(r.unit_cost * 1e6 + 0.5) / 1e6 AS min_unit_cost
FROM ranked r
JOIN part p ON r.l_partkey = p.p_partkey
JOIN eu_supp e ON r.l_suppkey = e.s_suppkey
WHERE r.rk = 1
ORDER BY p.p_partkey
"""


@register("q216_min_cost_supplier", _Q216_SQL)
def q216(spark, sf_dir):
    """TPC-H Q2 analogue (adapted: no partsupp table — unit cost is
    min(l_extendedprice/l_quantity) observed per (part, supplier)):
    cheapest EUROPE supplier per part. Shape: region/nation/supplier
    collapse to ONE broadcast dimension BEFORE touching the fact
    (reference: soda-core's reference-data validity joins,
    checks.py:276 here); the fact aggregates on (part, supp) and the
    per-part rank rides the same partitioning (partkey prefix) — one
    shuffle total at any scale. min() is order-independent so the
    rank key is bit-identical across engines; row_number tiebreak on
    suppkey makes rank 1 deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re_ = _t(spark, sf_dir, "region")
    pa = _t(spark, sf_dir, "part")
    from pyspark.sql import Window

    eu = (
        su.join(F.broadcast(na),
                su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re_.where(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    cost = (
        li.join(F.broadcast(eu.select("s_suppkey")),
                li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    best = cost.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    return (
        best.join(F.broadcast(pa), best.l_partkey == pa.p_partkey)
        .join(F.broadcast(eu), best.l_suppkey == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_brand", "p_type", "s_name", "n_name",
            # floor(x·1e6 + 0.5)/1e6 instead of round(x, 6): both
            # engines then perform the IDENTICAL double ops, immune to
            # HALF_UP-vs-scaled-float divergence when a quotient lands
            # exactly on a .5 tie at the 7th digit (seen at sf0.1)
            (F.floor(F.col("unit_cost") * 1e6 + 0.5) / 1e6)
            .alias("min_unit_cost"),
        )
        .orderBy("p_partkey")
    )


_Q217_SQL = """
WITH per_supp AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
             THEN 1 ELSE 0 END) AS was_late
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey, l_suppkey, was_late,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         sum(was_late) OVER (PARTITION BY l_orderkey) AS n_late
  FROM per_supp
)
SELECT s.s_name,
       count(*)::BIGINT AS numwait
FROM per_order p
JOIN supplier s ON p.l_suppkey = s.s_suppkey
WHERE p.was_late = 1 AND p.n_supp > 1 AND p.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
"""


@register("q217_lonely_late_supplier", _Q217_SQL)
def q217(spark, sf_dir):
    """TPC-H Q21 analogue (adapted: lateness is l_shipdate more than
    90 days after o_orderdate — the table has no commit/receipt
    dates): suppliers who were the ONLY late supplier in a
    multi-supplier order. Shape: the classic EXISTS/NOT-EXISTS
    self-join pair collapses to ONE pass — per-(order, supplier)
    lateness flags, then order-grain counts via a window over the
    SAME partitioning the groupBy just produced (no second shuffle),
    then a broadcast supplier-name join. All-integer outputs: exact
    cross-engine."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    su = _t(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        1,
    ).otherwise(0)
    per_supp = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("was_late"))
    )
    w = Window.partitionBy("l_orderkey")
    per_order = per_supp.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("was_late").over(w).alias("n_late"),
    )
    return (
        per_order.where(
            (F.col("was_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(su), F.col("l_suppkey") == su.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


_Q218_SQL = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4)
         AS promo_share_pct,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
ORDER BY 1
"""


@register("q218_promo_revenue", _Q218_SQL)
def q218(spark, sf_dir):
    """TPC-H Q14 analogue: monthly PROMO revenue share through 1997.
    Shape: part is a broadcast dimension (its only consumed column is
    p_type — pruned at scan), the date filter pushes to the parquet
    scan, and both CASE branches ride one aggregate — the fused
    numerator/denominator contract (q2_fused_metrics) applied to a
    join."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(pa.select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share_pct"),
            F.round(F.sum(rev), 2).alias("revenue"),
        )
        .orderBy("ship_month")
    )


_Q219_SQL = """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-04-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s.s_suppkey
"""


@register("q219_top_supplier", _Q219_SQL)
def q219(spark, sf_dir):
    """TPC-H Q15 analogue: supplier(s) with the maximum quarterly
    revenue. Shape: the revenue CTE computes once; the scalar max is
    a 1-row broadcast joined back (Spark reuses the shuffle output of
    `rev` for both branches under AQE) — never a driver collect.
    Comparing on the 2-dp-rounded value keeps the equality
    cross-engine-stable."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= "1997-04-01")
            & (F.col("l_shipdate") < "1997-07-01")
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(F.broadcast(su), F.col("l_suppkey") == su.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_Q220_SQL = """
SELECT c.c_custkey, c.c_name, n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_lines
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q220_returned_revenue", _Q220_SQL)
def q220(spark, sf_dir):
    """TPC-H Q10 analogue: top-20 customers by revenue lost to
    returned items in one quarter. Shape: the quarter filter prunes
    orders BEFORE the fact join (predicate pushdown through the
    join), the returnflag filter prunes lineitem at its scan, nation
    broadcasts, and the top-20 is a rank on the 2-dp-rounded revenue
    with a custkey tiebreak — deterministic across engines."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(
            od.where(
                (F.col("o_orderdate") >= "1997-01-01")
                & (F.col("o_orderdate") < "1997-04-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q221_SQL = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_lines
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
ORDER BY n_name
"""


@register("q221_local_supplier_volume", _Q221_SQL)
def q221(spark, sf_dir):
    """TPC-H Q5 analogue: revenue shipped by a supplier in the
    customer's own nation, per nation, one year. Shape: the 5-way
    join keeps the two facts (orders→lineitem) on the orderkey
    shuffle and broadcasts customer/supplier/nation; the
    same-nation predicate is a join condition, not a post-filter, so
    rows drop at the earliest possible point."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    return (
        od.where(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(su),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("n_name")
    )


_Q222_SQL = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem
  GROUP BY 1
  HAVING sum(l_quantity) > 200
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       o.o_orderdate, o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o   ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_orderkey
"""


@register("q222_large_volume_customers", _Q222_SQL)
def q222(spark, sf_dir):
    """TPC-H Q18 analogue: customers behind orders totalling > 200
    units. Shape: the HAVING collapses lineitem to qualifying
    orderkeys FIRST (the IN-subquery of the original becomes a plain
    aggregate + join — Catalyst's semi-join rewrite done by hand so
    the intent is visible); quantities are integer-valued so the
    threshold is exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 200)
    )
    return (
        big.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            "o_orderdate", "o_totalprice", "sum_qty",
        )
        .orderBy("o_orderkey")
    )


_Q223_SQL = """
WITH avg_qty AS (
  SELECT l_partkey, avg(l_quantity) AS aq
  FROM lineitem
  GROUP BY 1
)
SELECT p.p_brand,
       count(*)::BIGINT AS n_small_lines,
       round(sum(l.l_extendedprice), 2) AS small_qty_revenue
FROM lineitem l
JOIN avg_qty a ON l.l_partkey = a.l_partkey
JOIN part p    ON l.l_partkey = p.p_partkey
WHERE l.l_quantity < 0.5 * a.aq
GROUP BY 1
ORDER BY p_brand
"""


@register("q223_small_quantity_revenue", _Q223_SQL)
def q223(spark, sf_dir):
    """TPC-H Q17 analogue: revenue from lineitems ordering less than
    half the part's average quantity, per brand. Shape: the
    correlated scalar subquery (avg per part) becomes ONE aggregate
    joined back on partkey — computed once, not per-row; quantities
    are integers so sum/count (and therefore the 0.5·avg threshold)
    are bit-exact on both engines, making the < comparison safe."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap")).agg(
        F.avg("l_quantity").alias("aq")
    )
    return (
        li.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap"))
        .where(F.col("l_quantity") < 0.5 * F.col("aq"))
        .join(F.broadcast(pa.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_qty_revenue"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Spearman rank-correlation matrix (operators/profiling.py
# spearman_matrix)
# ---------------------------------------------------------------------------

def _q224_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    notnull = " AND ".join(
        f"{c} IS NOT NULL AND NOT isnan({c}::DOUBLE)" for c in cols
    )
    ranks = ",\n         ".join(
        f"rank() OVER (ORDER BY {c})"
        f" + (count(*) OVER (PARTITION BY {c}) - 1) / 2.0 AS {c}"
        for c in cols
    )
    pairs = [(cols[i], cols[j]) for i in range(len(cols))
             for j in range(i + 1, len(cols))]
    rows = []
    for a, b in pairs:
        vx = f"(n_d * sxx_{a}_{b} - sx_{a}_{b} * sx_{a}_{b})"
        vy = f"(n_d * syy_{a}_{b} - sy_{a}_{b} * sy_{a}_{b})"
        rows.append(f"""
  SELECT '{a}' AS col_a, '{b}' AS col_b, n, round(
    CASE WHEN n >= 2 AND {vx} > 0 AND {vy} > 0 THEN
      (n_d * sxy_{a}_{b} - sx_{a}_{b} * sy_{a}_{b}) / sqrt({vx} * {vy})
    END, 6) AS rho
  FROM agg""")
    sums = ", ".join(
        f"sum({a}) AS sx_{a}_{b}, sum({b}) AS sy_{a}_{b},"
        f" sum({a} * {b}) AS sxy_{a}_{b},"
        f" sum({a} * {a}) AS sxx_{a}_{b},"
        f" sum({b} * {b}) AS syy_{a}_{b}"
        for a, b in pairs
    )
    body = "\n  UNION ALL\n".join(r.strip("\n") for r in rows)
    return f"""
WITH base AS (
  SELECT {', '.join(f'{c}::DOUBLE AS {c}' for c in cols)}
  FROM lineitem WHERE {notnull}
),
r AS (
  SELECT {ranks}
  FROM base
),
agg AS (
  SELECT count(*)::BIGINT AS n, count(*)::DOUBLE AS n_d, {sums}
  FROM r
)
{body}
ORDER BY col_a, col_b
"""


@register("q224_spearman_matrix", _q224_sql())
def q224(spark, sf_dir):
    """Spearman rank-correlation matrix over the lineitem numerics
    (operators/profiling.py spearman_matrix): monotone association,
    robust to outliers — the rank twin of q177's Pearson matrix.
    Ranks are average-of-ties positions computed WITHOUT a global
    sort: per-distinct-value counts, order-compatible range buckets
    from a bounded quantile sketch, two-stage prefix cumsum (the
    q49/q64 contract), then every pair's Pearson sums ride ONE fused
    aggregate. Listwise NULL policy documented on the operator."""
    from soda_core_spark.operators.profiling import spearman_matrix

    li = _t(spark, sf_dir, "lineitem")
    return spearman_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


# ---------------------------------------------------------------------------
# Cramér's V categorical association (operators/profiling.py cramers_v)
# ---------------------------------------------------------------------------

def _q225_pair_sql(table: str, a: str, b: str) -> str:
    return f"""
  SELECT '{a}' AS col_a, '{b}' AS col_b, n, dof,
         round(chi_obs + n - e_obs, 4) AS chi2,
         round(CASE WHEN mindim > 0 AND n > 0 THEN
           sqrt((chi_obs + n - e_obs) / (n::DOUBLE * mindim)) END, 6) AS v
  FROM (
    WITH cells AS (
      SELECT {a} AS ca, {b} AS cb, count(*)::BIGINT AS o
      FROM {table}
      WHERE {a} IS NOT NULL AND {b} IS NOT NULL
      GROUP BY 1, 2
    ),
    ma AS (SELECT ca, sum(o)::DOUBLE AS tot_a FROM cells GROUP BY 1),
    mb AS (SELECT cb, sum(o)::DOUBLE AS tot_b FROM cells GROUP BY 1),
    tot AS (SELECT sum(o)::BIGINT AS n FROM cells),
    st AS (
      SELECT
        sum((c.o::DOUBLE - ma.tot_a * mb.tot_b / t.n)
            * (c.o::DOUBLE - ma.tot_a * mb.tot_b / t.n)
            / (ma.tot_a * mb.tot_b / t.n)) AS chi_obs,
        sum(ma.tot_a * mb.tot_b / t.n) AS e_obs
      FROM cells c
      JOIN ma ON c.ca = ma.ca
      JOIN mb ON c.cb = mb.cb
      CROSS JOIN tot t
    )
    SELECT t.n, st.chi_obs, st.e_obs,
           ((SELECT count(*) FROM ma) - 1)
             * ((SELECT count(*) FROM mb) - 1) AS dof,
           least((SELECT count(*) FROM ma),
                 (SELECT count(*) FROM mb)) - 1 AS mindim
    FROM st CROSS JOIN tot t
  )"""


_Q225_SQL = (
    _q225_pair_sql("lineitem", "l_returnflag", "l_linestatus")
    + "\nUNION ALL\n"
    + _q225_pair_sql("orders", "o_orderstatus", "o_orderpriority")
    + "\nORDER BY col_a"
)


@register("q225_cramers_v", _Q225_SQL)
def q225(spark, sf_dir):
    """Cramér's V for two categorical pairs — returnflag×linestatus
    and orderstatus×orderpriority (operators/profiling.py cramers_v):
    the categorical redundancy detector. χ² folds unobserved cells in
    algebraically (Σ_obs (o−e)²/e + N − Σ_obs e) so only observed
    cells ever materialize; ONE corpus pass per pair, everything
    after runs on the tiny cell table."""
    from soda_core_spark.operators.profiling import cramers_v

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    a = cramers_v(li, "l_returnflag", "l_linestatus")
    b = cramers_v(od, "o_orderstatus", "o_orderpriority")
    # dof must be long on both rows (Spark infers int for the literal
    # product otherwise on some plans)
    return a.unionByName(b).orderBy("col_a")


# ---------------------------------------------------------------------------
# MAD robust outlier audit (operators/profiling.py mad_outlier_audit)
# ---------------------------------------------------------------------------

_Q226_SQL = """
WITH base AS (
  SELECT event_type AS g, value::DOUBLE AS x
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
),
med AS (
  SELECT g, quantile_cont(x, 0.5) AS med, count(*)::BIGINT AS n
  FROM base GROUP BY 1
),
dev AS (
  SELECT b.g, abs(b.x - m.med) AS adev, m.med, m.n
  FROM base b JOIN med m USING (g)
),
mad AS (SELECT g, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
SELECT d.g AS event_type,
       any_value(d.n) AS n,
       round(any_value(d.med), 6) AS median,
       round(any_value(m.mad), 6) AS mad,
       sum(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)
         ::BIGINT AS n_outliers,
       round(sum(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
                 THEN 1 ELSE 0 END)::DOUBLE / any_value(d.n), 6)
         AS outlier_share
FROM dev d JOIN mad m USING (g)
GROUP BY 1
ORDER BY 1
"""


@register("q226_mad_outliers", _Q226_SQL)
def q226(spark, sf_dir):
    """Median/MAD robust outlier audit per event type
    (operators/profiling.py mad_outlier_audit): the heavy-tail-safe
    sibling of q204's Tukey fences — a single wild value cannot move
    the gate. Exact interpolated percentiles (the q25 contract), the
    outlier comparison on un-rounded scalars broadcast back; three
    grouped passes, approx_percentile the stated 100-TB swap."""
    from soda_core_spark.operators.profiling import mad_outlier_audit

    ev = _t(spark, sf_dir, "events")
    return mad_outlier_audit(ev, "event_type", "value")


# ---------------------------------------------------------------------------
# Yule's K / Simpson vocabulary richness (operators/profiling.py
# vocabulary_richness)
# ---------------------------------------------------------------------------

_Q227_SQL = """
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> ''))
           AS tok
  FROM documents
),
tf AS (
  SELECT source, tok, count(*)::BIGINT AS m FROM toks GROUP BY 1, 2
),
per AS (
  SELECT source,
         sum(m)::BIGINT AS n_tokens,
         count(*)::BIGINT AS vocab,
         sum(m * m)::BIGINT AS m2,
         sum(m * (m - 1))::BIGINT AS mm1
  FROM tf GROUP BY 1
)
SELECT source, n_tokens, vocab,
       round(CASE WHEN n_tokens > 0 THEN
         1e4 * (m2 - n_tokens)::DOUBLE
         / (n_tokens::DOUBLE * n_tokens::DOUBLE) END, 4) AS yule_k,
       round(CASE WHEN n_tokens > 1 THEN
         mm1::DOUBLE / (n_tokens::DOUBLE * (n_tokens::DOUBLE - 1))
         END, 8) AS simpson_d
FROM per
ORDER BY source
"""


@register("q227_vocabulary_richness", _Q227_SQL)
def q227(spark, sf_dir):
    """Yule's K + Simpson token diversity per source
    (operators/profiling.py vocabulary_richness): length-invariant
    repetitiveness constants — the size-free complement of q159's
    Heaps-law growth curve. All-integer frequency-of-frequency sums
    (Σ m²V_m ≤ N² fits a long) → bit-exact cross-engine before
    display rounding; one explode + two grouped reduces."""
    from soda_core_spark.operators.profiling import vocabulary_richness

    d = _t(spark, sf_dir, "documents")
    return vocabulary_richness(d, "source", "text")


# ---------------------------------------------------------------------------
# Embedding hubness audit (operators/similarity.py knn_hubness)
# ---------------------------------------------------------------------------

_Q228_SQL = """
WITH s AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
),
nn AS (
  SELECT c.vec_id AS nid,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(
                      q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                    c.vec_id
         ) AS rk
  FROM s q, s c
  WHERE q.vec_id <> c.vec_id
  QUALIFY rk <= 5
),
occ AS (
  SELECT s.vec_id, coalesce(o.cnt, 0)::BIGINT AS c
  FROM s LEFT JOIN (
    SELECT nid, count(*)::BIGINT AS cnt FROM nn GROUP BY 1
  ) o ON s.vec_id = o.nid
),
agg AS (
  SELECT count(*)::BIGINT AS n_vectors,
         sum(c)::BIGINT AS sum_occ,
         max(c)::BIGINT AS max_occ,
         sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)::BIGINT AS n_antihubs,
         sum(CASE WHEN c >= 10 THEN 1 ELSE 0 END)::BIGINT AS n_hubs,
         sum(c * c)::BIGINT AS s2,
         sum(c * c * c)::BIGINT AS s3
  FROM occ
)
SELECT n_vectors, 5::BIGINT AS k, sum_occ, max_occ, n_antihubs,
       round(n_antihubs::DOUBLE / n_vectors, 6) AS antihub_share,
       n_hubs,
       round(n_hubs::DOUBLE / n_vectors, 6) AS hub_share,
       round(CASE WHEN (s2::DOUBLE / n_vectors
                        - (sum_occ::DOUBLE / n_vectors)
                          * (sum_occ::DOUBLE / n_vectors)) > 0 THEN
         (s3::DOUBLE / n_vectors
          - 3 * (sum_occ::DOUBLE / n_vectors) * (s2::DOUBLE / n_vectors)
          + 2 * (sum_occ::DOUBLE / n_vectors)
              * (sum_occ::DOUBLE / n_vectors)
              * (sum_occ::DOUBLE / n_vectors))
         / pow(s2::DOUBLE / n_vectors
               - (sum_occ::DOUBLE / n_vectors)
                 * (sum_occ::DOUBLE / n_vectors), 1.5)
       END, 4) AS occ_skewness
FROM agg
"""


@register("q228_knn_hubness", _Q228_SQL)
def q228(spark, sf_dir):
    """k-occurrence hubness audit over a deterministic embedding
    sample (operators/similarity.py knn_hubness): the
    high-dimensional pathology detector (Radovanović 2010) — hubs
    distort ANN recall and near-dup graphs, anti-hubs are unreachable
    islands, rising skewness is the canonical symptom. Exact top-5
    via the broadcast-queries one-pass brute force (q17 shape);
    sum_occ == n·k is the built-in self-check."""
    from soda_core_spark.operators.similarity import knn_hubness

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 4 == 0)
    return knn_hubness(e, k=5)


# ---------------------------------------------------------------------------
# Sentence-length profile (operators/profiling.py
# sentence_length_profile)
# ---------------------------------------------------------------------------

_Q229_SQL = """
WITH base AS (
  SELECT source,
         CASE WHEN len(regexp_extract_all(coalesce(text, ''),
                                          '[.!?]+')) > 0
              THEN len(list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '[ \t\n\r]+'),
                       w -> w <> ''))::DOUBLE
                   / len(regexp_extract_all(coalesce(text, ''),
                                            '[.!?]+'))
         END AS wps,
         CASE WHEN regexp_matches(coalesce(text, ''),
                                  '[.!?][ \t\n\r]*$')
              THEN 0 ELSE 1 END AS noterm
  FROM documents
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       round(quantile_cont(wps, 0.5), 6) AS median_wps,
       round(avg(CASE WHEN wps IS NULL OR wps < 3.0 OR wps > 90.0
                 THEN 1 ELSE 0 END), 6) AS share_wps_degenerate,
       round(avg(noterm), 6) AS share_no_terminal_end
FROM base
GROUP BY source
ORDER BY source
"""


@register("q229_sentence_profile", _Q229_SQL)
def q229(spark, sf_dir):
    """Words-per-sentence profile per source (operators/profiling.py
    sentence_length_profile): degenerate sentence structure — run-on
    walls or staccato fragments — plus pages that never terminate a
    sentence. Sentences are maximal [.!?]+ runs counted identically
    on both engines; one projection, one grouped reduce."""
    from soda_core_spark.operators.profiling import (
        sentence_length_profile,
    )

    return sentence_length_profile(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Capitalization census (operators/profiling.py capitalization_profile)
# ---------------------------------------------------------------------------

_Q230_SQL = """
WITH base AS (
  SELECT source,
         list_filter(regexp_split_to_array(coalesce(text, ''),
                                           '[ \t\n\r]+'),
                     w -> w <> '') AS toks,
         length(regexp_replace(coalesce(text, ''), '[^A-Za-z]', '',
                               'g'))::BIGINT AS n_alpha,
         length(regexp_replace(coalesce(text, ''), '[^A-Z]', '',
                               'g'))::BIGINT AS n_upper
  FROM documents
),
per AS (
  SELECT source,
         len(toks)::BIGINT AS nt,
         len(list_filter(toks,
             w -> regexp_matches(w, '^[A-Z]{2,}$')))::BIGINT AS nc,
         n_alpha, n_upper
  FROM base
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(nt)::BIGINT AS n_tokens,
       round(CASE WHEN sum(nt) > 0
             THEN sum(nc)::DOUBLE / sum(nt) END, 6)
         AS allcaps_token_share,
       round(CASE WHEN sum(n_alpha) > 0
             THEN sum(n_upper)::DOUBLE / sum(n_alpha) END, 6)
         AS upper_char_share
FROM per
GROUP BY source
ORDER BY source
"""


@register("q230_capitalization", _Q230_SQL)
def q230(spark, sf_dir):
    """ALL-CAPS token share + uppercase character share per source
    (operators/profiling.py capitalization_profile): shouting spam
    and navigation chrome sit far above prose on both. Raw-case
    tokens (cannot reuse the lowered shared tokenizer); higher-order
    column filters, never Python; all-integer counts."""
    from soda_core_spark.operators.profiling import (
        capitalization_profile,
    )

    return capitalization_profile(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Punctuation-run census (operators/profiling.py
# punctuation_run_profile)
# ---------------------------------------------------------------------------

_Q231_SQL = """
WITH base AS (
  SELECT source,
         regexp_extract_all(coalesce(text, ''), '[!?.,;:]{3,}')
           AS runs,
         length(coalesce(text, ''))::BIGINT AS n_chars
  FROM documents
),
per AS (
  SELECT source,
         len(runs)::BIGINT AS nr,
         list_max(list_transform(runs, r -> length(r)))::BIGINT AS mr,
         n_chars
  FROM base
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN nr > 0 THEN 1 ELSE 0 END)::BIGINT
         AS docs_with_runs,
       sum(nr)::BIGINT AS n_runs,
       round(CASE WHEN sum(n_chars) > 0
             THEN 1000.0 * sum(nr)::DOUBLE / sum(n_chars)::DOUBLE
             END, 4) AS runs_per_kchar,
       max(mr)::BIGINT AS max_run_len
FROM per
GROUP BY source
ORDER BY source
"""


@register("q231_punctuation_runs", _Q231_SQL)
def q231(spark, sf_dir):
    """Repeated-punctuation run census per source
    (operators/profiling.py punctuation_run_profile): "!!!"-style
    runs are a spam/clickbait/ASCII-art fingerprint that survives
    lowercasing and dedup. Identical maximal-run extraction both
    engines; integer counts exact."""
    from soda_core_spark.operators.profiling import (
        punctuation_run_profile,
    )

    return punctuation_run_profile(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Bracket/quote balance audit (operators/profiling.py
# bracket_balance_audit)
# ---------------------------------------------------------------------------

_Q232_SQL = """
WITH per AS (
  SELECT source,
         (length(t) - length(translate(t, '(', ''))
          <> length(t) - length(translate(t, ')', '')))::INT AS up,
         (length(t) - length(translate(t, '[', ''))
          <> length(t) - length(translate(t, ']', '')))::INT AS ub,
         (length(t) - length(translate(t, '{', ''))
          <> length(t) - length(translate(t, '}', '')))::INT AS uc,
         ((length(t) - length(translate(t, '"', ''))) % 2 <> 0)::INT
           AS oq
  FROM (SELECT source, coalesce(text, '') AS t FROM documents)
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(up)::BIGINT AS n_unbalanced_paren,
       sum(ub)::BIGINT AS n_unbalanced_bracket,
       sum(uc)::BIGINT AS n_unbalanced_brace,
       sum(oq)::BIGINT AS n_odd_quotes,
       round(avg(greatest(up, ub, uc, oq)), 6)
         AS share_any_unbalanced
FROM per
GROUP BY source
ORDER BY source
"""


@register("q232_bracket_balance", _Q232_SQL)
def q232(spark, sf_dir):
    """Delimiter-balance audit per source (operators/profiling.py
    bracket_balance_audit): unmatched parens/brackets/braces and odd
    quote counts flag truncated or badly-stripped extractions — the
    character-level sibling of q182's truncation artifacts.
    Length-minus-translate counting (the C4 rule-pack idiom), exact
    integers."""
    from soda_core_spark.operators.profiling import (
        bracket_balance_audit,
    )

    return bracket_balance_audit(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Source token-cosine fingerprint matrix (operators/profiling.py
# source_token_cosine)
# ---------------------------------------------------------------------------

_Q233_SQL = """
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '[ \t\n\r]+'), w -> w <> ''))
           AS tok
  FROM documents
),
tf AS (
  SELECT source, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2
),
norms AS (SELECT source, sum(c * c)::BIGINT AS n2 FROM tf GROUP BY 1),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         sum(a.c * b.c)::BIGINT AS dot
  FROM tf a JOIN tf b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, p.dot,
       round(p.dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE), 6)
         AS cos_sim
FROM pairs p
JOIN norms na ON p.source_a = na.source
JOIN norms nb ON p.source_b = nb.source
ORDER BY p.source_a, p.source_b
"""


@register("q233_source_similarity", _Q233_SQL)
def q233(spark, sf_dir):
    """Source-fingerprint cosine matrix (operators/profiling.py
    source_token_cosine): token-frequency cosine between every source
    pair — cos ≈ 1 is the same upstream feed wearing two labels. The
    dot and both norms are exact integer sums; the pair join is keyed
    on token so fan-out is bounded by |sources|² per token, never by
    corpus size."""
    from soda_core_spark.operators.profiling import source_token_cosine

    return source_token_cosine(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Year-mention recency histogram (operators/profiling.py
# temporal_mentions)
# ---------------------------------------------------------------------------

_Q234_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           coalesce(text, '') || ' archived in '
             || (1980 + doc_id % 45)::VARCHAR || ' .'
         ELSE coalesce(text, '') END AS text
  FROM documents
),
years AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text,
             '\b(19[0-9]{2}|20[0-2][0-9])\b')) AS y
  FROM aug
)
SELECT y::BIGINT AS year,
       count(*)::BIGINT AS n_mentions,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM years
GROUP BY 1
ORDER BY 1
"""


@register("q234_temporal_mentions", _Q234_SQL)
def q234(spark, sf_dir):
    """Content-recency histogram of word-bounded year mentions
    (operators/profiling.py temporal_mentions). The word-salad corpus
    carries no years, so the oracle fixture injects one deterministic
    mention per doc_id % 3 == 0 (year = 1980 + doc_id % 45) on BOTH
    engines — the operator's extraction, not the fixture, is what's
    under test. \\b is the ASCII word boundary on both engines."""
    from soda_core_spark.operators.profiling import temporal_mentions

    d = _t(spark, sf_dir, "documents")
    aug = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" archived in "),
                (F.lit(1980) + F.col("doc_id") % 45).cast("string"),
                F.lit(" ."),
            ),
        ).otherwise(F.coalesce(F.col("text"), F.lit(""))),
    )
    return temporal_mentions(aug)


# ---------------------------------------------------------------------------
# Quoted-text share (operators/profiling.py quoted_text_share)
# ---------------------------------------------------------------------------

_Q235_SQL = """
WITH aug AS (
  SELECT source,
         CASE WHEN doc_id % 4 = 0 THEN
           coalesce(text, '') || ' she said "deterministic quote '
             || doc_id::VARCHAR || '" later.'
         ELSE coalesce(text, '') END AS text
  FROM documents
),
per AS (
  SELECT source,
         len(regexp_extract_all(text, '"[^"\n]*"'))::BIGINT AS ns,
         coalesce(list_sum(list_transform(
             regexp_extract_all(text, '"[^"\n]*"'),
             s -> length(s) - 2)), 0)::BIGINT AS ic,
         length(text)::BIGINT AS n_chars
  FROM aug
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN ns > 0 THEN 1 ELSE 0 END)::BIGINT
         AS docs_with_quotes,
       sum(ns)::BIGINT AS n_quotes,
       round(CASE WHEN sum(n_chars) > 0
             THEN sum(ic)::DOUBLE / sum(n_chars)::DOUBLE END, 6)
         AS quoted_char_share,
       round(CASE WHEN sum(ns) > 0
             THEN sum(ic)::DOUBLE / sum(ns)::DOUBLE END, 4)
         AS mean_quote_len
FROM per
GROUP BY source
ORDER BY source
"""


@register("q235_quoted_share", _Q235_SQL)
def q235(spark, sf_dir):
    """Quoted-text share per source (operators/profiling.py
    quoted_text_share): heavy quoting marks wire/aggregator content —
    mostly other people's words. Deterministic quote injection per
    doc_id % 4 == 0 on both engines (the corpus itself has no
    quotes); span extraction and all counts are integer-exact."""
    from soda_core_spark.operators.profiling import quoted_text_share

    d = _t(spark, sf_dir, "documents")
    aug = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(' she said "deterministic quote '),
                F.col("doc_id").cast("string"),
                F.lit('" later.'),
            ),
        ).otherwise(F.coalesce(F.col("text"), F.lit(""))),
    )
    return quoted_text_share(aug)


# ---------------------------------------------------------------------------
# One-way ANOVA (operators/profiling.py anova_oneway)
# ---------------------------------------------------------------------------

_Q236_SQL = """
WITH base AS (
  SELECT source AS g, n_chars::DOUBLE AS x
  FROM documents
  WHERE n_chars IS NOT NULL AND NOT isnan(n_chars::DOUBLE)
),
per AS (
  SELECT g, count(*)::BIGINT AS n_g, sum(x) AS sx,
         sum(x * x) AS sx2
  FROM base GROUP BY 1
),
tot AS (
  SELECT count(*)::BIGINT AS k_groups,
         sum(n_g)::BIGINT AS n,
         sum(sx) AS sx_all,
         sum(sx2) AS sx2_all,
         sum(sx * sx / n_g) AS sg
  FROM per
)
SELECT k_groups, n,
       round(sg - sx_all * sx_all / n::DOUBLE, 4) AS ssb,
       round(sx2_all - sg, 4) AS ssw,
       round(CASE WHEN k_groups >= 2 AND n > k_groups
                  AND sx2_all - sg > 0 THEN
         ((sg - sx_all * sx_all / n::DOUBLE)
          / (k_groups - 1)::DOUBLE)
         / ((sx2_all - sg) / (n - k_groups)::DOUBLE)
       END, 6) AS f_stat,
       round(CASE WHEN sx2_all - sx_all * sx_all / n::DOUBLE > 0 THEN
         (sg - sx_all * sx_all / n::DOUBLE)
         / (sx2_all - sx_all * sx_all / n::DOUBLE)
       END, 6) AS eta_sq
FROM tot
"""


@register("q236_anova_doc_length", _Q236_SQL)
def q236(spark, sf_dir):
    """One-way ANOVA of document length across sources
    (operators/profiling.py anova_oneway): does source explain length
    variance? Large F + η² mandates per-source thresholds (the q146
    calibration), η² ≈ 0 licenses one global gate. Per-group
    (n, Σx, Σx²) reduce first; every derived quantity is the same
    double expression over exact-integer sums on both engines."""
    from soda_core_spark.operators.profiling import anova_oneway

    d = _t(spark, sf_dir, "documents")
    return anova_oneway(d, "source", "n_chars")


# ---------------------------------------------------------------------------
# Brown–Forsythe spread homogeneity (operators/profiling.py
# brown_forsythe)
# ---------------------------------------------------------------------------

_Q237_SQL = """
WITH base AS (
  SELECT event_type AS g, value::DOUBLE AS x
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
),
med AS (
  SELECT g, quantile_cont(x, 0.5) AS med FROM base GROUP BY 1
),
dev AS (
  SELECT b.g, abs(b.x - m.med) AS z
  FROM base b JOIN med m USING (g)
),
per AS (
  SELECT g, count(*)::BIGINT AS n_g, sum(z) AS sx, sum(z * z) AS sx2
  FROM dev GROUP BY 1
),
tot AS (
  SELECT count(*)::BIGINT AS k_groups, sum(n_g)::BIGINT AS n,
         sum(sx) AS sx_all, sum(sx2) AS sx2_all,
         sum(sx * sx / n_g) AS sg
  FROM per
)
SELECT k_groups, n,
       round(CASE WHEN k_groups >= 2 AND n > k_groups
                  AND sx2_all - sg > 0 THEN
         ((sg - sx_all * sx_all / n::DOUBLE)
          / (k_groups - 1)::DOUBLE)
         / ((sx2_all - sg) / (n - k_groups)::DOUBLE)
       END, 6) AS bf_stat,
       round(CASE WHEN sx2_all - sx_all * sx_all / n::DOUBLE > 0 THEN
         (sg - sx_all * sx_all / n::DOUBLE)
         / (sx2_all - sx_all * sx_all / n::DOUBLE)
       END, 6) AS eta_sq
FROM tot
"""


@register("q237_brown_forsythe", _Q237_SQL)
def q237(spark, sf_dir):
    """Brown–Forsythe spread-homogeneity test over event values per
    type (operators/profiling.py brown_forsythe): ANOVA on
    |x − group median| — unequal spreads invalidate pooled thresholds
    even when means agree, and the median form stays calibrated under
    heavy tails. Exact interpolated medians broadcast back; the
    drift-prone ssb/ssw intermediates stay internal (only the
    scale-free ratios are emitted)."""
    from soda_core_spark.operators.profiling import brown_forsythe

    ev = _t(spark, sf_dir, "events")
    return brown_forsythe(ev, "event_type", "value").select(
        "k_groups", "n", "bf_stat", "eta_sq"
    )


# ---------------------------------------------------------------------------
# As-of (point-in-time) join (operators/temporal_join.py asof_join)
# ---------------------------------------------------------------------------

_Q238_SQL = """
WITH r AS (
  SELECT o_custkey AS k, o_orderdate AS rts, max(o_orderkey) AS v
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts,
       r.rts AS asof_ts, r.v AS o_orderkey
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.k AND e.ts >= r.rts
ORDER BY e.event_id
"""


@register("q238_asof_join", _Q238_SQL)
def q238(spark, sf_dir):
    """Point-in-time join (operators/temporal_join.py asof_join):
    every event picks the customer's most recent order at-or-before
    the event — the feature-lookup-at-event-time primitive Spark has
    no native operator for. Composed as union + one keyed shuffle +
    running last-non-null window (linear, no range fan-out, no
    correlated rescan); DuckDB's native ASOF JOIN is the oracle.
    Right-side ties collapse deterministically (max orderkey per
    (customer, date)) BEFORE the join, per the operator's uniqueness
    contract."""
    from soda_core_spark.operators.temporal_join import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("rts"),
        )
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    return asof_join(
        ev, od, "user_id", "ts", "rts", ["o_orderkey"]
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Range-window count join (operators/temporal_join.py range_count_join)
# ---------------------------------------------------------------------------

_Q239_SQL = """
SELECT o.o_orderkey, o.o_orderdate,
       count(l.l_linenumber)::BIGINT AS n_in_window
FROM orders o
LEFT JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
GROUP BY 1, 2
ORDER BY 1
"""


@register("q239_range_count_join", _Q239_SQL)
def q239(spark, sf_dir):
    """Range-window count join (operators/temporal_join.py
    range_count_join): per order, lines shipped inside the half-open
    30-day window from the order date — the conversion-window
    primitive. One equi-join on the key with the range predicate AS a
    join condition (rows drop before the aggregate), groupBy back to
    left grain, unmatched keys keep 0."""
    from soda_core_spark.operators.temporal_join import (
        range_count_join,
    )

    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return range_count_join(
        od, li, "o_orderkey", "o_orderdate", "l_shipdate",
        horizon_days=30, right_key="l_orderkey",
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# ROLLUP grouping sets (SURVEY §2.1: multi-level aggregation)
# ---------------------------------------------------------------------------

_Q240_SQL = """
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag)::BIGINT AS g_flag,
       grouping(l_linestatus)::BIGINT AS g_status,
       count(*)::BIGINT AS n_rows,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""


@register("q240_rollup_revenue", _Q240_SQL)
def q240(spark, sf_dir):
    """ROLLUP grouping sets: detail, per-flag subtotal, grand total in
    ONE aggregate — the multi-level report soda-core users emit as
    three scans, here one pass with grouping() indicators
    disambiguating subtotal NULLs from data NULLs. Spark expands
    grouping sets map-side; no extra corpus passes."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status",
            "n_rows", "revenue",
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Pivot (SURVEY §2.1: wide-form reshaping)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_Q241_SQL = f"""
SELECT strftime(ts, '%Y-%m') AS month,
       {', '.join(
           "sum(CASE WHEN event_type = '" + t + "' THEN 1 ELSE 0 END)"
           "::BIGINT AS n_" + t for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
ORDER BY 1
"""


@register("q241_pivot_event_counts", _Q241_SQL)
def q241(spark, sf_dir):
    """Month × event-type pivot to wide form: Spark's pivot() with the
    value list pinned explicitly — an open-vocabulary pivot needs a
    discovery pass AND makes the output schema data-dependent, both
    wrong for a contract table; the pinned list keeps it one
    aggregate with a stable schema (absent types emit 0)."""
    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "month",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    ).orderBy("month")


# ---------------------------------------------------------------------------
# Host-graph structure diagnostics (operators/linkgraph.py
# triangle_stats / edge_reciprocity / degree_assortativity)
# ---------------------------------------------------------------------------

_Q242_SQL = f"""
WITH {_LINKS_CTE},
und AS (
  SELECT DISTINCT least(src_host, dst_host) AS u,
                  greatest(src_host, dst_host) AS v
  FROM edges WHERE src_host <> dst_host
),
deg AS (
  SELECT h, count(*)::BIGINT AS d FROM (
    SELECT u AS h FROM und UNION ALL SELECT v AS h FROM und
  ) GROUP BY 1
),
oriented AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS a,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS b
  FROM und e
  JOIN deg du ON e.u = du.h
  JOIN deg dv ON e.v = dv.h
),
tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e1.b = e2.a
  WHERE EXISTS (SELECT 1 FROM oriented c
                WHERE c.a = e1.a AND c.b = e2.b)
),
tots AS (
  SELECT (SELECT count(*)::BIGINT FROM und) AS n_edges,
         (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
         (SELECT sum(d * (d - 1) / 2)::BIGINT FROM deg) AS n_wedges
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(CASE WHEN n_wedges > 0
             THEN 3.0 * n_triangles / n_wedges END, 6)
         AS transitivity
FROM tots, tri
"""


@register("q242_host_triangles", _Q242_SQL)
def q242(spark, sf_dir):
    """Exact triangle count + transitivity of the undirected host
    graph (operators/linkgraph.py triangle_stats): degree-ordered
    orientation counts each triangle once at its smallest-degree apex
    and bounds wedge fan-out by the oriented out-degree ≤ O(√|E|) —
    the Suri-Vassilvitskii MapReduce bound. Host-grain joins only."""
    from soda_core_spark.operators.linkgraph import (
        host_edges,
        outlink_hosts,
        triangle_stats,
    )

    edges = host_edges(outlink_hosts(_lg_frame(spark, sf_dir)))
    return triangle_stats(edges)


_Q243_SQL = f"""
WITH {_LINKS_CTE},
e AS (
  SELECT src_host, dst_host FROM edges WHERE src_host <> dst_host
),
mutual AS (
  SELECT count(*)::BIGINT AS n_reciprocal
  FROM e
  WHERE EXISTS (SELECT 1 FROM e r
                WHERE r.src_host = e.dst_host
                  AND r.dst_host = e.src_host)
)
SELECT (SELECT count(*)::BIGINT FROM e) AS n_edges,
       n_reciprocal,
       round(CASE WHEN (SELECT count(*) FROM e) > 0
             THEN n_reciprocal::DOUBLE / (SELECT count(*) FROM e)
             END, 6) AS reciprocity
FROM mutual
"""


@register("q243_link_reciprocity", _Q243_SQL)
def q243(spark, sf_dir):
    """Directed-edge reciprocity of the host graph
    (operators/linkgraph.py edge_reciprocity): mirror/scraper rings
    are near-fully mutual, spam-target patterns near zero. One
    self-semi-join on the host-grain edge table."""
    from soda_core_spark.operators.linkgraph import (
        edge_reciprocity,
        host_edges,
        outlink_hosts,
    )

    edges = host_edges(outlink_hosts(_lg_frame(spark, sf_dir)))
    return edge_reciprocity(edges)


_Q244_SQL = f"""
WITH {_LINKS_CTE},
und AS (
  SELECT DISTINCT least(src_host, dst_host) AS u,
                  greatest(src_host, dst_host) AS v
  FROM edges WHERE src_host <> dst_host
),
deg AS (
  SELECT h, count(*)::BIGINT AS d FROM (
    SELECT u AS h FROM und UNION ALL SELECT v AS h FROM und
  ) GROUP BY 1
),
dbl AS (
  SELECT u, v FROM und
  UNION ALL
  SELECT v AS u, u AS v FROM und
),
s AS (
  SELECT count(*)::BIGINT AS m2,
         sum(dj.d)::BIGINT AS sj, sum(dk.d)::BIGINT AS sk,
         sum(dj.d * dk.d)::BIGINT AS sjk,
         sum(dj.d * dj.d)::BIGINT AS sjj,
         sum(dk.d * dk.d)::BIGINT AS skk
  FROM dbl b
  JOIN deg dj ON b.u = dj.h
  JOIN deg dk ON b.v = dk.h
)
SELECT (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
       (SELECT count(*)::BIGINT FROM und) AS n_edges,
       round(CASE WHEN (m2::DOUBLE * sjj - sj::DOUBLE * sj) > 0
                   AND (m2::DOUBLE * skk - sk::DOUBLE * sk) > 0 THEN
         (m2::DOUBLE * sjk - sj::DOUBLE * sk)
         / sqrt((m2::DOUBLE * sjj - sj::DOUBLE * sj)
                * (m2::DOUBLE * skk - sk::DOUBLE * sk))
       END, 6) AS assortativity
FROM s
"""


@register("q244_degree_assortativity", _Q244_SQL)
def q244(spark, sf_dir):
    """Newman degree assortativity of the undirected host graph
    (operators/linkgraph.py degree_assortativity): r < 0 is the
    organic hub-to-leaf web, r near +1 flags stratified link
    exchange. Exact integer degree sums through the q177 six-sums
    correlation — identical doubles on both engines."""
    from soda_core_spark.operators.linkgraph import (
        degree_assortativity,
        host_edges,
        outlink_hosts,
    )

    edges = host_edges(outlink_hosts(_lg_frame(spark, sf_dir)))
    return degree_assortativity(edges)


# ---------------------------------------------------------------------------
# Prefix-filtering exact Jaccard join (operators/dedup.py
# prefix_filter_jaccard)
# ---------------------------------------------------------------------------

_Q245_SQL = """
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '[ \t\n\r]+'), x -> x <> '')
           AS ws
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN
           list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
         ELSE [array_to_string(ws, ' ')] END AS s
  FROM w
),
nonempty AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
-- duplicate-id policy mirrors the engine: a document's shingle set is
-- the distinct UNION over all rows sharing the id
tok AS (
  SELECT DISTINCT doc_id, g
  FROM (SELECT doc_id, unnest(s) AS g FROM nonempty)
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS i
  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM tok GROUP BY 1)
SELECT i.id_a, i.id_b,
       sa.sz AS size_a, sb.sz AS size_b,
       round(i.i::DOUBLE / (sa.sz + sb.sz - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE round(i.i::DOUBLE / (sa.sz + sb.sz - i.i), 6) >= 0.7
ORDER BY i.id_a, i.id_b
"""


@register("q245_prefix_filter_jaccard", _Q245_SQL)
def q245(spark, sf_dir):
    """Lossless prefix-filtering exact Jaccard join
    (operators/dedup.py prefix_filter_jaccard, PPJoin family): only
    pairs colliding inside each other's rarest-shingle prefix are
    verified — the exact ground truth q116 audits MinHash banding
    against, with no all-pairs step. The oracle brute-forces the same
    pairs through a full shingle join; prefix filtering must lose
    nothing (that's the theorem under test)."""
    from soda_core_spark.operators.dedup import prefix_filter_jaccard

    return prefix_filter_jaccard(
        _t(spark, sf_dir, "documents"), threshold=0.7
    )


# ---------------------------------------------------------------------------
# Weighted median (operators/profiling.py weighted_median)
# ---------------------------------------------------------------------------

_Q246_SQL = """
WITH per_val AS (
  SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS v,
         sum(l_quantity::BIGINT)::BIGINT AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT g, v,
         sum(w) OVER (PARTITION BY g ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(w) OVER (PARTITION BY g) AS W
  FROM per_val
)
SELECT g AS l_returnflag,
       max(W)::BIGINT AS total_weight,
       min(v) AS weighted_median
FROM cum
WHERE 2 * cw >= W
GROUP BY g
ORDER BY g
"""


@register("q246_weighted_median", _Q246_SQL)
def q246(spark, sf_dir):
    """Quantity-weighted median price per return flag
    (operators/profiling.py weighted_median): the price at which half
    the QUANTITY has shipped. Rows collapse to (group, value) grain
    before the window, the half-total test is the integer-exact
    2·cumw ≥ W (no division, no float boundary), and the corpus
    shuffles once on the group key."""
    from soda_core_spark.operators.profiling import weighted_median

    li = _t(spark, sf_dir, "lineitem")
    return weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity"
    )


# ---------------------------------------------------------------------------
# 2-D Pareto frontier / skyline (operators/profiling.py
# pareto_frontier2d)
# ---------------------------------------------------------------------------

_Q247_SQL = """
WITH base AS (
  SELECT p_partkey, p_retailprice, p_size
  FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
),
per_min AS (
  SELECT p_retailprice AS mn, max(p_size) AS mx
  FROM base GROUP BY 1
),
frontier AS (
  SELECT mn, mx,
         max(mx) OVER (ORDER BY mn
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS best_cheaper
  FROM per_min
),
reps AS (
  SELECT p_retailprice AS mn, p_size AS mx,
         min(p_partkey) AS p_partkey
  FROM base GROUP BY 1, 2
)
SELECT r.p_partkey, f.mn AS p_retailprice, f.mx AS p_size
FROM frontier f
JOIN reps r ON f.mn = r.mn AND f.mx = r.mx
WHERE f.best_cheaper IS NULL OR f.mx > f.best_cheaper
ORDER BY p_retailprice
"""


@register("q247_pareto_parts", _Q247_SQL)
def q247(spark, sf_dir):
    """2-D skyline of parts — cheapest price per size class and
    better (operators/profiling.py pareto_frontier2d): the quadratic
    NOT-EXISTS dominance join collapsed to one (min, max)-grain
    aggregate plus one ordered window with a strict -1-row frame;
    deterministic smallest-key representative per frontier point."""
    from soda_core_spark.operators.profiling import pareto_frontier2d

    return pareto_frontier2d(
        _t(spark, sf_dir, "part"),
        "p_retailprice", "p_size", "p_partkey",
    )


# ---------------------------------------------------------------------------
# Lorenz curve deciles (operators/profiling.py lorenz_deciles)
# ---------------------------------------------------------------------------

_Q248_SQL = """
WITH per_key AS (
  SELECT o_custkey AS k,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS vc,
         sum(o_totalprice) AS v
  FROM orders GROUP BY 1
),
tiled AS (
  SELECT k, v, ntile(10) OVER (ORDER BY vc, k) AS decile
  FROM per_key
),
per_dec AS (
  SELECT decile, count(*)::BIGINT AS n_keys, sum(v) AS dv
  FROM tiled GROUP BY 1
)
SELECT decile::BIGINT AS decile, n_keys,
       round(dv, 2) AS decile_value,
       round(sum(dv) OVER (ORDER BY decile
                           ROWS UNBOUNDED PRECEDING)
             / sum(dv) OVER (), 6) AS cum_value_share
FROM per_dec
ORDER BY decile
"""


@register("q248_lorenz_deciles", _Q248_SQL)
def q248(spark, sf_dir):
    """Customer-revenue Lorenz curve at decile grain
    (operators/profiling.py lorenz_deciles): the curve behind q148's
    Gini scalar — shows WHERE the concentration sits. ntile ordered
    by (value, key) so ties split identically cross-engine; windows
    touch the entity grain, never rows."""
    from soda_core_spark.operators.profiling import lorenz_deciles

    return lorenz_deciles(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# RFM segmentation (operators/profiling.py rfm_segments)
# ---------------------------------------------------------------------------

_Q249_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS c,
         max(o_orderdate) AS last_ts,
         count(*)::BIGINT AS freq,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS amtc,
         sum(o_totalprice) AS amt
  FROM orders GROUP BY 1
),
scored AS (
  SELECT c, amt,
         ntile(5) OVER (ORDER BY last_ts, c) AS r_score,
         ntile(5) OVER (ORDER BY freq, c) AS f_score,
         ntile(5) OVER (ORDER BY amtc, c) AS m_score
  FROM per_cust
)
SELECT r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
       m_score::BIGINT AS m_score,
       count(*)::BIGINT AS n_customers,
       round(sum(amt), 2) AS total_amount
FROM scored
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


@register("q249_rfm_segments", _Q249_SQL)
def q249(spark, sf_dir):
    """RFM customer segmentation (operators/profiling.py
    rfm_segments): recency/frequency/monetary quintiles with
    (metric, customer) tie ordering so both engines split equal
    values identically; windows run over the customer grain."""
    from soda_core_spark.operators.profiling import rfm_segments

    return rfm_segments(_t(spark, sf_dir, "orders"))
