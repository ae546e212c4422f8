"""Driver-contract query registry: each entry is one operator from
SURVEY.md §2 expressed over the /root/testdata tables, paired (where
SQL-expressible) with a DuckDB oracle that must hash-match.

Design rules for oracle parity (learned the hard way, documented for
every future query):

- alias every computed column identically in Spark and SQL;
- money math goes through DECIMAL(18,2) casts *per row* so sums are
  exact and order-independent (raw double sums differ between engines
  in the last bits) — but the FINAL output column must be cast to
  DOUBLE on both sides: the driver canonicalizes through pandas, where
  Spark decimals stay `Decimal('48.00')` but DuckDB's .df() converts
  to float64 `48.0`, so any trailing-zero decimal value hash-fails
  (this was 6/6 of the round-1 hash mismatches);
- raw parquet doubles pass through untouched (identical bits on both
  engines); never re-cast them to decimal in the output;
- averages stay double but are rounded to 4 decimals (fp error there
  is ~1e-7, margin 5e-5);
- duckdb SUM(INTEGER) returns INT128 — always CAST to BIGINT;
- timestamps compare as epoch BIGINT; the Spark session pins UTC;
- every rank/row_number has a total order (explicit id tie-breaks).

The registry maps the reference inventory as follows (operator ids
from SURVEY.md §2): S3 point_lookup, S4 range_scan, P1/P3 projection,
P2 tag_filter, J1 reverse_membership, J2 forward_completion, J3
semi/anti join, J4 outer-join diff, A1 union_distinct, A2
transitive_closure, A3 group aggregation, A4 bounds, A5
last_version_wins, O window top-k / ordered output, plus the engine
extensions (as-of join, sessionization, tumbling windows, rollup,
pivot) the reference lacks but our SQL surface exposes for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import lineage
from pyspark.sql import types as T

from .operators.asof import asof_join
from .operators.closure import transitive_closure
from .registry import defq

def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (LTZ).

    The testdata writer's parquet annotation has varied across driver
    rounds (round 1: UTC-adjusted; round 2: no-timezone, which Spark 4
    infers as TIMESTAMP_NTZ). Functions like `unix_micros` and window()
    require LTZ, and the DuckDB oracles read the same files as naive
    timestamps — with the session pinned UTC the cast preserves the
    stored int64 exactly, so both annotations behave identically."""
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # defensive: oracle parity requires UTC literal parsing even when the
    # caller's session didn't pin it (runtime-settable conf).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return events(spark, sf_dir)
    df = _ntz_to_ltz(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    if name == "embeddings":
        # Scale-adaptive fan-out (guide §2): the embeddings fixture is
        # ONE parquet row group -> one scan partition, and every
        # vector operator's per-row work is interpreted higher-order
        # array math (zip_with/aggregate folds do not enter
        # whole-stage codegen) — serial on a 32-core session.  When
        # the scan has fewer partitions than task slots, round-robin
        # the rows across slots (a one-pass ~1 MB exchange here); at
        # corpus scale the file fan-out exceeds defaultParallelism
        # and this is a no-op, keeping the scan-shaped plans.
        slots = spark.sparkContext.defaultParallelism
        if lineage.narrow_scan(df, slots):
            df = df.repartition(slots)
    return df


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 events.parquet stored `ts` as parquet TIMESTAMP(NANOS),
    which the Spark vectorized reader rejects outright: read nanos as
    long (legacy conf, runtime-settable) and convert with integer
    arithmetic — `ts` values (~1.7e18 ns) overflow double precision, so
    the division must be integral; DuckDB truncates TIMESTAMP_NS to
    micros, matching `ts DIV 1000` exactly. Round-2 testdata writes
    micros without a timezone annotation instead — normalize the
    resulting TIMESTAMP_NTZ to LTZ (same int64, see _ntz_to_ltz)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000").cast("long"))
        )
    return _ntz_to_ltz(df)


def money(col):
    """Exact per-row money value: double -> DECIMAL(18,2)."""
    return F.col(col).cast("decimal(18,2)") if isinstance(col, str) else col.cast(
        "decimal(18,2)"
    )


# --------------------------------------------------------------------------
# A3 — grouped aggregation (TPC-H Q1 shape; reference analog: the stats
# scan S6 generalized). Decimal sums exact; averages rounded doubles.
@defq(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(money("l_extendedprice") * (F.lit(1) - money("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# S3 — point lookup (src/cmd.cpp:44-86): pushed id predicate.
@defq(
    "q_point_lookup",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice AS total_price
    FROM orders
    WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
    """,
)
def q_point_lookup(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    min_key = o.agg(F.min("o_orderkey")).collect()[0][0]
    return o.where(F.col("o_orderkey") == min_key).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").alias("total_price"),
    )


# S4 — OR-of-ranges scan (the covering filter shape, src/storage.cpp:170-191).
@defq(
    "q_range_scan",
    """
    SELECT l_orderkey, l_linenumber,
           l_quantity AS quantity
    FROM lineitem
    WHERE (l_orderkey BETWEEN 100 AND 160)
       OR (l_orderkey BETWEEN 700 AND 760)
       OR (l_orderkey BETWEEN 1300 AND 1360)
    """,
)
def q_range_scan(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    return li.where(
        k.between(100, 160) | k.between(700, 760) | k.between(1300, 1360)
    ).select("l_orderkey", "l_linenumber", F.col("l_quantity").alias("quantity"))


# P2 — tag/map predicate (src/extract.cpp:249-250 analog over JSON props).
@defq(
    "q_tag_filter",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 80
    """,
)
def q_tag_filter(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_id", "event_type", k.alias("k")).where(F.col("k") > 80)


# P1/P3 — projection + computed column (GDPR-drop analog, src/extract.cpp:324-328).
@defq(
    "q_projection",
    """
    SELECT c_custkey, c_mktsegment, CAST(LENGTH(c_name) AS INTEGER) AS name_len
    FROM customer
    """,
)
def q_projection(spark, sf_dir):
    return t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.length("c_name").alias("name_len")
    )


# J1 — reverse-membership lookup join (src/storage.cpp:193-208): a small
# filtered dimension probes a big fact; Spark broadcasts the small side.
@defq(
    "q_reverse_membership",
    """
    SELECT DISTINCT l_orderkey AS order_id
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#1'
    """,
)
def q_reverse_membership(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("order_id"))
        .distinct()
    )


# J2 — forward completion join (src/extract.cpp:264-274): fetch-back of
# referenced members for a selected id-set.
@defq(
    "q_forward_completion",
    """
    SELECT DISTINCT p_partkey, p_name
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE l_orderkey < 100
    """,
)
def q_forward_completion(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    p = t(spark, sf_dir, "part")
    return (
        p.join(li, p["p_partkey"] == li["l_partkey"], "left_semi")
        .select("p_partkey", "p_name")
        .distinct()
    )


# J3 — existence semi-join (src/extract.cpp:253-255).
@defq(
    "q_semi_join",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def q_semi_join(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


# J3b — anti join (dangling-reference detection).
@defq(
    "q_anti_join",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q_anti_join(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


# J4 — outer-join diff classification (augmented_diff.py:48-55 analog).
@defq(
    "q_outer_join_diff",
    """
    SELECT p_partkey,
           COUNT(l_orderkey) AS n_lines,
           (COUNT(l_orderkey) > 0) AS is_ordered
    FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
    GROUP BY p_partkey
    """,
)
def q_outer_join_diff(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p["p_partkey"] == li["l_partkey"], "left_outer")
        .groupBy("p_partkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
        .select("p_partkey", "n_lines", (F.col("n_lines") > 0).alias("is_ordered"))
    )


# A1 — distinct set union (Roaring bitmap |= analog, src/extract.cpp:149-151).
@defq(
    "q_union_distinct",
    """
    SELECT DISTINCT id FROM (
      SELECT o_custkey AS id FROM orders
      UNION ALL
      SELECT s_suppkey AS id FROM supplier
    )
    """,
)
def q_union_distinct(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("id"))
    return o.union(s).distinct()


# A2 — transitive closure fixpoint (src/extract.cpp:211-237) over a
# namespaced orders->customer->nation->region edge graph; oracle is a
# recursive CTE, our engine runs the driver-loop operator.
@defq(
    "q_transitive_closure",
    """
    WITH RECURSIVE edges(src, dst) AS (
      SELECT o_orderkey + 10000000, o_custkey + 20000000 FROM orders
      UNION ALL
      SELECT c_custkey + 20000000, c_nationkey + 30000000 FROM customer
      UNION ALL
      SELECT n_nationkey + 30000000, n_regionkey + 40000000 FROM nation
    ), reach(id) AS (
      SELECT o_orderkey + 10000000 FROM orders WHERE o_orderkey < 50
      UNION
      SELECT e.dst FROM edges e JOIN reach r ON e.src = r.id
    )
    SELECT CAST(id AS BIGINT) AS id FROM reach
    """,
)
def q_transitive_closure(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    edges = (
        o.select(
            (F.col("o_orderkey") + 10_000_000).alias("src"),
            (F.col("o_custkey") + 20_000_000).alias("dst"),
        )
        .union(
            c.select(
                (F.col("c_custkey") + 20_000_000).alias("src"),
                (F.col("c_nationkey") + 30_000_000).alias("dst"),
            )
        )
        .union(
            n.select(
                (F.col("n_nationkey") + 30_000_000).alias("src"),
                (F.col("n_regionkey") + 40_000_000).alias("dst"),
            )
        )
    )
    seeds = o.where(F.col("o_orderkey") < 50).select(
        (F.col("o_orderkey") + 10_000_000).alias("id")
    )
    return transitive_closure(seeds, edges, "src", "dst").select(
        F.col("id").cast("long").alias("id")
    )


# rollup — grouping-sets aggregation (SURVEY.md §2.4 'free builtins').
@defq(
    "q_rollup",
    """
    SELECT n_name, c_mktsegment,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(n_name, c_mktsegment)
    """,
)
def q_rollup(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(money("c_acctbal")).cast("double").alias("sum_bal"),
        )
    )


# cube — the full grouping-sets lattice (SURVEY.md §2.4 'free builtins';
# rollup covers the hierarchy, cube all 2^k subsets).
@defq(
    "q_cube",
    """
    SELECT n_name, c_mktsegment,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY CUBE(n_name, c_mktsegment)
    """,
)
def q_cube(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .cube("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(money("c_acctbal")).cast("double").alias("sum_bal"),
        )
    )


# A4 — bounds aggregation (src/region.cpp:137-157 analog).
@defq(
    "q_bounds_agg",
    """
    SELECT n_name,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           COUNT(*) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_bounds_agg(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# A5 — last-version-wins dedup window (augmented_diff.py:28-36).
@defq(
    "q_last_version_wins",
    """
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_last_version_wins(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


# O — top-k per group window.
@defq(
    "q_topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal AS acctbal
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", F.col("c_acctbal").alias("acctbal"))
    )


# O3 — typed ordered output (three-pass extract sink shape,
# src/extract.cpp:304-421).
@defq(
    "q_typed_counts",
    """
    SELECT * FROM (
      SELECT 1 AS type_rank, 'customer' AS tbl, COUNT(*) AS n FROM customer
      UNION ALL
      SELECT 2, 'orders', COUNT(*) FROM orders
      UNION ALL
      SELECT 3, 'lineitem', COUNT(*) FROM lineitem
    ) ORDER BY type_rank
    """,
)
def q_typed_counts(spark, sf_dir):
    rows = [
        t(spark, sf_dir, "customer")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(1).alias("type_rank"), F.lit("customer").alias("tbl"), "n"),
        t(spark, sf_dir, "orders")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(2).alias("type_rank"), F.lit("orders").alias("tbl"), "n"),
        t(spark, sf_dir, "lineitem")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(3).alias("type_rank"), F.lit("lineitem").alias("tbl"), "n"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out.orderBy("type_rank")


# multi-join star (TPC-H Q5 shape) — Catalyst join reordering + AQE.
@defq(
    "q_star_join_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('AMERICA', 'ASIA')
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_star_join_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "1996-01-01 00:00:00"
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").where(F.col("r_name").isin("AMERICA", "ASIA"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.sum(money("l_extendedprice") * (F.lit(1) - money("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# exact count-distinct (bitmap-cardinality analog; approx_count_distinct
# is exposed Spark-side but can't oracle-match, SURVEY.md §2.4).
@defq(
    "q_count_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_count_distinct(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


# pivot — conditional aggregation.
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@defq(
    "q_pivot_event_types",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view
    FROM events GROUP BY user_id
    """,
)
def q_pivot_event_types(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    piv = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    for et in EVENT_TYPES:
        piv = piv.withColumn(f"n_{et}", F.coalesce(F.col(et), F.lit(0)).cast("long"))
    return piv.select("user_id", *[f"n_{et}" for et in EVENT_TYPES])


# tumbling window aggregation (U5's windowed-agg surface; batch form).
@defq(
    "q_window_tumbling",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS win_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_window_tumbling(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# sliding windows — every event lands in windowDuration/slide = 2
# overlapping windows; the oracle replicates Spark's alignment (starts
# at bucket(ts, slide) and bucket(ts, slide) - slide).
@defq(
    "q_window_sliding",
    """
    WITH s AS (
      SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT)
               - 300 * o.off AS win_start,
             event_type, value
      FROM events, (VALUES (0), (1)) o(off)
    )
    SELECT win_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY 1, 2
    """,
)
def q_window_sliding(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# as-of join (backward) — our union+window operator vs a rank-based oracle.
@defq(
    "q_asof_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view'),
    cand AS (
      SELECT p.event_id, v.view_id,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts DESC, v.view_id DESC) AS rn
      FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
    )
    SELECT p.event_id, p.user_id, c.view_id AS asof_view_id
    FROM p LEFT JOIN (SELECT event_id, view_id FROM cand WHERE rn = 1) c
      USING (event_id)
    """,
)
def q_asof_join(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    return asof_join(
        purchases,
        views,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_cols=["view_id"],
        right_order="view_id",
    ).select("event_id", "user_id", "asof_view_id")


# forward as-of: the next view at-or-after each purchase (same
# one-shuffle union+window plan, flipped fill direction).
@defq(
    "q_asof_join_forward",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view'),
    cand AS (
      SELECT p.event_id, v.view_id,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts ASC, v.view_id ASC) AS rn
      FROM p JOIN v ON v.user_id = p.user_id AND v.ts >= p.ts
    )
    SELECT p.event_id, p.user_id, c.view_id AS asof_view_id
    FROM p LEFT JOIN (SELECT event_id, view_id FROM cand WHERE rn = 1) c
      USING (event_id)
    """,
)
def q_asof_join_forward(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    return asof_join(
        purchases,
        views,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_cols=["view_id"],
        right_order="view_id",
        direction="forward",
    ).select("event_id", "user_id", "asof_view_id")


# sessionization — gap-based windows (SURVEY.md §2.6: exposed builtin).
SESSION_GAP_US = 30 * 60 * 1_000_000


@defq(
    "q_sessionize",
    f"""
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    ), per_sess AS (
      SELECT user_id, sess, COUNT(*) AS n FROM s GROUP BY user_id, sess
    )
    SELECT user_id, COUNT(*) AS n_sessions, MAX(n) AS max_session_len,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM per_sess GROUP BY user_id
    """,
)
def q_sessionize(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > SESSION_GAP_US,
            1,
        )
        .otherwise(0)
        .alias("new_sess")
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = (
        ev.select("user_id", "event_id", "ts", new_sess)
        .select("user_id", "event_id", F.sum("new_sess").over(wc).alias("sess"))
    )
    per_sess = sess.groupBy("user_id", "sess").agg(F.count(F.lit(1)).alias("n"))
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n").alias("max_session_len"),
        F.sum("n").cast("long").alias("n_events"),
    )


BAND_SECONDS = 3600


@defq(
    "q_band_join",
    f"""
    SELECT l.event_id AS click_id, r.event_id AS purchase_id,
           l.user_id,
           CAST(epoch_us(r.ts) - epoch_us(l.ts) AS BIGINT) AS gap_us
    FROM events l JOIN events r ON l.user_id = r.user_id
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
      AND r.ts > l.ts
      AND epoch_us(r.ts) - epoch_us(l.ts) <= CAST({BAND_SECONDS} AS BIGINT) * 1000000
    """,
)
def q_band_join(spark, sf_dir):
    """Batch band join (operators/asof.py:band_join): purchases within
    one hour AFTER each click by the same user. The plan is the
    bucketed-band equi-join — floor(epoch/band) buckets, the left side
    probes (b, b+1), exact predicate refines — so shuffle volume is
    2|L| + |R| keyed rows, never the per-key pair blowup of a raw
    inequality join."""
    from .operators.asof import band_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id"), F.col("ts"), F.col("user_id")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("ts"), F.col("user_id")
    )
    joined = band_join(
        clicks, purchases, "user_id", "ts", "ts", BAND_SECONDS
    )
    return joined.select(
        F.col("event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        "user_id",
        (F.unix_micros("r_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


@defq(
    "q_event_funnel",
    """
    WITH f1 AS (
      SELECT user_id AS "user", min(ts) AS t
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    f2 AS (
      SELECT e.user_id AS "user", min(e.ts) AS t
      FROM events e JOIN f1 ON e.user_id = f1."user"
      WHERE e.event_type = 'click' AND e.ts > f1.t
      GROUP BY e.user_id
    ),
    f3 AS (
      SELECT e.user_id AS "user", min(e.ts) AS t
      FROM events e JOIN f2 ON e.user_id = f2."user"
      WHERE e.event_type = 'purchase' AND e.ts > f2.t
      GROUP BY e.user_id
    ),
    stages AS (
      SELECT "user", 1 AS stage FROM f1
      UNION ALL SELECT "user", 2 FROM f2
      UNION ALL SELECT "user", 3 FROM f3
    )
    SELECT "user", CAST(max(stage) AS INTEGER) AS stage
    FROM stages GROUP BY "user"
    """,
)
def q_event_funnel(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase
    (operators/events.py:funnel_stages): stage i+1 counts only events
    strictly after the user's stage-i completion — per-user aggregates
    join, the event table never self-joins row-to-row."""
    from .operators.events import funnel_stages

    ev = t(spark, sf_dir, "events")
    return funnel_stages(
        ev,
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
    )


@defq(
    "q_cohort_retention",
    """
    WITH days AS (
      SELECT user_id AS "user", CAST(ts AS DATE) AS day FROM events
    ),
    first AS (SELECT "user", min(day) AS c0 FROM days GROUP BY "user"),
    active AS (
      SELECT DISTINCT d."user", f.c0,
             CAST((day - c0) // 7 AS INTEGER) AS week_offset
      FROM (SELECT DISTINCT "user", day FROM days) d
      JOIN first f ON d."user" = f."user"
    )
    SELECT strftime(c0, '%Y-%m-%d') AS cohort_day, week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM active GROUP BY c0, week_offset
    """,
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention grid (operators/events.py:cohort_retention):
    first-activity-day cohorts x integer week offsets; per-user
    aggregates join so the join carries |users| rows, not events."""
    from .operators.events import cohort_retention

    ev = t(spark, sf_dir, "events")
    return cohort_retention(ev)


@defq(
    "q_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS with grouping_id — the general form under rollup/
    cube (one Expand + one aggregate in Catalyst; DuckDB plans the
    same shape). The frame is passed to spark.sql as a parameter, not
    registered as a view: a fixed-name view is session state that
    concurrent runs would race on."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                    AS BIGINT) AS gid,
               count(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """,
        li=t(spark, sf_dir, "lineitem"),
    )


@defq(
    "q_event_transitions",
    """
    WITH s AS (
      SELECT LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events
    )
    SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def q_event_transitions(spark, sf_dir):
    """Markov transition matrix over the event stream (operators/
    events.py:transition_counts): one lag window per user + one
    map-side-combined count — the path-analysis primitive."""
    from .operators.events import transition_counts

    return transition_counts(t(spark, sf_dir, "events"))


@defq(
    "q_time_resample",
    """
    WITH rb AS (
      SELECT user_id AS "user",
             -- NB epoch() is DOUBLE and duckdb's // does NOT floor
             -- doubles (and CAST double->BIGINT rounds): floor first
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket
      FROM events
    ),
    rc AS (SELECT "user", bucket, count(*) AS n FROM rb GROUP BY 1, 2),
    rs AS (SELECT "user", min(bucket) AS b0, max(bucket) AS b1
           FROM rb GROUP BY "user"),
    spine AS (
      SELECT "user", unnest(range(b0, b1 + 1)) AS bucket FROM rs
    )
    SELECT s."user", CAST(s.bucket * 3600 AS BIGINT) AS bucket_epoch,
           CAST(COALESCE(rc.n, 0) AS BIGINT) AS n
    FROM spine s LEFT JOIN rc ON s."user" = rc."user" AND s.bucket = rc.bucket
    """,
)
def q_time_resample(spark, sf_dir):
    """Dense per-user hourly series with zero-filled gaps (operators/
    events.py:resample_counts): sequence()-generated time spine (rows
    proportional to each user's active span) + one left join — the
    resampling step under any charting/forecasting consumer."""
    from .operators.events import resample_counts

    return resample_counts(t(spark, sf_dir, "events"))


def _tt_fingerprint(sf_dir: str) -> str:
    """Content key of the time-travel input (size + newest mtime of
    orders.parquet via queries_data._path_fingerprint, the same
    invalidation the on-disk ANN index caches use): the driver
    REGENERATES /root/testdata each round in the SAME checkout, so a
    store trusted only by path would serve version-0 data built from a
    previous round's file and hash-fail against the oracle."""
    import hashlib
    import os

    from .queries_data import _path_fingerprint

    path = os.path.join(sf_dir, "orders.parquet")
    h = hashlib.md5(sf_dir.encode())
    try:
        h.update(_path_fingerprint(path).encode())
    except OSError:
        pass
    return h.hexdigest()[:12]


def _tt_batch(df, mod: int, bump: int):
    """Deterministic upsert batch: rows whose id % mod == 0 get
    val + bump at the next version, plus one new id (2_000_000 + bump)."""
    upd = (
        df.where(F.col("id") % mod == 0)
        .select("id", (F.col("val") + bump).alias("val"))
    )
    ins = df.sparkSession.createDataFrame(
        [(2_000_000 + bump, bump)], "id long, val long"
    )
    return upd.unionByName(ins)


@defq(
    "q_store_time_travel",
    """
    WITH base AS (
      SELECT CAST(o_orderkey AS BIGINT) AS id,
             CAST(o_custkey AS BIGINT) AS val
      FROM orders
    ),
    b1 AS (
      SELECT id, val + 1000 AS val FROM base WHERE id % 7 = 0
      UNION ALL SELECT 2001000, 1000
    ),
    v1 AS (
      SELECT id, COALESCE(b1.val, base.val) AS val
      FROM base LEFT JOIN b1 USING (id)
      UNION ALL SELECT id, val FROM b1 WHERE id NOT IN (SELECT id FROM base)
    ),
    b2 AS (
      SELECT id, val + 5000 AS val FROM v1 WHERE id % 11 = 0
      UNION ALL SELECT 2005000, 5000
    ),
    v2 AS (
      SELECT id, COALESCE(b2.val, v1.val) AS val
      FROM v1 LEFT JOIN b2 USING (id)
      UNION ALL SELECT id, val FROM b2 WHERE id NOT IN (SELECT id FROM v1)
    )
    SELECT * FROM (
      SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(val) AS BIGINT) AS sum_val FROM base
      UNION ALL
      SELECT 1, CAST(count(*) AS BIGINT), CAST(sum(val) AS BIGINT) FROM v1
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(val) AS BIGINT) FROM v2
    )
    """,
)
def q_store_time_travel(spark, sf_dir):
    """MVCC time travel through the real SnapshotStore (store.py:
    read_table(version=), the LMDB-snapshot / Delta-versionAsOf
    analog): commit a base table and two deterministic upsert batches,
    then aggregate EVERY version through the immutable manifests. The
    oracle replays the three versions relationally, so a torn or
    wrongly-resolved manifest read shows up as a hash mismatch.

    The store directory is content-keyed per sf and rebuilt only when
    absent (contract queries must be idempotent across runs)."""
    import os as _os

    from .store import SnapshotStore

    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("id"),
        F.col("o_custkey").cast("long").alias("val"),
    )
    # FIXED directory per sf tag + fingerprint FILE (the _fixture_index
    # pattern): regeneration rebuilds in place instead of stranding one
    # store_tt_<fp> directory per round
    sf_tag = _os.path.basename(sf_dir.rstrip("/"))
    root = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        ".fixtures",
        f"store_tt_{sf_tag}",
    )
    fp = _tt_fingerprint(sf_dir)
    fp_file = _os.path.join(root, "src.fp")
    store = SnapshotStore(spark, root)
    latest = store.latest_version()
    stale = True
    if latest is not None and _os.path.exists(fp_file):
        with open(fp_file) as f:
            stale = f.read().strip() != fp
    if latest is not None and (stale or latest < 2):
        # stale input (testdata regenerated) or a partially built store
        # (crash between commits) must be REBUILT, not appended to:
        # commit() always writes prev+1, so appending would shift the
        # version->content mapping forever
        import shutil as _sh

        _sh.rmtree(root)
        store = SnapshotStore(spark, root)
        latest = None
    if latest is None:
        with open(fp_file, "w") as f:
            f.write(fp)
        store.commit({"rows": base}, sort_by={"rows": "id"})
        cur = base
        for mod, bump in ((7, 1000), (11, 5000)):
            batch = _tt_batch(cur, mod, bump)
            cur = (
                cur.join(batch.select("id"), "id", "left_anti")
                .unionByName(batch)
            )
            store.commit({"rows": cur}, sort_by={"rows": "id"})
    out = None
    for v in (0, 1, 2):
        row = store.read_table("rows", version=v).agg(
            F.lit(v).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@defq(
    "q_trend_slopes",
    """
    WITH te AS (
      SELECT event_type AS g,
             CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
             CAST(round(value * 1000, 0) AS BIGINT) AS y
      FROM events
    ),
    tt0 AS (SELECT g, min(epoch) AS t0 FROM te GROUP BY g),
    txy AS (
      SELECT te.g, (te.epoch - tt0.t0) // 60 AS x, te.y
      FROM te JOIN tt0 ON te.g = tt0.g
    ),
    ts2 AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM txy GROUP BY g
    )
    SELECT g AS event_type, n,
           CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
                THEN round(
                  CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                       AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                         AS DOUBLE), 6)
           END AS slope_milli_per_min
    FROM ts2
    """,
)
def q_trend_slopes(spark, sf_dir):
    """Per-event-type least-squares trend slope (operators/events.py:
    trend_slopes): integer-exact moment sums (x in minutes since the
    group's first event, y in millis), DECIMAL(38,0)/HUGEINT products,
    one double division at the very end — regression analytics without
    float accumulation anywhere."""
    from .operators.events import trend_slopes

    return trend_slopes(t(spark, sf_dir, "events"))
