"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry exercises one or more operators from SURVEY.md §2 over the
driver-provided tables (``region nation customer supplier part orders
lineitem events documents embeddings``). The Spark side and the SQL side are
written for **bit-identical results**:

* integer arithmetic for derived geometry (no trig in oracle-paired paths —
  JVM ``Math.cos`` and C libm may differ in the last ULP)
* ``floor(x + 0.5)`` rounding (portable, unlike banker's rounding)
* ``DIV``/``//`` integer division, ``%`` on non-negative operands only
* double sums that cross shuffle boundaries are rounded to absorb
  reassociation error (Spark's partial aggregation reorders float adds;
  DuckDB sums sequentially)
* md5 for fingerprints (bit-identical in both engines)

Spatial queries derive deterministic lon/lat/bboxes from integer keys — the
engine's cell/tiling/join/kNN operators then run on them exactly as they
would on real footprints (same expressions, same shuffles), giving the
correctness gate end-to-end coverage of the spatial core.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as T
from .functions.spatial import hex_cell, hex_cell_sql
from .operators import cleaning, dedup, knn, similarity, tiling

KNUTH = 2654435761

# --------------------------------------------------------------- loaders


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read an input table, spread across all cores.

    The driver-generated sf parquet files hold a SINGLE row group, and the
    row group is Spark's parquet split unit — without the explicit
    round-robin repartition every downstream chain (minhash, cosine top-k,
    shingle hashing, …) executes as ONE task regardless of core count. The
    one-time exchange is the cost of restoring parallelism; at production
    scale the table is many files/row-groups and the repartition is dropped
    (it only applies below the threshold)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    par = spark.sparkContext.defaultParallelism
    # split count ≈ input file count here (single-row-group files, far below
    # maxPartitionBytes); df.inputFiles() is driver-side metadata, unlike
    # df.rdd.getNumPartitions() which builds the physical plan eagerly on
    # every load across the 28-query registry
    if len(df.inputFiles()) < max(2, par // 4):
        df = df.repartition(par)
    return df


# ---------------------------------------------- derived geometry (exact)


def order_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic point per order: integer-hash spread over the globe.
    Trig-free → bit-identical in DuckDB."""
    o = load(spark, sf_dir, "orders")
    h = F.col("o_orderkey") * F.lit(KNUTH)
    return o.select(
        F.col("o_orderkey").alias("id"),
        ((h % 360_000) / 1000.0 - 180.0).alias("lon"),
        ((F.expr(f"o_orderkey * {KNUTH} DIV 360000") % 120_000) / 1000.0 - 60.0).alias("lat"),
    )


ORDER_POINTS_SQL = f"""
SELECT o_orderkey AS id,
       ((o_orderkey * {KNUTH}) % 360000) / 1000.0 - 180.0 AS lon,
       (((o_orderkey * {KNUTH}) // 360000) % 120000) / 1000.0 - 60.0 AS lat
FROM orders
"""


def customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    h = F.col("c_custkey") * F.lit(KNUTH)
    return c.select(
        F.col("c_custkey").alias("id"),
        ((h % 360_000) / 1000.0 - 180.0).alias("lon"),
        ((F.expr(f"c_custkey * {KNUTH} DIV 360000") % 120_000) / 1000.0 - 60.0).alias("lat"),
    )


CUSTOMER_POINTS_SQL = f"""
SELECT c_custkey AS id,
       ((c_custkey * {KNUTH}) % 360000) / 1000.0 - 180.0 AS lon,
       (((c_custkey * {KNUTH}) // 360000) % 120000) / 1000.0 - 60.0 AS lat
FROM customer
"""


def order_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point + fixed-size half-extent (trig-free bbox): the probe side of
    bbox joins. Half-extent 0.05°–0.4° keyed off the orderkey."""
    p = order_points(spark, sf_dir)
    half = (F.col("id") % 8).cast("double") * 0.05 + 0.05
    return p.select(
        "id",
        (F.col("lon") - half).alias("minx"),
        (F.col("lat") - half).alias("miny"),
        (F.col("lon") + half).alias("maxx"),
        (F.col("lat") + half).alias("maxy"),
    )


ORDER_FOOTPRINTS_SQL = f"""
SELECT id, lon - half AS minx, lat - half AS miny, lon + half AS maxx, lat + half AS maxy
FROM (SELECT id, lon, lat, CAST(id % 8 AS DOUBLE) * 0.05 + 0.05 AS half
      FROM ({ORDER_POINTS_SQL.strip()}))
"""


def part_aois(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AOI bboxes from part rows (the small broadcast side). One in 50 parts
    is a 'giant' AOI — the skew fixture."""
    p = load(spark, sf_dir, "part")
    cx = ((F.col("p_partkey") * 73) % 340).cast("double") - 170.0 + 0.5
    cy = ((F.col("p_partkey") * 37) % 100).cast("double") - 50.0 + 0.5
    half = F.when(F.col("p_partkey") % 50 == 0, F.lit(25.0)).otherwise(
        (F.col("p_partkey") % 8).cast("double") + 2.0
    )
    return p.select(
        F.col("p_partkey").alias("aoi_id"),
        (cx - half).alias("aminx"),
        (cy - half).alias("aminy"),
        (cx + half).alias("amaxx"),
        (cy + half).alias("amaxy"),
    )


PART_AOIS_SQL = """
SELECT p_partkey AS aoi_id, cx - half AS aminx, cy - half AS aminy,
       cx + half AS amaxx, cy + half AS amaxy
FROM (SELECT p_partkey,
             CAST((p_partkey * 73) % 340 AS DOUBLE) - 170.0 + 0.5 AS cx,
             CAST((p_partkey * 37) % 100 AS DOUBLE) - 50.0 + 0.5 AS cy,
             CASE WHEN p_partkey % 50 = 0 THEN 25.0
                  ELSE CAST(p_partkey % 8 AS DOUBLE) + 2.0 END AS half
      FROM part)
"""


# ------------------------------------------------------------- queries


def q_pricing_summary(spark, sf_dir):
    """A5-style streaming aggregation (TPC-H Q1 shape) on lineitem."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
       round(CAST(avg(l_quantity) AS DOUBLE), 6) AS avg_qty,
       round(CAST(avg(l_discount) AS DOUBLE), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark, sf_dir):
    """Join + agg + top-k (Q3 shape): customer ⋈ orders ⋈ lineitem."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


Q_TOP_REVENUE_ORDERS_SQL = """
SELECT o_orderkey, round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_order_priority_queue(spark, sf_dir):
    """O1 priority-pop semantics as a query: top 10 by (priority, key)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy(F.col("o_orderpriority").asc(), F.col("o_orderkey").asc())
        .limit(10)
    )


Q_ORDER_PRIORITY_QUEUE_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
WHERE o_orderstatus = 'O'
ORDER BY o_orderpriority ASC, o_orderkey ASC LIMIT 10
"""


def q_distinct_ship_months(spark, sf_dir):
    """A7/T2 distinct-dates: distinct year-month of shipments, sorted."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .distinct()
        .orderBy("ship_month")
    )


Q_DISTINCT_SHIP_MONTHS_SQL = """
SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS ship_month FROM lineitem ORDER BY ship_month
"""


def q_first_order_per_customer(spark, sf_dir):
    """W5/O3 ranking window: earliest order per customer (ties → min key)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("first_date"))
        .orderBy("o_custkey")
    )


Q_FIRST_ORDER_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS first_date
FROM (SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) rn
      FROM orders)
WHERE rn = 1 ORDER BY o_custkey
"""


def q_customers_without_orders(spark, sf_dir):
    """J6-style anti-join cardinality check."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


Q_CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
ORDER BY c_custkey
"""


def q_part_size_histogram(spark, sf_dir):
    """A8 size-consistency histogram: count per p_size + share."""
    p = load(spark, sf_dir, "part")
    total = p.count()
    return (
        p.groupBy("p_size")
        .agg(F.count("*").alias("n"))
        .withColumn("share", F.round(F.col("n") / F.lit(float(total)), 6))
        .orderBy("p_size")
    )


Q_PART_SIZE_HISTOGRAM_SQL = """
SELECT p_size, count(*) AS n,
       round(CAST(count(*) AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM part), 6) AS share
FROM part GROUP BY p_size ORDER BY p_size
"""


def q_region_nation_union(spark, sf_dir):
    """T1 union + distinct across two filtered sets."""
    n = load(spark, sf_dir, "nation")
    a = n.filter(F.col("n_regionkey") <= 1).select(F.col("n_name").alias("name"))
    b = n.filter(F.col("n_regionkey") >= 1).select(F.col("n_name").alias("name"))
    return a.unionByName(b).distinct().orderBy("name")


Q_REGION_NATION_UNION_SQL = """
SELECT DISTINCT name FROM (
  SELECT n_name AS name FROM nation WHERE n_regionkey <= 1
  UNION ALL
  SELECT n_name AS name FROM nation WHERE n_regionkey >= 1
) ORDER BY name
"""


def q_asof_nearest_event(spark, sf_dir):
    """J3 as-of nearest join: for each 'purchase' event, the nearest 'view'
    event by |Δts| within ±1 day for the same user; the earlier event wins
    ties (the reference's index-of-min over ascending dates,
    inference_planner_functions.py:180-198)."""
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), "user_id", F.col("ts").alias("v_ts")
    )
    j = p.join(v, "user_id").filter(
        F.abs(F.unix_timestamp("v_ts") - F.unix_timestamp("p_ts")) <= 86400
    )
    diff = F.abs(F.unix_timestamp("v_ts") - F.unix_timestamp("p_ts"))
    w = Window.partitionBy("p_id").orderBy(diff.asc(), F.col("v_ts").asc(), F.col("v_id").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("p_id").alias("purchase_id"), F.col("v_id").alias("view_id"), diff.alias("abs_diff_s"))
        .orderBy("purchase_id")
    )


Q_ASOF_NEAREST_EVENT_SQL = """
SELECT p_id AS purchase_id, v_id AS view_id, abs_diff_s FROM (
  SELECT p.event_id AS p_id, v.event_id AS v_id,
         abs(CAST(FLOOR(epoch(v.ts)) AS BIGINT) - CAST(FLOOR(epoch(p.ts)) AS BIGINT)) AS abs_diff_s,
         row_number() OVER (PARTITION BY p.event_id
            ORDER BY abs(CAST(FLOOR(epoch(v.ts)) AS BIGINT) - CAST(FLOOR(epoch(p.ts)) AS BIGINT)) ASC, v.ts ASC, v.event_id ASC) rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'view') v USING (user_id)
  WHERE abs(CAST(FLOOR(epoch(v.ts)) AS BIGINT) - CAST(FLOOR(epoch(p.ts)) AS BIGINT)) <= 86400
) WHERE rn = 1 ORDER BY purchase_id
"""


def q_event_sessions(spark, sf_dir):
    """W6 lag window: session starts per user (gap > 1 h)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.withColumn("is_start", F.when(gap.isNull() | (gap > 3600), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("is_start").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


Q_EVENT_SESSIONS_SQL = """
SELECT user_id, CAST(sum(is_start) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 3600 THEN 1 ELSE 0 END AS is_start
  FROM (SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        FROM events)
) GROUP BY user_id ORDER BY user_id
"""


def q_events_hourly_rollup(spark, sf_dir):
    """Streaming-style windowed aggregation run as batch (§2.9 analog)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


Q_EVENTS_HOURLY_ROLLUP_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


# ------------------------------------------------------- spatial queries


def q_cell_assignment(spark, sf_dir):
    """W1 cell tiling: hex cell id per derived order point at res 6 + count
    per cell. The Spark side is the pure-expression encoder (JVM codegen)."""
    pts = order_points(spark, sf_dir)
    return (
        pts.withColumn("cell_id", hex_cell(F.col("lat"), F.col("lon"), 6))
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_points"))
        .orderBy("cell_id")
    )


Q_CELL_ASSIGNMENT_SQL = f"""
SELECT {hex_cell_sql('lat', 'lon', 6)} AS cell_id, count(*) AS n_points
FROM ({ORDER_POINTS_SQL.strip()})
GROUP BY 1 ORDER BY cell_id
"""


def q_bbox_spatial_join(spark, sf_dir):
    """J1/J2 prune-stage spatial join: order footprints × part AOI bboxes
    (boundary-inclusive 4-comparison intersects), counting matches per AOI.

    Two-phase cell join, not a broadcast nested loop: both bbox sides
    explode to covering hex cells at a coarse res, candidates come from the
    cell equi-join (shuffle hash/SMJ — O(candidates), not O(n·m)), the
    exact 4-comparison predicate runs per candidate, and a pair that shares
    several cells is emitted only by the single cell owning the PBSM
    reference point (``spatial_join.refpoint_owner_pred`` — pure codegen, so
    pair dedup costs ZERO shuffles; the r7 rewrite of the former
    ``dropDuplicates`` whose exchange moved the full 13M-pair stream at
    sf0.1). Cell covers are the codegen SAT explode
    (``explode_cover_cells_expr`` — no Python stage; emits every truly
    overlapping cell, so the owner cell of any intersecting pair is present
    on both sides). Same pair set as the nested loop — the oracle SQL *is*
    the nested loop — but the plan survives a 100× scale-up on either
    side."""
    from .operators.spatial_join import refpoint_owner_pred

    fp_cells = tiling.explode_cover_cells_expr(order_footprints(spark, sf_dir), res=1)
    aoi_cells = tiling.explode_cover_cells_expr(
        part_aois(spark, sf_dir), res=1, bbox_cols=("aminx", "aminy", "amaxx", "amaxy")
    )
    cond = (
        (F.col("minx") <= F.col("amaxx"))
        & (F.col("maxx") >= F.col("aminx"))
        & (F.col("miny") <= F.col("amaxy"))
        & (F.col("maxy") >= F.col("aminy"))
    )
    pairs = (
        fp_cells.join(aoi_cells, "cell_id")
        .filter(cond)
        .filter(refpoint_owner_pred(1, aoi_min_cols=("aminx", "aminy")))
        .select("id", "aoi_id")
    )
    return (
        pairs.groupBy("aoi_id")
        .agg(F.count("*").alias("n_images"), F.min("id").alias("first_image"))
        .orderBy("aoi_id")
    )


Q_BBOX_SPATIAL_JOIN_SQL = f"""
SELECT aoi_id, count(*) AS n_images, min(id) AS first_image
FROM ({ORDER_FOOTPRINTS_SQL.strip()}) fp
JOIN ({PART_AOIS_SQL.strip()}) aoi
  ON fp.minx <= aoi.amaxx AND fp.maxx >= aoi.aminx
 AND fp.miny <= aoi.amaxy AND fp.maxy >= aoi.aminy
GROUP BY aoi_id ORDER BY aoi_id
"""


def q_knn(spark, sf_dir):
    """J9 kNN (k=4) over derived customer points via cell-ring expansion +
    local heaps; oracle is the O(n²) window brute force."""
    pts = customer_points(spark, sf_dir).withColumnRenamed("id", "image_id")
    out = knn.knn_join(pts, k=4, id_col="image_id")
    return out.select(
        F.col("image_id").alias("id"), F.col("nid"), F.col("dist2"), F.col("rank")
    ).orderBy("id", "rank")


Q_KNN_SQL = f"""
SELECT id, nid, dist2, rank FROM (
  SELECT a.id AS id, b.id AS nid,
         (a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat) AS dist2,
         row_number() OVER (PARTITION BY a.id
            ORDER BY (a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat) ASC,
                     b.id ASC) AS rank
  FROM ({CUSTOMER_POINTS_SQL.strip()}) a
  JOIN ({CUSTOMER_POINTS_SQL.strip()}) b ON a.id <> b.id
) WHERE rank <= 4 ORDER BY id, rank
"""


def q_sliding_windows(spark, sf_dir):
    """W3 inference windows: derive per-part raster dims, explode 224/208
    windows (stride grid + edge flush), count + checksum offsets."""
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        (64 + (F.col("p_partkey") * 7) % 512).cast("int").alias("dim_w"),
        (64 + (F.col("p_partkey") * 13) % 512).cast("int").alias("dim_h"),
    )
    out = p.withColumn("col_off", F.explode(tiling.sliding_windows_expr(F.col("dim_w"))))
    out = out.withColumn("row_off", F.explode(tiling.sliding_windows_expr(F.col("dim_h"))))
    return (
        out.groupBy("id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.col("col_off") + F.col("row_off")).alias("offset_sum"),
        )
        .orderBy("id")
    )


_WIN_LIST_SQL = (
    lambda dim: f"""CASE WHEN {dim} <= 224 THEN [CAST(0 AS BIGINT)]
  WHEN ({dim} - 224) % 208 = 0 THEN generate_series(0, CAST({dim} AS BIGINT) - 224, 208)
  ELSE list_concat(generate_series(0, CAST({dim} AS BIGINT) - 224, 208), [CAST({dim} AS BIGINT) - 224]) END"""
)

Q_SLIDING_WINDOWS_SQL = f"""
WITH dims AS (
  SELECT p_partkey AS id,
         CAST(64 + (p_partkey * 7) % 512 AS BIGINT) AS dim_w,
         CAST(64 + (p_partkey * 13) % 512 AS BIGINT) AS dim_h
  FROM part
), wins AS (
  SELECT id, c.col_off, r.row_off
  FROM dims, unnest({_WIN_LIST_SQL('dim_w')}) c(col_off), unnest({_WIN_LIST_SQL('dim_h')}) r(row_off)
)
SELECT id, count(*) AS n_windows, CAST(sum(col_off + row_off) AS BIGINT) AS offset_sum
FROM wins GROUP BY id ORDER BY id
"""


def q_cell_rollup(spark, sf_dir):
    """Hierarchical cell rollup: per-res-8 cell counts re-aggregated to the
    res-5 parent (the hypertable-rollup analog on the hex hierarchy)."""
    pts = order_points(spark, sf_dir)
    fine = pts.withColumn("cell8", hex_cell(F.col("lat"), F.col("lon"), 8)).groupBy("cell8").agg(
        F.count("*").alias("n")
    )
    # parent of a cell's center: decode center via numpy in the oracle; here
    # recompute from the original points (equivalent, pure expressions)
    coarse = (
        pts.withColumn("cell5", hex_cell(F.col("lat"), F.col("lon"), 5))
        .groupBy("cell5")
        .agg(F.count("*").alias("n_points"))
        .orderBy("cell5")
    )
    return coarse


Q_CELL_ROLLUP_SQL = f"""
SELECT {hex_cell_sql('lat', 'lon', 5)} AS cell5, count(*) AS n_points
FROM ({ORDER_POINTS_SQL.strip()})
GROUP BY 1 ORDER BY cell5
"""


# ------------------------------------------------- text / dedup queries


def q_doc_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.word_count(F.col("text")).alias("n_words"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).orderBy("doc_id")


Q_DOC_STATS_SQL = f"""
SELECT doc_id, {T.token_count_sql('text')} AS n_tokens,
       {T.word_count_sql('text')} AS n_words,
       {T.fingerprint_sql('text')} AS fp
FROM documents ORDER BY doc_id
"""


def q_lang_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang_guess"),
        T.quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


Q_LANG_QUALITY_SQL = f"""
SELECT doc_id, {T.lang_id_sql('text')} AS lang_guess,
       {T.quality_score_sql('text')} AS quality
FROM documents ORDER BY doc_id
"""


def q_exact_dups(spark, sf_dir):
    """Exact dedup over documents ∪ (first 50 docs duplicated)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 50).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    return dedup.exact_duplicates(d.unionByName(dup)).orderBy("fp")


Q_EXACT_DUPS_SQL = """
SELECT md5(text) AS fp, count(*) AS n_dups, min(doc_id) AS keeper_doc_id
FROM (SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50)
GROUP BY 1 HAVING count(*) > 1 ORDER BY fp
"""


def q_minhash_signatures(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", *dedup.minhash_signature(F.col("text"))).orderBy("doc_id")


def _minhash_sql_cols():
    from .functions.text import shingle_hashes_sql

    sh = shingle_hashes_sql("text")
    cols = []
    for j in range(dedup.N_PERM):
        cols.append(
            f"list_min(list_transform({sh}, h -> ({dedup._A[j]} * h + {dedup._B[j]}) % {dedup.MINHASH_P})) AS mh{j}"
        )
    return ", ".join(cols)


Q_MINHASH_SIGNATURES_SQL = f"SELECT doc_id, {_minhash_sql_cols()} FROM documents ORDER BY doc_id"


def q_simhash(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", dedup.simhash(F.col("text")).alias("simhash")).orderBy("doc_id")


Q_SIMHASH_SQL = f"SELECT doc_id, {dedup.simhash_sql('text')} AS simhash FROM documents ORDER BY doc_id"


def q_simhash_near_dups(spark, sf_dir):
    """SimHash hamming near-dup pairs (Manku multi-index banding + popcount
    verify — lossless at hamming ≤ bands-1, fully codegen)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.simhash_near_dups(d, max_hamming=3).orderBy("id_a", "id_b")


Q_SIMHASH_NEAR_DUPS_SQL = dedup.simhash_near_dups_sql(3)


def q_phash_near_dups(spark, sf_dir):
    """Hamming near-dup pairs over an int64 perceptual-hash column at the
    wide 60-bit/4-band geometry (the north-rule ``phash:int64`` image
    column — mirrors reference near-dup intent over tiled rasters,
    `postprocess_generic_helper_functions.py:340-398` tile-overlap
    semantics, recast as Manku WWW'07 multi-index banding). Input: a
    deterministic 60-bit phash derived from md5(text) (identical
    expression in DuckDB), plus a planted perturbed twin per doc at
    hamming = popcount(doc_id % 8) ≤ 3 — so the verify stage returns a
    hamming spread of 0..3, not just exact matches."""
    d = load(spark, sf_dir, "documents")
    phash = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    base = d.select(F.col("doc_id").alias("image_id"), phash.alias("phash"))
    twin = d.select(
        (F.col("doc_id") + 1_000_000).alias("image_id"),
        phash.bitwiseXOR(F.col("doc_id") % 8).alias("phash"),
    )
    both = base.unionByName(twin)
    return dedup.hamming_near_dups(
        both, "phash", id_col="image_id", bits=60, bands=4, max_hamming=3
    ).orderBy("id_a", "id_b")


Q_PHASH_NEAR_DUPS_SQL = dedup.hamming_near_dups_sql(
    """
  SELECT doc_id AS image_id,
         CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS phash
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         xor(CAST('0x' || substring(md5(text), 1, 15) AS BIGINT), doc_id % 8)
  FROM documents""",
    bits=60,
    bands=4,
    max_hamming=3,
    id_col="image_id",
    hash_col="phash",
)


def q_phash_probe_join(spark, sf_dir):
    """Asymmetric hamming probe (the incremental-ingest primitive behind
    the persistent bucketed index, ``operators/hamming_index.py``): a small
    batch of perturbed phashes probed against the full corpus →
    (probe_id, corpus_id, hamming ≤ 3). Same md5-derived 60-bit phash and
    Manku banding as ``phash_near_dups``; probe = every 7th doc with
    ``doc_id % 8`` bits flipped, so hits span hamming 0..3 and every
    planted pair must be recalled (pigeonhole contract)."""
    from .operators import hamming_index

    d = load(spark, sf_dir, "documents")
    phash = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    corpus = d.select(F.col("doc_id").alias("image_id"), phash.alias("phash"))
    probe = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("image_id"),
        phash.bitwiseXOR(F.col("doc_id") % 8).alias("phash"),
    )
    return hamming_index.hamming_join(
        probe, corpus, "phash", bits=60, bands=4, max_hamming=3
    ).orderBy("probe_id", "corpus_id")


def _phash_probe_join_sql() -> str:
    from .operators import hamming_index

    return hamming_index.hamming_join_sql(
        """SELECT doc_id + 1000000 AS image_id,
              xor(CAST('0x' || substring(md5(text), 1, 15) AS BIGINT), doc_id % 8) AS phash
       FROM documents WHERE doc_id % 7 = 0""",
        """SELECT doc_id AS image_id,
              CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS phash
       FROM documents""",
        bits=60,
        bands=4,
        max_hamming=3,
    )


Q_PHASH_PROBE_JOIN_SQL = _phash_probe_join_sql()


def q_jaccard_near_dups(spark, sf_dir):
    """MinHash-LSH candidates → exact n-gram Jaccard ≥ 0.3 (shingle→minhash→
    band→bucket-join, then verify — the full near-dup pipeline)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 30).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = d.unionByName(dup)
    out = dedup.ngram_jaccard_pairs(both, threshold=0.3)
    return out.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard")).orderBy("id_a", "id_b")


def _jaccard_pairs_ctes(base: str) -> str:
    """CTE chain (s → bands → cand → sets → pairs) computing MinHash-LSH
    candidate pairs + exact n-gram Jaccard over relation ``base(doc_id,
    text)`` — the parameterized twin of ``dedup.ngram_jaccard_pairs``.
    Band keys are NULL for sub-SHINGLE_K docs, so they never equi-join
    (the same exclusion Spark applies by filtering null signatures)."""
    from .functions.text import shingle_hashes_sql

    sh = shingle_hashes_sql("text")
    bands = []
    for b in range(dedup.N_PERM // dedup.BAND_SIZE):
        keys = []
        for k in range(dedup.BAND_SIZE):
            j = b * dedup.BAND_SIZE + k
            keys.append(
                f"CAST(list_min(list_transform(sh, h -> ({dedup._A[j]} * h + {dedup._B[j]}) % {dedup.MINHASH_P})) AS VARCHAR)"
            )
        sep = " || ':' || "
        bands.append(f"SELECT doc_id, {b} AS band, {sep.join(keys)} AS band_key FROM s")
    band_union = " UNION ALL ".join(bands)
    return f"""s AS (
  SELECT doc_id, {sh} AS sh FROM {base}
), bands AS ({band_union}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, list_distinct(sh) AS dsh FROM s
), pairs AS (
  SELECT id_a, id_b,
         CAST(length(list_intersect(x.dsh, y.dsh)) AS DOUBLE) /
         CAST(length(list_distinct(list_concat(x.dsh, y.dsh))) AS DOUBLE) AS jac
  FROM cand JOIN sets x ON cand.id_a = x.doc_id JOIN sets y ON cand.id_b = y.doc_id
)"""


def _jaccard_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 30
), {_jaccard_pairs_ctes("base")}
SELECT id_a, id_b, round(jac, 9) AS jaccard FROM pairs
WHERE jac >= 0.3 ORDER BY id_a, id_b
"""


Q_JACCARD_NEAR_DUPS_SQL = _jaccard_sql()


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 per embedding (exact ANN baseline); the
    LSH-bucketed variant is checked in pytest (approximate → no SQL oracle)."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(e, k=5).orderBy("id_a", "rank")


Q_ANN_TOPK_SQL = """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(
      list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))
         * sqrt(list_aggregate(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))),
    6) AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
)
SELECT id_a, id_b, cos_sim, rank FROM (
  SELECT id_a, id_b, cos_sim,
         row_number() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b ASC) AS rank
  FROM pairs
) WHERE rank <= 5 ORDER BY id_a, rank
"""


def q_embedding_label_centroid_sim(spark, sf_dir):
    """Per-label mean vector norm + count (vector agg via posexplode —
    exercises array ops in aggregation)."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    per_dim = ex.groupBy("label", "pos").agg(
        F.sum(F.col("v").cast("double")).alias("s"), F.count("*").alias("n")
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum((F.col("s") / F.col("n")) * (F.col("s") / F.col("n")))), 6).alias("centroid_norm"),
            F.max("n").alias("n_vectors"),
        )
        .orderBy("label")
    )


Q_EMBEDDING_LABEL_CENTROID_SIM_SQL = """
WITH ex AS (
  SELECT label, u.pos, CAST(embedding[u.pos] AS DOUBLE) AS v
  FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) u(pos)
), per_dim AS (
  SELECT label, pos, sum(v) AS s, count(*) AS n FROM ex GROUP BY label, pos
)

SELECT label, round(sqrt(sum((s / n) * (s / n))), 6) AS centroid_norm, max(n) AS n_vectors
FROM per_dim GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------- registry

def q_grid_tiles(spark, sf_dir):
    """W1/W2 planner-grid tiling: split every derived order footprint into the
    reference's ≤2400-px grid (2200-px steps, edge-clamped, sub-244-px pad) —
    pure sequence/explode expressions, no driver loop. 1-in-20 sample bounds
    the fan-out at bench scale."""
    fp = order_footprints(spark, sf_dir).filter(F.col("id") % 20 == 0)
    t = tiling.grid_tiles_expr(fp, resolution_m=10.0)
    return t.select(
        "id",
        F.col("tile_x").cast("int").alias("tile_x"),
        F.col("tile_y").cast("int").alias("tile_y"),
        F.round("tile_minx", 6).alias("tminx"),
        F.round("tile_miny", 6).alias("tminy"),
        F.round("tile_maxx", 6).alias("tmaxx"),
        F.round("tile_maxy", 6).alias("tmaxy"),
        "tile_w_px",
        "tile_h_px",
    ).orderBy("id", "tile_x", "tile_y")


Q_GRID_TILES_SQL = f"""
WITH fp AS (
  SELECT * FROM ({ORDER_FOOTPRINTS_SQL.strip()}) WHERE id %% 20 = 0
), base AS (
  SELECT id, minx, miny, maxx, maxy,
         10.0 / (111132.954 - 559.822 * cos(2 * radians((miny + maxy) / 2))
                 + 1.175 * cos(4 * radians((miny + maxy) / 2))) AS res_lat,
         10.0 / (pi() / 180.0 * cos(radians((miny + maxy) / 2)) * 6378137.0) AS res_lon
  FROM fp
), dims AS (
  SELECT *, (maxx - minx) / res_lon AS px_w, (maxy - miny) / res_lat AS px_h FROM base
), split AS (
  SELECT *,
         CASE WHEN px_w > 2400 OR px_h > 2400 THEN CAST(floor(px_w / 2200.0) AS BIGINT) ELSE 0 END AS num_lon,
         CASE WHEN px_w > 2400 OR px_h > 2400 THEN CAST(floor(px_h / 2200.0) AS BIGINT) ELSE 0 END AS num_lat,
         (maxx - minx) * CASE WHEN px_w > 2400 OR px_h > 2400 THEN 2200.0 / px_w ELSE 1.0 END AS lon_step,
         (maxy - miny) * CASE WHEN px_w > 2400 OR px_h > 2400 THEN 2200.0 / px_h ELSE 1.0 END AS lat_step
  FROM dims
), tiles AS (
  SELECT s.*, CAST(tx.g AS INT) AS tile_x, CAST(ty.g AS INT) AS tile_y
  FROM split s,
       LATERAL unnest(generate_series(0, s.num_lon)) tx(g),
       LATERAL unnest(generate_series(0, s.num_lat)) ty(g)
), raw AS (
  SELECT id, tile_x, tile_y,
         minx + lon_step * tile_x AS tminx,
         miny + lat_step * tile_y AS tminy,
         least(minx + lon_step * (tile_x + 1), maxx) AS tmaxx,
         least(miny + lat_step * (tile_y + 1), maxy) AS tmaxy
  FROM tiles
), ctr AS (
  SELECT *, (tminx + tmaxx) / 2 AS cx, (tminy + tmaxy) / 2 AS cy FROM raw
), rres AS (
  SELECT *,
         10.0 / (111132.954 - 559.822 * cos(2 * radians(cy)) + 1.175 * cos(4 * radians(cy))) AS r_lat,
         10.0 / (pi() / 180.0 * cos(radians(cy)) * 6378137.0) AS r_lon
  FROM ctr
), flags AS (
  SELECT *,
         (tmaxx - tminx) / r_lon AS t_w_px, (tmaxy - tminy) / r_lat AS t_h_px
  FROM rres
), padded AS (
  SELECT id, tile_x, tile_y, r_lat, r_lon,
         CASE WHEN (t_w_px < 244 OR t_h_px < 244) AND t_w_px < 224 THEN cx - 162.0 * r_lon ELSE tminx END AS tminx,
         CASE WHEN (t_w_px < 244 OR t_h_px < 244) AND t_w_px < 224 THEN cx + 162.0 * r_lon ELSE tmaxx END AS tmaxx,
         CASE WHEN (t_w_px < 244 OR t_h_px < 244) AND t_h_px < 224 THEN cy - 162.0 * r_lat ELSE tminy END AS tminy,
         CASE WHEN (t_w_px < 244 OR t_h_px < 244) AND t_h_px < 224 THEN cy + 162.0 * r_lat ELSE tmaxy END AS tmaxy
  FROM flags
)
SELECT id, tile_x, tile_y,
       round(tminx, 6) AS tminx, round(tminy, 6) AS tminy,
       round(tmaxx, 6) AS tmaxx, round(tmaxy, 6) AS tmaxy,
       CAST(trunc((tmaxx - tminx) / r_lon) AS INT) AS tile_w_px,
       CAST(trunc((tmaxy - tminy) / r_lat) AS INT) AS tile_h_px
FROM padded
ORDER BY id, tile_x, tile_y
""".replace("%%", "%")


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (dedup suite's ANN twin):
    ordered pair scan, cosine in double via aggregate/zip_with (JVM), keep
    pairs ≥ threshold."""
    e = load(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_dups(e, threshold=0.38)
    return out.orderBy("id_a", "id_b")


Q_EMBEDDING_NEAR_DUPS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(
    list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
    / (sqrt(list_aggregate(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))),
  6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(
    list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
    / (sqrt(list_aggregate(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))),
  6) >= 0.38
ORDER BY id_a, id_b
"""


def q_event_props_json(spark, sf_dir):
    """F22 JSON column access (the reference's jsonb_array_elements/.get
    chains, orchestrate_wrapper.py:176-186): extract ``props.$.k`` from the
    JSON string column, filter on it, aggregate per event_type."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select(F.col("event_type"), k.alias("k"))
        .filter(F.col("k") >= 10)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


Q_EVENT_PROPS_JSON_SQL = """
WITH ex AS (
  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events
)
SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max
FROM ex WHERE k >= 10 GROUP BY event_type ORDER BY event_type
"""


def q_embedding_near_dups_lsh(spark, sf_dir):
    """LSH-bucketed near-dup pairs — the 10^12-scale dedup path, oracle-gated:
    hyperplane buckets (4 tables × 6 sign bits, ordered-sum dots) generate
    candidates, exact cosine verifies. The oracle reproduces the BUCKETING
    itself (same plane constants, same accumulation order), so the pair set
    matches bit-for-bit; recall vs the brute scan is test-gated in pytest."""
    e = load(spark, sf_dir, "embeddings")
    out = similarity.lsh_near_dup_pairs(e, threshold=0.38)
    return out.orderBy("id_a", "id_b")


def _lsh_near_dups_sql(threshold: float = 0.38, n_planes: int = 4, n_tables: int = 8) -> str:
    buckets = "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"{similarity.lsh_bucket_sql('embedding', t, n_planes=n_planes)} AS bucket FROM embeddings"
        for t in range(n_tables)
    )
    cos = """round(
    list_aggregate(list_transform(list_zip(x.embedding, y.embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
    / (sqrt(list_aggregate(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))),
  6)"""
    return f"""
WITH buckets AS (
  {buckets}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT id_a, id_b, {cos} AS cos_sim
  FROM cand JOIN embeddings x ON cand.id_a = x.vec_id JOIN embeddings y ON cand.id_b = y.vec_id
) WHERE cos_sim >= {threshold} ORDER BY id_a, id_b
"""


Q_EMBEDDING_NEAR_DUPS_LSH_SQL = _lsh_near_dups_sql()


def q_utm_footprints(spark, sf_dir):
    """F7 CRS parity in the ORACLE-gated set: per-order UTM zone assignment
    (EPSG:326xx/327xx) + Krüger-series easting/northing, rounded to cm.
    The Spark kernel composes hyperbolics from exp/log in exactly the order
    the DuckDB twin emits (geo/crs.utm_oracle_kernel ↔ utm_sql), so both
    engines walk the same libm calls — the grid_tiles trig-twin trick
    extended to a full map projection."""
    import numpy as np

    from .geo.crs import utm_oracle_kernel

    pts = order_points(spark, sf_dir)

    def kern(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            lon = pdf["lon"].to_numpy(dtype=np.float64)
            lat = pdf["lat"].to_numpy(dtype=np.float64)
            zone = np.clip(np.floor((lon + 180.0) / 6.0).astype(np.int64) + 1, 1, 60)
            lon0 = zone * 6.0 - 183.0
            fn = np.where(lat < 0, 10000000.0, 0.0)
            e, n = utm_oracle_kernel(lon, lat, lon0, fn)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "zone": zone,
                    "south": lat < 0,
                    "easting": np.round(e, 2),
                    "northing": np.round(n, 2),
                }
            )

    return pts.mapInPandas(
        kern, "id long, zone long, south boolean, easting double, northing double"
    ).orderBy("id")


def _utm_footprints_sql() -> str:
    from .geo.crs import utm_sql

    easting, northing = utm_sql(
        "lon", "lat", "zone * 6.0 - 183.0",
        "CASE WHEN lat < 0 THEN 10000000.0 ELSE 0.0 END",
    )
    return f"""
WITH pts AS ({ORDER_POINTS_SQL}), z AS (
  SELECT id, lon, lat,
         LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 6.0) AS BIGINT) + 1, 1), 60) AS zone
  FROM pts
)
SELECT id, zone, lat < 0 AS south,
       round({easting}, 2) AS easting, round({northing}, 2) AS northing
FROM z ORDER BY id
"""


Q_UTM_FOOTPRINTS_SQL = _utm_footprints_sql()


def q_corpus_clean(spark, sf_dir):
    """The end-to-end training-data cleaning pipeline as ONE oracle-gated
    query: quality gate → language ID → exact dedup (keep min doc_id per
    full-md5 fingerprint) → MinHash-LSH near-dup drop (jaccard ≥ 0.5, the
    HIGHER id of each pair dropped — a deterministic one-pass policy, not
    a transitive closure; documented contract, mirrored in SQL; see
    ``q_corpus_clean_cc`` for the components policy). Delegates to the
    public ``operators.cleaning.clean_corpus`` operator, so the DuckDB
    oracle row gates that module directly. Returns the surviving corpus
    with its quality/language metadata."""
    d = load(spark, sf_dir, "documents")
    return (
        cleaning.clean_corpus(d, policy="pairs")
        .select("doc_id", "lang_id", "quality")
        .orderBy("doc_id")
    )


def q_corpus_clean_cc(spark, sf_dir):
    """``corpus_clean`` with the CONNECTED-COMPONENTS near-dup policy (the
    standard transitive-closure keeper selection at scale): union-find over
    the ≥0.5-jaccard pair graph, keep the MIN doc_id per component — A~B,
    B~C drops B and C in favor of A even though A and C were never paired
    (the one-pass policy keeps no guarantee about chains). Pointer-doubled
    min-label propagation (``dedup.connected_components``); oracled in
    DuckDB by a recursive-CTE reachability fixpoint. Delegates to
    ``operators.cleaning.clean_corpus``."""
    d = load(spark, sf_dir, "documents")
    return (
        cleaning.clean_corpus(d, policy="cc")
        .select("doc_id", "lang_id", "quality")
        .orderBy("doc_id")
    )


def _corpus_clean_sql() -> str:
    lang = T.lang_id_sql("text")
    quality = T.quality_score_sql("text")
    fp = T.fingerprint_sql("text")
    return f"""
WITH scored AS (
  SELECT doc_id, text, {lang} AS lang_id, {quality} AS quality, {fp} AS fp
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE quality >= 0.6
), keepers AS (
  SELECT min(doc_id) AS doc_id FROM kept GROUP BY fp
), uniq AS (
  SELECT k.* FROM kept k JOIN keepers USING (doc_id)
), {_jaccard_pairs_ctes("uniq")},
dropped AS (
  SELECT DISTINCT id_b AS doc_id FROM pairs WHERE jac >= 0.5
)
SELECT doc_id, lang_id, quality FROM uniq u
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = u.doc_id)
ORDER BY doc_id
"""


Q_CORPUS_CLEAN_SQL = _corpus_clean_sql()


def _corpus_clean_cc_sql() -> str:
    """Components-policy twin: the same pipeline head, then a recursive-CTE
    min-reachable-label fixpoint over the symmetric ≥0.5 pair graph — a
    node's component is min(labels reachable from it), identical to the
    engine's min-label propagation fixpoint; survivors are docs that ARE
    their component's min (plus isolated docs, which never enter the
    graph)."""
    lang = T.lang_id_sql("text")
    quality = T.quality_score_sql("text")
    fp = T.fingerprint_sql("text")
    return f"""
WITH RECURSIVE scored AS (
  SELECT doc_id, text, {lang} AS lang_id, {quality} AS quality, {fp} AS fp
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE quality >= 0.6
), keepers AS (
  SELECT min(doc_id) AS doc_id FROM kept GROUP BY fp
), uniq AS (
  SELECT k.* FROM kept k JOIN keepers USING (doc_id)
), {_jaccard_pairs_ctes("uniq")},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs WHERE jac >= 0.5
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs WHERE jac >= 0.5
), reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.node = e.src
), comp AS (
  SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node
), dropped AS (
  SELECT doc_id FROM comp WHERE component <> doc_id
)
SELECT doc_id, lang_id, quality FROM uniq u
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = u.doc_id)
ORDER BY doc_id
"""


Q_CORPUS_CLEAN_CC_SQL = _corpus_clean_cc_sql()


QUERIES = {
    "pricing_summary": (q_pricing_summary, Q_PRICING_SUMMARY_SQL),
    "top_revenue_orders": (q_top_revenue_orders, Q_TOP_REVENUE_ORDERS_SQL),
    "order_priority_queue": (q_order_priority_queue, Q_ORDER_PRIORITY_QUEUE_SQL),
    "distinct_ship_months": (q_distinct_ship_months, Q_DISTINCT_SHIP_MONTHS_SQL),
    "first_order_per_customer": (q_first_order_per_customer, Q_FIRST_ORDER_PER_CUSTOMER_SQL),
    "customers_without_orders": (q_customers_without_orders, Q_CUSTOMERS_WITHOUT_ORDERS_SQL),
    "part_size_histogram": (q_part_size_histogram, Q_PART_SIZE_HISTOGRAM_SQL),
    "region_nation_union": (q_region_nation_union, Q_REGION_NATION_UNION_SQL),
    "asof_nearest_event": (q_asof_nearest_event, Q_ASOF_NEAREST_EVENT_SQL),
    "event_sessions": (q_event_sessions, Q_EVENT_SESSIONS_SQL),
    "events_hourly_rollup": (q_events_hourly_rollup, Q_EVENTS_HOURLY_ROLLUP_SQL),
    "cell_assignment": (q_cell_assignment, Q_CELL_ASSIGNMENT_SQL),
    "cell_rollup": (q_cell_rollup, Q_CELL_ROLLUP_SQL),
    "bbox_spatial_join": (q_bbox_spatial_join, Q_BBOX_SPATIAL_JOIN_SQL),
    "knn": (q_knn, Q_KNN_SQL),
    "sliding_windows": (q_sliding_windows, Q_SLIDING_WINDOWS_SQL),
    "doc_stats": (q_doc_stats, Q_DOC_STATS_SQL),
    "lang_quality": (q_lang_quality, Q_LANG_QUALITY_SQL),
    "exact_dups": (q_exact_dups, Q_EXACT_DUPS_SQL),
    "minhash_signatures": (q_minhash_signatures, Q_MINHASH_SIGNATURES_SQL),
    "simhash": (q_simhash, Q_SIMHASH_SQL),
    "simhash_near_dups": (q_simhash_near_dups, Q_SIMHASH_NEAR_DUPS_SQL),
    "phash_near_dups": (q_phash_near_dups, Q_PHASH_NEAR_DUPS_SQL),
    "phash_probe_join": (q_phash_probe_join, Q_PHASH_PROBE_JOIN_SQL),
    "jaccard_near_dups": (q_jaccard_near_dups, Q_JACCARD_NEAR_DUPS_SQL),
    "ann_topk": (q_ann_topk, Q_ANN_TOPK_SQL),
    "embedding_label_centroids": (q_embedding_label_centroid_sim, Q_EMBEDDING_LABEL_CENTROID_SIM_SQL),
    "grid_tiles": (q_grid_tiles, Q_GRID_TILES_SQL),
    "embedding_near_dups": (q_embedding_near_dups, Q_EMBEDDING_NEAR_DUPS_SQL),
    "embedding_near_dups_lsh": (q_embedding_near_dups_lsh, Q_EMBEDDING_NEAR_DUPS_LSH_SQL),
    "event_props_json": (q_event_props_json, Q_EVENT_PROPS_JSON_SQL),
    "utm_footprints": (q_utm_footprints, Q_UTM_FOOTPRINTS_SQL),
    "corpus_clean": (q_corpus_clean, Q_CORPUS_CLEAN_SQL),
    "corpus_clean_cc": (q_corpus_clean_cc, Q_CORPUS_CLEAN_CC_SQL),
}


# ----------------------------- non-SQL-expressible ops (rows-only checks)


def q_image_tile_join(spark, sf_dir):
    """Flagship image-pipeline slice on the synthetic fixture table: footprint
    → adaptive cell assignment → broadcast exact spatial join. Geometry
    predicates (point-in-polygon against packed R-tree) are not
    SQL-expressible — the single-node oracle lives in pytest
    (tests/test_spatial_join.py); the driver records a rows-only check."""
    from . import datagen
    from .operators import footprints, spatial_join

    images = datagen.images_df(spark, 500)
    fp = footprints.with_footprint(images)
    aois = datagen.aoi_pdf(50)
    agg = (
        spatial_join.broadcast_spatial_join(fp, aois)
        .groupBy("aoi_id")
        .agg(F.count("*").alias("n_images"), F.md5(F.concat_ws(",", F.sort_array(F.collect_list("image_id")))).alias("content_md5"))
        .orderBy("aoi_id")
    )
    # content_md5 pins the exact pair set per AOI, so the driver's rows-only
    # check on this no-SQL-oracle query still detects content drift
    return agg


def q_image_pipeline(spark, sf_dir):
    """RGB projection → pseudo-inference → SCL mask chain → ocean mask →
    vectorize → regularize on the synthetic fixtures (the reference's
    per-task postprocess path, SURVEY §3.3 + helper_functions make_rgb
    :301-329 / mask_ocean :286-298)."""
    import numpy as np

    from . import datagen
    from .geo import wkb as W
    from .operators import footprints, masking, raster, regularize, vectorize

    # 8 partitions for 60 rows: this chain crosses the Python boundary 7
    # times, and each (task × Python stage) pays a fixed worker round-trip —
    # at the session default 32 partitions that is 224 near-empty sessions
    # per run (measured 6-24s wall, wildly variant under co-tenant load) vs
    # ~56 at 8 partitions (measured 4.1-4.6s, stable). Row content is a pure
    # function of the ordinal, so partitioning never changes results.
    images = footprints.with_footprint(datagen.images_df(spark, 60, partitions=8))
    spec = [
        {"name": "B04", "RGB_band": "R", "index": 0},
        {"name": "B03", "RGB_band": "G", "index": 1},
        {"name": "B02", "RGB_band": "B", "index": 2},
    ]
    # project before the opaque stages (guide: Spark cannot prune columns
    # through mapInPandas): drop fmt/caption/phash/date/modality, which no
    # downstream stage reads — they would otherwise ride every Arrow batch
    # through all 7 Python crossings
    images = images.select(
        "image_id", "bytes", "w", "h", "minx", "miny", "maxx", "maxy"
    )
    rgb = raster.make_rgb(images, spec, in_col="bytes", out_col="rgb_bytes")
    preds = raster.pseudo_inference(rgb, in_col="rgb_bytes").select(
        "image_id", "w", "h", "minx", "miny", "maxx", "maxy", "pred_bytes"
    )
    # broadcast-hint the (30-row) QA side: Spark's size estimate for the
    # Range→mapInPandas image chain is near zero, so without the hint the
    # optimizer broadcast the IMAGE side — collecting the whole decode chain
    # through the driver and capping downstream parallelism at the
    # LocalTableScan's partitioning (BuildLeft in the r6 plan)
    qa = F.broadcast(datagen.qa_df(spark, 60))
    masked = masking.apply_mask_chain(preds, qa)
    # synthetic land layer: everything west of lon 60 — the eastern images
    # get their prediction oceaned to NODATA before vectorization
    land_ring = np.array(
        [[-180.0, -90.0], [60.0, -90.0], [60.0, 90.0], [-180.0, 90.0], [-180.0, -90.0]]
    )
    import pandas as pd

    land = pd.DataFrame({"aoi_id": [0], "geom_wkb": [W.dumps_polygon([land_ring])]})
    final = masking.mask_ocean(
        masked.filter(F.col("masked_bytes").isNotNull()),
        land,
        in_col="masked_bytes",
        out_col="final_bytes",
    )
    polys = vectorize.vectorize(final, in_col="final_bytes", min_area=4.0)
    reg = regularize.regularize(polys, "adaptive_regularization")
    # content_md5 pins geometry bytes per row (rows-only driver check)
    return reg.select(
        "image_id",
        "shape_idx",
        "class",
        "area_px",
        F.md5(F.col("geom_wkb")).alias("content_md5"),
    ).orderBy("image_id", "shape_idx")


ROWS_ONLY_QUERIES = {
    "image_tile_join": q_image_tile_join,
    "image_pipeline": q_image_pipeline,
}
