"""Relational operators + codec-analog queries (oracle-checkable).

The reference has NO joins/aggs/windows (SURVEY.md §2.5) — these queries
demonstrate the built-in Spark operators our engine composes with, plus
SQL analogs of the reference's metadata operators (statistics,
count-with-filters, head — fastparquet/api.py:822-902,512-525,231-250)
and of our codec-selection statistics.

Numeric-sum determinism: double sums are order-dependent, so every money
aggregate goes through an EXACT decimal sum, then casts to double — the
same bits on Spark and DuckDB regardless of partial-agg order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Spark's parquet scan of the table ``{sf_dir}/{name}.parquet`` (one
    file, or a directory of part files as Spark writes it) under its
    schema read from one footer on the driver
    (``engine.spark_types.parquet_schema``), so that loading a table
    runs no Spark job: ``spark.read.parquet`` would run a one-task
    schema-inference job per table.  The columns are typed as Spark's
    own inference types them (``spark_types.spark_type``): a zone-less
    TIMESTAMP is ``timestamp_ntz``, a UTC-adjusted one or INT96
    ``timestamp``, unsigned integers widen to the next signed type
    (uint64 to ``decimal(20,0)``), LIST/MAP/STRUCT recurse."""
    from fastparquet_spark.engine.spark_types import parquet_schema

    path = f"{sf_dir}/{name}.parquet"
    return spark.read.schema(parquet_schema(path)).parquet(path)


def _dsum(col):
    """Order-independent exact sum, surfaced as double."""
    return F.sum(F.col(col).cast("decimal(28,6)")).cast("double")


# ---- TPC-H-ish built-in operator coverage -----------------------------------
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan + filter + groupBy agg (map-side combinable)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(_dsum("l_quantity").alias("sum_qty"),
                 _dsum("l_extendedprice").alias("sum_base_price"),
                 F.count("*").alias("count_order")))


def q3_shipping_topk(spark, sf_dir):
    """Join (broadcast-able dims) + agg + top-k.

    Join ORDER (guide §3): the segment filter is applied to orders via
    the broadcast customer join BEFORE lineitem is shuffled, so the
    fact-fact join moves ~1/5 of orders instead of all of them, and
    only the join key survives the projection.  The reduced orders side
    is SHUFFLE_HASH-hinted (guide §3.1): both sides still shuffle by
    orderkey, but the smaller side builds a per-partition hash table
    instead of both sides paying a sort (sf1.0: 2.02s -> 0.94s; plan
    SortMergeJoin -> ShuffledHashJoin, one fewer Sort per side)."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    of = (orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
          .select("o_orderkey"))
    rev = (li.join(of.hint("shuffle_hash"), li.l_orderkey == of.o_orderkey)
           .groupBy("l_orderkey")
           .agg(_dsum("l_extendedprice").alias("revenue"))
           .orderBy(F.desc("revenue"), "l_orderkey").limit(10))
    return rev


def q_filter_project(spark, sf_dir):
    """Predicate + projection pushdown: only 2 columns reach the scan."""
    li = load(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") < 0.03))
            .select("l_orderkey", "l_quantity")
            .groupBy().agg(F.count("*").alias("n_rows"),
                           _dsum("l_quantity").alias("total_qty")))


def q_window_rank(spark, sf_dir):
    """Each customer's single largest order.

    Spelled as max(struct(price, -orderkey)) per customer, not a
    row_number window (guide §2.3 'aggregate before you shuffle'):
    the struct max is lexicographic — largest price first, then
    largest -orderkey = SMALLEST orderkey — exactly the old
    rn=1-of-(price DESC, orderkey ASC) row, but with map-side partial
    aggregation one row per customer crosses the exchange instead of
    every order, and the per-partition sort disappears (sf1.0: 2.0s ->
    1.24s, row-multiset equality verified against the window spelling)."""
    orders = load(spark, sf_dir, "orders")
    m = (orders.groupBy("o_custkey")
         .agg(F.max(F.struct(F.col("o_totalprice"),
                             (-F.col("o_orderkey")).alias("nk"))).alias("m")))
    return m.select("o_custkey",
                    (-F.col("m.nk")).alias("o_orderkey"),
                    F.col("m.o_totalprice").alias("max_price"))


def q_sort_topk(spark, sf_dir):
    """Global top-k (TakeOrderedAndProject, no full sort shuffle)."""
    ev = load(spark, sf_dir, "events")
    return (ev.orderBy(F.desc("value"), "event_id")
            .select("event_id", "user_id", "event_type", "value").limit(20))


def q_join_agg_nation(spark, sf_dir):
    """Multi-way broadcast join over the dim chain."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    c = load(spark, sf_dir, "customer")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_cust"),
                 _dsum("c_acctbal").alias("total_bal")))


# ---- reference metadata-operator analogs ------------------------------------
def q_column_stats(spark, sf_dir):
    """Per-column min/max/null_count — the reference's `statistics`
    operator (fastparquet/api.py:822-902), computed by the engine instead
    of read from footers."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy().agg(
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)).cast("long").alias("nulls_returnflag"),
        F.count("*").alias("n_rows"))


def q_count_filters(spark, sf_dir):
    """count(filters) — fastparquet/api.py:512-525 analog."""
    orders = load(spark, sf_dir, "orders")
    return (orders.filter((F.col("o_orderstatus") == "F") &
                          (F.col("o_totalprice") > 1000))
            .groupBy().agg(F.count("*").alias("n_rows")))


def q_partition_values(spark, sf_dir):
    """hive partition discovery analog (fastparquet/api.py:700-758):
    the distinct key=value combinations a partitioned write would create."""
    docs = load(spark, sf_dir, "documents")
    return (docs.groupBy("lang", "source").agg(F.count("*").alias("n_rows")))


# ---- codec-selection analogs (our engine's stats, oracle-checkable) ---------
def q_dict_codes(spark, sf_dir):
    """Dictionary build as a query: label -> dense code in label order —
    exactly what dict_build produces for a sorted dictionary page."""
    docs = load(spark, sf_dir, "documents")
    w = Window.orderBy("lang")
    return (docs.select("lang").distinct()
            .withColumn("code", (F.dense_rank().over(w) - 1).cast("int")))


def q_rle_runs(spark, sf_dir, chunk_rows: int = 65536):
    """Run-length statistics over an ordered column — the encoder's RLE
    run detection (codecs/rle.py) expressed relationally.

    NOT a global window (that funnels the whole table through one task):
    runs are detected per event_id-range chunk in parallel, and chunk
    boundaries are stitched with a tiny per-chunk last-value table (one
    row per non-empty chunk) joined back broadcast — same answer, no
    single-partition sort at any scale."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    ev = ev.withColumn("chunk", F.floor(F.col("event_id") / chunk_rows))
    w = Window.partitionBy("chunk").orderBy("event_id")
    runs = ev.withColumn("prev", F.lag("event_type").over(w))
    # last value of each non-empty chunk; lag over chunk order gives each
    # chunk the value preceding its first row (gap-safe: empty chunks
    # simply don't appear)
    wc = Window.orderBy("chunk")  # one row per chunk: tiny by construction
    lastc = (ev.groupBy("chunk")
             .agg(F.max(F.struct("event_id", "event_type")).alias("m"))
             .select("chunk", F.col("m.event_type").alias("last_type"))
             .withColumn("prev_chunk_last", F.lag("last_type").over(wc))
             .select("chunk", "prev_chunk_last"))
    runs = runs.join(F.broadcast(lastc), "chunk", "left")
    # the chunk-boundary substitution applies ONLY to each chunk's
    # first row: coalesce(prev, ...) would also fire when the previous
    # ROW EXISTS but its value is NULL, miscounting run starts on
    # null-bearing columns
    runs = runs.withColumn("rn", F.row_number().over(w))
    boundary_prev = F.when(F.col("rn") == 1,
                           F.col("prev_chunk_last")).otherwise(F.col("prev"))
    runs = runs.withColumn(
        "is_start",
        F.when(boundary_prev.isNull() |
               (boundary_prev != F.col("event_type")), 1).otherwise(0))
    return runs.groupBy("event_type").agg(
        F.sum("is_start").cast("long").alias("n_runs"),
        F.count("*").alias("n_values"))


def q_delta_stats(spark, sf_dir):
    """Frame-of-reference viability stats: per-user event-time deltas —
    what selection.column_stats derives before choosing DELTA."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; a fixed session-tz offset cancels in the deltas
    d = (ev.withColumn("ms", F.unix_millis(F.col("ts").cast("timestamp")))
         .withColumn("prev_ms", F.lag("ms").over(w))
         .filter(F.col("prev_ms").isNotNull())
         .withColumn("delta_ms", F.col("ms") - F.col("prev_ms")))
    return d.groupBy("user_id").agg(
        F.count("*").alias("n_deltas"),
        F.min("delta_ms").alias("min_delta"),
        F.max("delta_ms").alias("max_delta"))


def q_rollup_pricing(spark, sf_dir):
    """Hierarchical totals via ROLLUP — subtotal rows per returnflag and
    a grand total (grouping-set coverage for SURVEY §2.5; the reference
    has no aggregation at all)."""
    li = load(spark, sf_dir, "lineitem")
    # pre-aggregate the base groups FIRST, then roll up the tiny base
    # table: rollup's Expand otherwise triples every input row before
    # aggregation (guide §2.3 — aggregate before you shuffle/expand).
    # Decimal sums are exact and associative, so summing per-group
    # decimal sums equals the direct decimal sum bit for bit; counts
    # re-aggregate as sums (sf1.0: 1.26s -> 0.64s, equality verified).
    base = (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("sq")))
    return (base.rollup("l_returnflag", "l_linestatus")
            .agg(F.sum("n").alias("n_rows"),
                 F.sum("sq").cast("double").alias("sum_qty")))


def q_cube_volumes(spark, sf_dir):
    """CUBE over two dims — every grouping-set combination."""
    orders = load(spark, sf_dir, "orders")
    # same base-then-expand shape as q_rollup_pricing: cube's Expand is
    # 4x per input row — pre-aggregating leaves it 4x per distinct
    # (status, priority) pair instead (sf1.0: 2.20s -> 0.80s).
    base = (orders.groupBy("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("sp")))
    return (base.cube("o_orderstatus", "o_orderpriority")
            .agg(F.sum("n").alias("n_orders"),
                 F.sum("sp").cast("double").alias("total_price")))


def q_cardinality_stats(spark, sf_dir):
    """Distinct-ratio inputs to codec selection, per documents column."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy().agg(
        F.countDistinct("lang").alias("nd_lang"),
        F.countDistinct("source").alias("nd_source"),
        F.countDistinct("text").alias("nd_text"),
        F.count("*").alias("n_rows"))
