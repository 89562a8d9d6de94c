"""Round-8 optimization guards: the restructured operators must stay
bit-identical to their original spellings on pathological inputs, and
the new plan shapes must not silently regress.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from fastparquet_spark.analytics import relational, text

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_words_translate_guard_identical(spark):
    """_words skips regexp_replace only when translate proves it a no-op;
    punctuation, unicode (incl. astral plane), nulls, empties and
    whitespace runs must tokenize exactly like the unguarded original."""
    rows = [("a b,c!d  e",), ("clean words here",), ("",), (None,),
            ("  x ",), ("ALL CAPS: YES?",), ("tab\there",),
            ("unicode ▲ här",), ("astral \U0001F600 smile",),
            ("trailing punct.",), (",leading",), ("1 2  3",)]
    df = spark.createDataFrame(rows, "text string")
    original = F.split(F.trim(F.lower(
        F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", " "))), " +")
    got = df.select(text._words().alias("w"), original.alias("o")).collect()
    for r in got:
        assert r.w == r.o, (r.w, r.o)


def test_window_rank_agg_matches_window_spelling(spark):
    """q_window_rank's max(struct(price, -orderkey)) must pick the same
    row as rn=1 of (price DESC, orderkey ASC) — including ties on the
    price and multi-order customers."""
    from pyspark.sql.window import Window

    rows = [(1, 10, 5.0), (1, 11, 5.0), (1, 12, 3.0),   # tie -> min key 10
            (2, 20, 1.0),                                  # singleton
            (3, 31, 9.0), (3, 30, 9.5)]                    # max not first
    df = spark.createDataFrame(rows, "o_custkey long, o_orderkey long, o_totalprice double")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    expect = sorted(map(tuple, (
        df.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        .select("o_custkey", "o_orderkey",
                F.col("o_totalprice").alias("max_price"))).collect()))
    m = (df.groupBy("o_custkey")
         .agg(F.max(F.struct(F.col("o_totalprice"),
                             (-F.col("o_orderkey")).alias("nk"))).alias("m")))
    got = sorted(map(tuple, m.select(
        "o_custkey", (-F.col("m.nk")).alias("o_orderkey"),
        F.col("m.o_totalprice").alias("max_price")).collect()))
    assert got == expect


def test_q3_uses_shuffled_hash_not_sort_merge(spark):
    """q3's fact-fact join must be the hinted ShuffledHashJoin over the
    segment-reduced orders side (no per-side sort), with the customer
    dimension still broadcast."""
    p = plan_of(relational.q3_shipping_topk(spark, SF))
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_rollup_cube_preaggregate_before_expand(spark):
    """rollup/cube must Expand the pre-aggregated base groups, not the
    raw fact rows: the scan-side aggregate appears BELOW the Expand."""
    for q in (relational.q_rollup_pricing, relational.q_cube_volumes):
        p = plan_of(q(spark, SF))
        assert "Expand" in p
        # formatted plans list operators leaves-first; the base
        # aggregation's partial HashAggregate must precede Expand
        first_agg = p.index("HashAggregate")
        assert first_agg < p.index("Expand") or \
            p[:p.index("Expand")].count("HashAggregate") >= 1
