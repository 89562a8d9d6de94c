"""Round-8 optimization guards: the restructured operators must stay
bit-identical to their original spellings on pathological inputs, and
the new plan shapes must not silently regress.
"""

from __future__ import annotations

import contextlib
import io

import pytest
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


def test_max_partition_bytes_parser():
    """_spread sizes splits from spark.sql.files.maxPartitionBytes in any
    form Spark accepts; Spark's default equals the 128 MiB fallback."""
    from fastparquet_spark.analytics.relational import _byte_size

    mib = 1024 * 1024
    assert _byte_size("128MB") == _byte_size("134217728b") == 128 * mib
    assert _byte_size("134217728") == 128 * mib
    assert _byte_size("128m") == _byte_size("128M") == 128 * mib
    assert _byte_size("1g") == _byte_size("1GB") == 1024 * mib
    assert _byte_size("64k") == _byte_size("64kb") == 64 * 1024
    assert _byte_size("2t") == 2 * 1024 ** 4
    for bad in ("", "1.5g", "12x", "m", "-1m"):
        with pytest.raises(ValueError):
            _byte_size(bad)


def test_spread_is_noop_at_scale(spark, tmp_path, monkeypatch):
    """_spread adds a repartition only when the scan's natural split
    count is below the session parallelism — a big input (or an
    unknown size) must pass through untouched."""
    import fastparquet_spark.analytics.relational as rel

    df = spark.read.parquet(f"{SF}/documents.parquet")
    # tiny file: spread fires
    out = rel._spread(spark, df, f"{SF}/documents.parquet")
    assert "Repartition" in out._jdf.queryExecution().logical().toString()
    # pretend the file is huge: no-op
    monkeypatch.setattr(rel, "_scan_splits", lambda p, m: 10_000)
    out2 = rel._spread(spark, df, f"{SF}/documents.parquet")
    assert out2 is df
    # unknown size: conservative no-op
    monkeypatch.setattr(rel, "_scan_splits", lambda p, m: None)
    assert rel._spread(spark, df, f"{SF}/documents.parquet") is df
