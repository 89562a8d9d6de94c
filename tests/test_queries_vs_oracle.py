"""Driver-gate simulation: every queries() entry vs its DuckDB oracle at
sf0.001 — row count, column names, and order-insensitive values must
match EXACTLY (the real driver compares value hashes at sf0.01)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(rows):
    out = []
    for r in rows:
        nr = []
        for v in r:
            if isinstance(v, float):
                if math.isnan(v):
                    nr.append("NaN")
                else:
                    nr.append(round(v, 9))
            else:
                nr.append(v)
        out.append(tuple(nr))
    return sorted(out, key=repr)


QUERY_NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(name, spark, duck):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        # rows-only check (driver's weaker path)
        assert sdf.count() >= 0
        return
    cols = sorted(sdf.columns)
    spark_rows = [tuple(row[c] for c in cols) for row in sdf.collect()]
    ores = duck.sql(oracles[name])
    ocols_all = ores.columns
    assert sorted(ocols_all) == cols, f"{name}: column names differ"
    idx = [ocols_all.index(c) for c in cols]
    duck_rows = [tuple(r[i] for i in idx) for r in ores.fetchall()]
    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    a, b = _norm(spark_rows), _norm(duck_rows)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"{name}: first mismatches {mismatches}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert sum(r["rows"] for r in rows) == 500  # sf0.001 documents


def test_chunk_tokens_no_phantom_chunks_for_empty_docs(spark, tmp_path):
    """Spark's sequence() REVERSES when stop < start, which produced
    phantom chunk_ids [0, -1] for null-text docs where DuckDB's
    generate_series is empty (review r5 #4).  Both engines must emit
    identical chunks for empty/whitespace/null text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastparquet_spark.analytics.registry import ORACLES
    from fastparquet_spark.analytics.text import text_chunk_tokens

    d = tmp_path / "sf"
    d.mkdir()
    t = pa.table({
        "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
        "text": pa.array(["hello world " * 30, "", "   ", None]),
        "lang": pa.array(["en"] * 4),
        "source": pa.array(["s"] * 4),
        "n_chars": pa.array([1, 0, 3, 0], pa.int64()),
    })
    pq.write_table(t, str(d / "documents.parquet"))
    sdf = text_chunk_tokens(spark, str(d))
    srows = sorted(tuple(r) for r in
                   sdf.select("doc_id", "chunk_id", "chunk_text",
                              "n_words").collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{d}/documents.parquet'")
    orows = sorted(tuple(r) for r in con.sql(
        ORACLES["text_chunk_tokens"]).fetchall())
    assert srows == orows
    assert all(cid >= 0 for _d, cid, _t, _n in srows)


def test_rle_runs_null_values_match_oracle(spark, tmp_path):
    """(r5 review) the chunk-boundary stitch must fire only on each
    chunk's FIRST row — coalescing any NULL lag() pulled the previous
    chunk's value into mid-chunk NULL positions, miscounting runs on
    null-bearing columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastparquet_spark.analytics.registry import ORACLES
    from fastparquet_spark.analytics.relational import q_rle_runs

    d = str(tmp_path)
    t = pa.table({
        "event_id": pa.array(range(8), pa.int64()),
        "ts": pa.array([0] * 8, pa.timestamp("us")),
        "user_id": pa.array([1] * 8, pa.int64()),
        "event_type": pa.array(["a", None, "b", "b", None, None,
                                "a", "a"]),
        "value": pa.array([0.0] * 8),
        "props": pa.array(["{}"] * 8),
    })
    pq.write_table(t, f"{d}/events.parquet")
    srows = sorted((tuple(r) for r in
                    q_rle_runs(spark, d, chunk_rows=3).collect()),
                   key=repr)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    orows = sorted((tuple(r) for r in
                    con.sql(ORACLES["q_rle_runs"]).fetchall()), key=repr)
    assert srows == orows


def test_every_query_has_a_nonnone_oracle():
    """The registry docstring's claim stays true: every queries() key
    carries a non-None oracle_sql() entry (the strong hash gate — no
    rows-only checks)."""
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(qs) == set(os_)
    assert all(isinstance(v, str) and v.strip() for v in os_.values())


@pytest.mark.parametrize("n_hashes,bands", [(64, 8), (16, 4)])
def test_lsh_pairs_production_params_vs_oracle(spark, duck, n_hashes,
                                               bands):
    """The (n_hashes, bands) parameterization must stay oracle-exact at
    production-shaped values, not just the gate-scale defaults — the
    Spark banding math and the SQL generator take the parameters
    through the same formulas (r6 verdict #7)."""
    from fastparquet_spark.analytics import dedup
    from fastparquet_spark.analytics.registry import minhash_lsh_pairs_sql

    sdf = dedup.dedup_minhash_lsh_pairs(spark, SF_DIR, n_hashes, bands)
    spark_rows = {(r.doc_a, r.doc_b) for r in sdf.collect()}
    duck_rows = {tuple(r) for r in duck.sql(
        minhash_lsh_pairs_sql(n_hashes, bands)).fetchall()}
    assert spark_rows == duck_rows
    # 64x8 (8 rows/band) is MORE selective than the 8x2 gate default
    # (4 rows/band): candidates must not grow
    base = {(r.doc_a, r.doc_b)
            for r in dedup.dedup_minhash_lsh_pairs(spark, SF_DIR).collect()}
    if (n_hashes, bands) == (64, 8):
        assert len(spark_rows) <= len(base)


def test_lsh_clusters_production_params_vs_oracle(spark, duck):
    from fastparquet_spark.analytics import dedup
    from fastparquet_spark.analytics.registry import dedup_clusters_sql

    sdf = dedup.dedup_clusters(spark, SF_DIR, n_hashes=64, bands=8)
    spark_rows = {(r.doc_id, r.cluster) for r in sdf.collect()}
    duck_rows = {tuple(r) for r in duck.sql(dedup_clusters_sql(64, 8))
                 .fetchall()}
    assert spark_rows == duck_rows


def test_engine_query_copies_removed_at_exit(spark):
    """The engine queries encode into one per-process scratch parent;
    its exit hook removes every copy (the queries return lazy
    DataFrames, so the files must outlive the call)."""
    import os

    from fastparquet_spark.analytics import registry

    registry.QUERIES["engine_roundtrip_agg"](spark, SF_DIR).collect()
    root = registry._scratch_root
    assert root is not None and os.listdir(root)
    registry.remove_scratch()
    assert not os.path.exists(root)
    assert registry._scratch_root is None
